"""The collector under test, assembled the way ``__main__`` wires it, plus
the readers that turn its progress records and sinks into timings."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import threading
import time

from opensnowcat_collector_spark import pipeline
from opensnowcat_collector_spark.config import BufferConfig, CollectorConfig, SinkConfig
from opensnowcat_collector_spark.sinks import ParquetSink
from opensnowcat_collector_spark.streaming.job import StreamingCollector
from opensnowcat_collector_spark.streaming.listeners import MetricsListener
from opensnowcat_collector_spark.transforms import split

from . import trace
from .common import median
from .traffic import EID_RE, count_rows, good_eids, read_rows

GOOD_COLUMNS = ["querystring", "body", "timestamp"]
BAD_COLUMNS = ["kind", "payload", "actual_size_bytes"]
PARTS_TOLERANCE = 0.10


def collector_config(c: dict) -> CollectorConfig:
    def sink(kind: str) -> SinkConfig:
        return SinkConfig(kind=kind, max_bytes=c["max_bytes"],
                          buffer=BufferConfig(time_limit_ms=c.get("buffer_time_limit_ms", 5000)))

    return CollectorConfig(
        good_sink=sink(c["good_sink"]),
        bad_sink=sink(c["bad_sink"]),
        enable_amplitude_bridge=c.get("enable_amplitude_bridge", False),
        enable_analyticsjs_bridge=c.get("enable_analyticsjs_bridge", False),
    )


class Collector:
    """Streaming job + parquet sinks + listener on one session, with every
    directory under ``base``."""

    def __init__(self, spark, cfg: CollectorConfig, base: str):
        self.spark = spark
        self.base = base
        self.landing = os.path.join(base, "landing")
        self.good_dir = os.path.join(base, "good")
        self.bad_dir = os.path.join(base, "bad")
        os.makedirs(self.landing, exist_ok=True)
        self.good = ParquetSink(self.good_dir, max_bytes=cfg.good_sink.max_bytes)
        self.bad = ParquetSink(self.bad_dir, max_bytes=cfg.bad_sink.max_bytes)
        self.listener = MetricsListener()
        spark.streams.addListener(self.listener)
        self.job = StreamingCollector(spark, cfg, self.good, self.bad)
        self.query = None
        self.first_traced = 0  # progress records before instrument() are warm-up

    def start(self, available_now: bool = False):
        """Start the stream over the landing zone with the package's
        default trigger settings."""
        src = self.job.source_from_files(self.landing)
        self.query = self.job.start(src, os.path.join(self.base, "ckpt"), available_now=available_now)
        return self.query

    def wait_ready(self, timeout_s: float = 60) -> None:
        """Block until the stream has initialised its source and waits for data."""
        deadline = time.monotonic() + timeout_s
        while self.query.status["message"] != "Waiting for data to arrive":
            if time.monotonic() > deadline:
                raise RuntimeError(f"stream not ready: {self.query.status}")
            time.sleep(0.01)

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            # stopping mid-trigger interrupts a sink write; wait for a gap
            deadline = time.monotonic() + 10
            while self.query.status["isTriggerActive"] and time.monotonic() < deadline:
                time.sleep(0.01)
            self.query.stop()
        self.spark.streams.removeListener(self.listener)

    def wait_rows(self, n: int, timeout_s: float) -> bool:
        """Poll the good sink until it holds ``n`` committed rows."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if count_rows(self.good_dir) >= n:
                return True
            if self.query is not None and self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.05)
        return False

    def sinks(self) -> tuple[list[dict], list[dict]]:
        return read_rows(self.good_dir, GOOD_COLUMNS), read_rows(self.bad_dir, BAD_COLUMNS)


def _epoch_s(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def batches(query) -> list[dict]:
    """Non-empty micro-batches from the query's progress records: start
    and end (start + triggerExecution), epoch seconds."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        start = _epoch_s(p.timestamp)
        out.append({"start": start, "end": start + p.durationMs["triggerExecution"] / 1000.0})
    return sorted(out, key=lambda b: b["start"])


def delivery_times(good: list[dict], bats: list[dict]) -> dict[str, tuple[float, float]]:
    """Event id -> (start, end) of the micro-batch that wrote it.  A good
    row's collector ``timestamp`` is taken while its batch runs, so the
    batch is the latest one started at or before it."""
    out: dict[str, tuple[float, float]] = {}
    starts = [b["start"] for b in bats]
    for row in good:
        ts = row["timestamp"] / 1000.0 + 0.001
        k = max((i for i, s in enumerate(starts) if s <= ts), default=None)
        if k is None:
            continue
        for e in good_eids(row["querystring"], row["body"]):
            out[e] = (bats[k]["start"], bats[k]["end"])
    return out


# -- traced-run layer metrics ---------------------------------------------------

class LandingWatch:
    """Records when each landing file first becomes visible (published)."""

    def __init__(self, landing: str, interval_s: float = 0.01):
        self.landing = landing
        self.seen: dict[str, float] = {}
        self.before = set(os.listdir(landing))  # warm-up files
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval_s,), daemon=True)
        self._thread.start()

    def _loop(self, interval_s: float) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(interval_s)

    def poll(self) -> None:
        now = time.time()
        for name in os.listdir(self.landing):
            if name.endswith(".json") and name not in self.before:
                self.seen.setdefault(name, now)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(2)
        self.poll()

    def file_eids(self) -> dict[str, list[str]]:
        out = {}
        for name in self.seen:
            with open(os.path.join(self.landing, name), encoding="utf-8") as f:
                out[name] = EID_RE.findall(f.read())
        return out


def instrument(tracer: trace.Tracer, spark, col: Collector, split_dir: str) -> None:
    """Wrap the streaming entry points of ``col`` for a traced run; later
    layer metrics cover only the batches after this call."""
    col.first_traced = len(col.listener.progress_events)
    batch_no = itertools.count()
    inner_run = pipeline.run

    def traced_run(raw, cfg):
        k = next(batch_no)
        spark.sparkContext.setJobGroup(f"perfbench-batch-{k}", "perfbench batch")
        t0 = time.time()
        try:
            return inner_run(raw, cfg)
        finally:
            tracer.add("pipeline.run", f"batch-{k}", t0, time.time(), group=f"perfbench-batch-{k}")

    pipeline.run = traced_run
    os.makedirs(split_dir, exist_ok=True)
    split.make_split_map_fn = trace.traced_split_factory(split.make_split_map_fn, split_dir)
    for sink, name, path in ((col.good, "sinks.good.write", col.good_dir),
                             (col.bad, "sinks.bad.write", col.bad_dir)):
        _wrap_sink(tracer, sink, name, path)


def _wrap_sink(tracer, sink, name, path) -> None:
    inner = sink.write
    calls: dict[int, int] = {}

    def write(df, epoch_id=0):
        before = _files(path)
        calls[epoch_id] = calls.get(epoch_id, 0) + 1
        t0 = time.time()
        try:
            return inner(df, epoch_id)
        finally:
            tracer.add(name, f"epoch-{epoch_id}", t0, time.time(),
                       files=len(_files(path) - before), retry=calls[epoch_id] > 1)

    sink.write = write


def _files(path: str) -> set[str]:
    return {n for n in os.listdir(path) if n.endswith(".parquet")} if os.path.isdir(path) else set()


def uninstrument(originals: dict) -> None:
    pipeline.run = originals["run"]
    split.make_split_map_fn = originals["split"]


def originals() -> dict:
    return {"run": pipeline.run, "split": split.make_split_map_fn}


def stream_layers(tracer, spark, col: Collector, landed_rows: int, events: int,
                  split_dir: str) -> dict:
    """streaming / pipeline / split / sinks metrics of one traced run."""
    last = max((p.batchId for p in col.query.recentProgress), default=-1)
    deadline = time.monotonic() + 10  # listener events arrive asynchronously
    while (not col.listener.progress_events or col.listener.progress_events[-1]["batch_id"] < last) \
            and time.monotonic() < deadline:
        time.sleep(0.05)
    prog = [p for p in col.listener.progress_events[col.first_traced:] if p["num_input_rows"]]
    dur = [p["duration_ms"] for p in prog]
    trig = [d.get("triggerExecution", 0) for d in dur]
    add = [d.get("addBatch", 0) for d in dur]
    # reconciliation: Spark's durationMs parts against triggerExecution
    miss = [abs(1 - sum(v for k, v in d.items() if k != "triggerExecution") / d["triggerExecution"])
            for d in dur if d.get("triggerExecution")]
    jobs = [trace.group_jobs(spark, s["group"])[0] for s in tracer.spans if s["name"] == "pipeline.run"]
    sp = trace.read_split_stats(split_dir)
    writes = [s for s in tracer.spans if s["name"] in ("sinks.good.write", "sinks.bad.write")]
    good_bytes = sum(os.path.getsize(os.path.join(col.good_dir, f)) for f in _files(col.good_dir))
    return {
        "streaming.batches": len(prog),
        "streaming.rows_per_batch_p50": median([p["num_input_rows"] for p in prog]),
        "streaming.trigger_ms_p50": median(trig),
        "streaming.add_batch_ms_p50": median(add),
        "streaming.overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        "streaming.parts_miss_max": max(miss, default=0.0),
        "streaming.scan_amplification": sum(p["num_input_rows"] for p in prog) / max(landed_rows, 1),
        "pipeline.build_ms_p50": 1000 * median(tracer.durations("pipeline.run")),
        "pipeline.jobs_per_batch": median(jobs),
        "split.payloads_in": sp["in"],
        "split.payloads_out": sp["good"],
        "split.bad_out": sp["bad"],
        "split.py_busy_s": sp["busy_s"],
        "sinks.good_write_s_p50": median(tracer.durations("sinks.good.write")),
        "sinks.bad_write_s_p50": median(tracer.durations("sinks.bad.write")),
        "sinks.bytes_per_event": good_bytes / max(events, 1),
        "sinks.files_per_epoch": median([s["files"] for s in writes]) if writes else 0.0,
        "sinks.retries": sum(1 for s in writes if s["retry"]),
    }


def parts_failed(layers: dict) -> int:
    """1 when some traced batch's ``durationMs`` parts miss its
    ``triggerExecution`` by more than ``PARTS_TOLERANCE``, else 0."""
    return int(layers["streaming.parts_miss_max"] > PARTS_TOLERANCE)


def landing_layers(watch: LandingWatch, delivered: dict, due: dict[str, float]) -> dict:
    """server landing metrics and the streaming queue wait, per file."""
    files = watch.file_eids()
    rows = sum(len(set(e.split("-")[1] for e in eids)) for eids in files.values())
    publish_wait, queue_wait = [], []
    for name, eids in files.items():
        published = watch.seen[name]
        publish_wait += [published - due[e] for e in eids if e in due]
        starts = [delivered[e][0] for e in eids if e in delivered]
        if starts:
            queue_wait.append(min(starts) - published)
    return {
        "server.landing_files": len(files),
        "server.rows_per_file": rows / max(len(files), 1),
        "server.publish_wait_p50_s": median(publish_wait),
        "streaming.queue_wait_p50_s": median(queue_wait),
    }

