"""Traced-run instrumentation, applied from outside the package.

Wrappers go around public entry points only (``LandingWriter.append``,
``pipeline.run``, ``split.make_split_map_fn``, ``Sink.write``, the query
builders); Spark supplies the rest through ``MetricsListener`` progress
records, ``QueryPlanningTracker`` phases and its status store.  Spans stay
in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time


class Tracer:
    """In-memory span store.  A span is ``(name, id, parent, start, end,
    attrs)``; spans of one request, batch or query share ``id``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, span_id: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        with self._lock:
            self.spans.append({"name": name, "id": span_id, "parent": parent,
                               "start": start, "end": end, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def wrap_method(tracer: Tracer, obj, attr: str, name: str, span_id) -> None:
    """Replace ``obj.attr`` with a timing wrapper recording span ``name``.
    ``span_id(*args)`` derives the span id from the call's arguments."""
    inner = getattr(obj, attr)

    def wrapper(*args, **kwargs):
        t0 = time.time()
        try:
            return inner(*args, **kwargs)
        finally:
            tracer.add(name, span_id(*args), t0, time.time())

    setattr(obj, attr, wrapper)


# -- the split stage: runs in Python workers ------------------------------------

def traced_split_factory(inner_factory, out_dir: str):
    """``make_split_map_fn`` replacement whose map function appends one
    line per pandas batch — busy seconds, payloads in, good and bad rows
    out — to a per-worker file under ``out_dir``."""

    def factory(cfg, max_bytes):
        fn = inner_factory(cfg, max_bytes)

        def timed_fn(batches):
            path = os.path.join(out_dir, f"split-{os.getpid()}.jsonl")
            busy = 0.0
            n_in = n_good = n_bad = 0
            it = iter(batches)
            while True:
                pdf = next(it, None)
                if pdf is None:
                    break
                t0 = time.perf_counter()
                outs = list(fn(iter([pdf])))
                busy += time.perf_counter() - t0
                n_in += len(pdf)
                for out in outs:
                    bad = int(out["is_bad"].sum()) if len(out) else 0
                    n_bad += bad
                    n_good += len(out) - bad
                    yield out
            with open(path, "a", encoding="utf-8") as f:
                f.write(json.dumps({"busy_s": busy, "in": n_in, "good": n_good, "bad": n_bad}) + "\n")

        return timed_fn

    return factory


def read_split_stats(out_dir: str) -> dict:
    tot = {"busy_s": 0.0, "in": 0, "good": 0, "bad": 0}
    if not os.path.isdir(out_dir):
        return tot
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                for k in tot:
                    tot[k] += rec[k]
    return tot


# -- Spark's own accounting ----------------------------------------------------

def stage_totals(spark, stage_ids) -> dict:
    """Shuffle bytes, spill and completed tasks summed over ``stage_ids``,
    read from Spark's status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    tot = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
    for sid in stage_ids:
        try:
            attempts = store.stageData(int(sid), False, sc._jvm.java.util.ArrayList(),
                                       False, no_quantiles)
        except Exception:  # stage evicted from the store
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["tasks"] += st.numCompleteTasks()
    return tot


def group_jobs(spark, group: str) -> tuple[int, list[int]]:
    """(number of jobs, their stage ids) run under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: list[int] = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    return len(jobs), stages


def job_seconds(spark, groups) -> float:
    """Wall time covered by the jobs of ``groups``, as Spark's status store
    recorded them (submission to completion, overlaps counted once)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    spans = []
    for group in groups:
        for j in sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = store.job(int(j))
            except Exception:  # job evicted from the store
                continue
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
    covered, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered / 1000.0


def planning_phases_ms(df) -> dict:
    """Catalyst phase durations from the ``QueryPlanningTracker`` of an
    executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name) if phases.contains(name) else None
        out[name] = (p.get().durationMs() if p is not None else 0)
    return out
