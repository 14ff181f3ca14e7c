"""ingest_pixel: open-loop tracker traffic over HTTP into the running
collector (``CollectorServer`` + ``StreamingCollector`` in one process,
as ``__main__`` wires them)."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import time

from opensnowcat_collector_spark.server import CollectorServer

from . import collector, trace
from .common import BENCH_DIR, median, note, pct, start_spark, tree_cpu_s
from .traffic import Traffic, headers_of, reconcile


class Sut:
    def __init__(self, spark, cfg, w: dict, base: str):
        c = w["collector"]
        self.col = collector.Collector(spark, cfg, base)
        self.server = CollectorServer(cfg, self.col.landing, port=0, sinks=(self.col.good, self.col.bad))
        # Small landing files: with the default 2 s time rotation the file
        # cadence beats against the ~2 s batch cycle, and freshness follows
        # the phase between them (interquartile range 30% over ten runs).
        self.server.writer.rotate_rows = c["landing_rotate_rows"]
        self.server.start()
        self.col.start()
        self.col.wait_ready()

    def warm(self, seed: int, n: int) -> None:
        """Send ``n`` requests and wait for them in the good sink, so the
        first measured batch finds shipped code and compiled plans."""
        t = Traffic(seed, {"pixel": 1, "tp2": 1}, prefix="wu")
        for i in range(n):
            spec = t.request(i, int(time.time() * 1000))
            conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=10)
            url = spec["path"] + (f"?{spec['query']}" if spec["query"] else "")
            conn.request(spec["method"], url, body=spec["body"], headers=headers_of(spec))
            conn.getresponse().read()
            conn.close()
        self.server.writer.flush()
        if not self.col.wait_rows(n, 120):
            raise RuntimeError("warm-up requests never reached the good sink")

    def stop(self) -> None:
        self.col.stop()
        self.server.stop()


def run(ctx) -> dict:
    w = ctx.w
    cfg = collector.collector_config(w["collector"])
    layers: dict[str, float] = {}
    setups: list[float] = []
    spark = sut = None
    for k in range(ctx.setups):
        if sut is not None:
            sut.stop()
            spark.stop()
        t0 = ctx.t0 if k == 0 else time.perf_counter()
        spark = start_spark("perfbench-ingest")
        if k == 0:
            layers["session.spark_start_s"] = time.perf_counter() - t0
        sut = Sut(spark, cfg, w, ctx.run.sub(f"sut{k}"))
        setups.append(time.perf_counter() - t0)
        note(ctx.t0, f"set-up {k + 1} took {setups[-1]:.2f}s")
    sut.warm(ctx.seed, w["warmup_requests"])
    note(ctx.t0, "warm")

    tracer = ctx.tracer
    if tracer is not None:
        saved = collector.originals()
        trace.wrap_method(tracer, sut.server.writer, "append", "server.append",
                          lambda row: row["request_id"])
        collector.instrument(tracer, spark, sut.col, ctx.run.sub("split"))
        watch = collector.LandingWatch(sut.col.landing)

    threads = min(w["loadgen_threads_max"], len(os.sched_getaffinity(0)))
    log_path = ctx.run.sub("loadgen.json")
    cpu = tree_cpu_s()
    gen = subprocess.Popen([
        sys.executable, os.path.join(BENCH_DIR, "loadgen.py"),
        "--port", str(sut.server.port), "--seed", str(ctx.seed),
        "--seconds", str(ctx.seconds), "--rate", str(w["rate_per_s"]),
        "--threads", str(threads), "--mix", json.dumps(w["mix"]),
        "--timeout", str(w["request_timeout_s"]), "--out", log_path,
    ])
    ctx.memory.exclude.add(gen.pid)
    try:
        gen.wait(timeout=ctx.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    with open(log_path, encoding="utf-8") as f:
        out = json.load(f)
    log = out["requests"]

    note(ctx.t0, "traffic done")
    ok = [r for r in log if 200 <= r["status"] < 300]
    sut.col.wait_rows(w["warmup_requests"] + len(ok), w["drain_timeout_s"])
    cpu = tree_cpu_s() - cpu - out["cpu_s"]
    note(ctx.t0, "drained")
    bats = collector.batches(sut.col.query)
    if tracer is not None:
        watch.stop()
    sut.col.stop()
    good, bad = sut.col.sinks()

    check = reconcile([{"eids": r["eids"], "bad_eids": [], "jumbo": {}} for r in ok], good, bad)
    delivered = collector.delivery_times(good, bats)
    due = {e: r["sched"] for r in log for e in r["eids"]}
    latency_ms = [1000 * (r["done"] - r["sched"]) for r in log]
    # the generator's own lateness: a request waiting for a free
    # connection is the collector's delay, already in its latency
    lag_ms = [1000 * (r["sent"] - max(r["sched"], r["picked"])) for r in log]
    fresh = [delivered[e][1] - due[e] for e in due if e in delivered]
    window = log[-1]["sched"] - log[0]["sched"] + 1 / w["rate_per_s"]
    e2e = {"setup_s": median(setups), "throughput_per_cpu_s": check["ok"] / cpu}
    # figures only this workload produces: printed on the "#" lines
    extra = {
        "throughput_per_s": (check["ok"] / window, "1/s"),
        "req_p50_ms": (pct(latency_ms, 50), "ms"),
        "req_p99_ms": (pct(latency_ms, 99), "ms"),
        "fresh_p50_s": (pct(fresh, 50), "s"),
        "fresh_p99_s": (pct(fresh, 99), "s"),
        "loadgen.lag_p99_ms": (pct(lag_ms, 99), "ms"),
    }
    attempted = len(log) + check["events"]
    failed = len(log) - len(ok) + check["failed"]
    if tracer is not None:
        layers["server.append_ms_p50"] = 1000 * median(tracer.durations("server.append"))
        layers["server.append_ms_p99"] = 1000 * pct(tracer.durations("server.append"), 99)
        landing = collector.landing_layers(watch, delivered, due)
        for name in ("server.publish_wait_p50_s", "streaming.queue_wait_p50_s"):
            extra[name] = (landing.pop(name), "s")
        layers.update(landing)
        layers.update(collector.stream_layers(tracer, spark, sut.col, len(ok),
                                              check["events"], ctx.run.sub("split")))
        collector.uninstrument(saved)
        attempted += 1
        failed += collector.parts_failed(layers)
    sut.server.stop()
    spark.stop()
    note(ctx.t0, "checked")

    invalid = None
    if extra["loadgen.lag_p99_ms"][0] > w["max_lag_p99_ms"]:
        invalid = f"load generator ran late: lag p99 {extra['loadgen.lag_p99_ms'][0]:.1f} ms"
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "invalid": invalid,
        "extra": extra,
        "samples": {"requests": len(log), "events": check["events"], "batches": len(bats),
                    "lag_p50_ms": round(pct(lag_ms, 50), 3),
                    "service_p50_ms": round(pct([1000 * (r["done"] - r["sent"]) for r in log], 50), 3)},
    }
