"""backfill_mixed: the ``--once`` drain.  A mixed backlog is landed with
``LandingWriter`` outside the timed region, then drained by
``StreamingCollector.start(available_now=True)`` until the query ends.

A run drains equal backlogs one after another, each into a fresh landing
zone, checkpoint and sinks.  The first ``warmup_drains`` are untimed: a
small drain does not JIT-compile the paths a full-size batch takes, and
drain time kept falling over the first three or four full-size drains
(the first ran about 40% slower than the later ones).  Then
``--seconds / seconds_per_drain`` timed drains follow (at least
``min_drains``), a fixed amount of work for a given run length, and the
run reports the median timed drain's throughput."""

from __future__ import annotations

import datetime as dt
import os
import time

from opensnowcat_collector_spark.server import LandingWriter

from . import collector, trace
from .common import median, note, pct, start_spark, tree_cpu_s
from .traffic import Traffic, raw_row, reconcile

BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z: request i is stamped BASE_MS + i


def land(landing: str, specs: list[dict], tracer=None) -> int:
    """Append the raw-request rows of ``specs`` and publish every file.
    Files rotate at the writer's default row count; time rotation is off
    so that the same seed lands the same files."""
    writer = LandingWriter(landing, rotate_secs=3600)
    if tracer is not None:
        trace.wrap_method(tracer, writer, "append", "server.append", lambda row: row["request_id"])
    try:
        for s in specs:
            ts = dt.datetime.fromtimestamp((BASE_MS + s["i"]) / 1000, dt.timezone.utc)
            writer.append(raw_row(s, ts.isoformat()))
    finally:
        writer.close()
    return len(os.listdir(landing))


def drain(col: collector.Collector) -> float:
    """Drain ``col``'s landing zone as ``--once`` does (default
    ``maxFilesPerTrigger``); returns the drain's wall seconds."""
    t0 = time.perf_counter()
    q = col.start(available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return time.perf_counter() - t0


def run(ctx) -> dict:
    w = ctx.w
    cfg = collector.collector_config(w["collector"])
    n = w["requests_per_drain"]
    warm = Traffic(ctx.seed, w["mix"], oversize=w["oversize"], prefix="wu")
    warm_specs = [warm.request(i, BASE_MS + i) for i in range(w["warmup_requests"])]
    layers: dict[str, float] = {}
    setups: list[float] = []
    spark = col = None
    for k in range(ctx.setups):
        if col is not None:
            col.stop()
            spark.stop()
        t0 = ctx.t0 if k == 0 else time.perf_counter()
        spark = start_spark("perfbench-backfill")
        if k == 0:
            layers["session.spark_start_s"] = time.perf_counter() - t0
        # ready = a small drain delivered: ships the package, starts Python
        # workers for the split stage and compiles the pipeline's plans
        col = collector.Collector(spark, cfg, ctx.run.sub(f"warm{k}"))
        land(col.landing, warm_specs)
        drain(col)
        setups.append(time.perf_counter() - t0)
        note(ctx.t0, f"set-up {k + 1} took {setups[-1]:.2f}s")
    col.stop()

    tracer = ctx.tracer
    traffic = Traffic(ctx.seed, w["mix"], oversize=w["oversize"])
    timed = max(w["min_drains"], round(ctx.seconds / w["seconds_per_drain"]))
    rates: list[float] = []
    cpu_rates: list[float] = []
    attempted = failed = events = 0
    warmup = w["warmup_drains"]
    for d in range(warmup + timed):
        specs = [traffic.request(i, BASE_MS + i) for i in range(d * n, (d + 1) * n)]
        col = collector.Collector(spark, cfg, ctx.run.sub(f"drain{d}"))
        traced = tracer is not None and d == warmup  # layer metrics from the first timed drain
        files = land(col.landing, specs, tracer if traced else None)
        if traced:
            saved = collector.originals()
            collector.instrument(tracer, spark, col, ctx.run.sub("split"))
        cpu = tree_cpu_s()
        wall = drain(col)
        cpu = tree_cpu_s() - cpu
        col.stop()
        check = reconcile(specs, *col.sinks())
        attempted += check["events"]
        failed += check["failed"]
        events += check["events"]
        note(ctx.t0, f"drain {d}: {n} requests in {files} files, {wall:.2f}s, "
                     f"{check['ok'] / wall:.0f} events/s, {cpu:.2f} cpu s")
        if d < warmup:
            continue
        rates.append(check["ok"] / wall)
        cpu_rates.append(check["ok"] / cpu)
        if traced:
            layers["server.append_ms_p50"] = 1000 * median(tracer.durations("server.append"))
            layers["server.append_ms_p99"] = 1000 * pct(tracer.durations("server.append"), 99)
            layers["server.landing_files"] = files
            layers["server.rows_per_file"] = n / max(files, 1)
            layers.update(collector.stream_layers(tracer, spark, col, n, check["events"],
                                                  ctx.run.sub("split")))
            collector.uninstrument(saved)
            attempted += 1
            failed += collector.parts_failed(layers)
    spark.stop()
    e2e = {"setup_s": median(setups), "throughput_per_cpu_s": median(cpu_rates)}
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "invalid": None,
        "extra": {"events_per_s": (median(rates), "1/s")},
        "samples": {"drains": len(rates), "requests_per_drain": n, "events": events},
    }
