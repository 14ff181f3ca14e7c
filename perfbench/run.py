#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation.

    python3 perfbench/run.py --workload ingest_pixel --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_pixel`` (open-loop HTTP traffic into the running
collector), ``backfill_mixed`` (availableNow drain of a pre-landed mixed
backlog), ``query_headline`` (warm engine queries over seeded tables).
Inputs derive from ``--seed``.  Outputs are checked; the last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics of a run
with the tracing wrappers on (``--trace 1``).  Exit status: 0 when every
check passed, 1 when one failed, 2 when the checkout lacks the program,
3 when the run is invalid (load generator late) and is not scored.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "opensnowcat_collector_spark"
WORKLOADS = {"ingest_pixel": "ingest", "backfill_mixed": "backfill", "query_headline": "queries"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: {ROOT} holds no {PACKAGE}/ and bench.py to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import common, metrics, trace

    rundir = common.RunDir(args.workload)
    config = common.load_config()
    rundir.configure_env(config["spark_cpus"])
    memory = common.PeakMemory().start()
    cpu0 = common.host_cpu()
    tracer = trace.Tracer() if args.trace else None
    ctx = SimpleNamespace(
        seed=args.seed, seconds=args.seconds, t0=T0, run=rundir, memory=memory, tracer=tracer,
        w=config["workloads"][args.workload], setups=config["setups"],
    )
    try:
        module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        res = module.run(ctx)
    finally:
        peak_mb = memory.stop()
        common.stop_jvm()
        rundir.remove()
    res["layers"]["session.peak_pss_mb"] = peak_mb
    res["extra"]["peak_pss_mb"] = (peak_mb, "MB")
    cpu1 = common.host_cpu()
    res["extra"]["host_steal_share"] = ((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), "ratio")

    for name, (value, unit) in res["extra"].items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    share = res["failed"] / max(res["attempted"], 1)
    print(f"# {args.workload} error_share = {share:.6g} ratio ({res['failed']}/{res['attempted']})")
    print(f"# {args.workload} samples: {json.dumps(res['samples'])}")
    if res["invalid"]:
        print(f"perfbench: invalid run, not scored: {res['invalid']}", file=sys.stderr)
        return 3

    if tracer is not None:
        layers = dict(res["layers"])
        layers.update({"trace.throughput_per_cpu_s": res["e2e"]["throughput_per_cpu_s"],
                       "trace.spans": len(tracer.spans)})
        tracer.dump(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
        table, values = metrics.PER_LAYER, layers
    else:
        table, values = metrics.END_TO_END, res["e2e"]
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit, _ in table},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
