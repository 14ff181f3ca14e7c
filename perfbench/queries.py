"""query_headline: warm headline queries over seeded tables.

The query list is ``bench.HEADLINE`` filtered to the workload's
configured subset; each query is the ``bench.py`` action — builder call
plus ``count()`` — and its row count must equal its DuckDB oracle's on the
same tables."""

from __future__ import annotations

import time

from . import tables, trace
from .common import geomean, median, note, start_spark, tree_cpu_s
from .metrics import ENGINE_QUERIES

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_counts(data: str, names: list[str]) -> dict[str, int]:
    import duckdb

    from opensnowcat_collector_spark.engine import registry

    sql = registry.all_oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        return {q: len(con.execute(sql[q]).fetchall()) for q in names}
    finally:
        con.close()


def traced_query(spark, fn, data: str, group: str) -> dict:
    """One query with its builder and action under their own job groups;
    the action is ``count()`` spelled as the aggregate it runs, so its
    ``QueryPlanningTracker`` is reachable.  ``spark_s`` is the part of the
    wall time Spark itself accounts for: the counted frame's Catalyst
    phases plus the time its jobs ran, both from Spark's own records."""
    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobGroup(f"{group}-build", "build")
    df = fn(spark, data)
    t1 = time.time()
    sc.setJobGroup(f"{group}-exec", "exec")
    counted = df.groupBy().count()
    n = counted.collect()[0][0]
    t2 = time.time()
    sc.setJobGroup("perfbench", "idle")
    build_jobs, build_stages = trace.group_jobs(spark, f"{group}-build")
    _, exec_stages = trace.group_jobs(spark, f"{group}-exec")
    phases = trace.planning_phases_ms(counted)
    spark_s = sum(phases.values()) / 1000 + trace.job_seconds(spark, (f"{group}-build", f"{group}-exec"))
    return {"n": n, "t": (t0, t1, t2), "wall": t2 - t0, "build": t1 - t0, "exec": t2 - t1,
            "build_jobs": build_jobs, "phases": phases, "spark_s": spark_s,
            "stages": trace.stage_totals(spark, build_stages + exec_stages)}


def run(ctx) -> dict:
    import bench
    from opensnowcat_collector_spark.engine import registry

    w = ctx.w
    names = [q for q in bench.HEADLINE if q in w["queries"]]
    missing = sorted(set(w["queries"]) - set(names))
    if missing:
        raise ValueError(f"not in bench.HEADLINE: {missing}")
    layers: dict[str, float] = {}
    data = ctx.run.sub("tables")
    t = time.perf_counter()
    tables.write(data, ctx.seed, w["rows"])
    layers["session.tables_s"] = time.perf_counter() - t
    builders = registry.all_queries()

    setups: list[float] = []
    spark = None
    for k in range(ctx.setups):
        if spark is not None:
            spark.stop()
        t0 = ctx.t0 if k == 0 else time.perf_counter()
        spark = start_spark("perfbench-query")
        if k == 0:
            layers["session.spark_start_s"] = time.perf_counter() - t0
        builders[w["setup_query"]](spark, data).count()
        setups.append(time.perf_counter() - t0)
        note(ctx.t0, f"set-up {k + 1} took {setups[-1]:.2f}s")

    attempted = failed = 0
    counts: dict[str, set[int]] = {q: set() for q in names}

    def plain(q: str) -> float:
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            counts[q].add(builders[q](spark, data).count())
        except Exception as e:  # a broken query fails the run, not the benchmark
            failed += 1
            note(ctx.t0, f"{q} raised {type(e).__name__}: {str(e)[:200]}")
        return time.perf_counter() - t0

    t = time.perf_counter()
    for q in names:
        plain(q)
    layers["session.cold_pass_s"] = time.perf_counter() - t
    note(ctx.t0, f"cold pass {layers['session.cold_pass_s']:.2f}s")
    # untimed warm passes: pass time kept falling for three or four warm
    # passes after the cold one (by up to 40%) while the JIT caught up
    t = time.perf_counter()
    for _ in range(w["warmup_passes"]):
        for q in names:
            plain(q)
    note(ctx.t0, f"{w['warmup_passes']} warm-up passes {time.perf_counter() - t:.2f}s")

    times: dict[str, list[float]] = {q: [] for q in names}
    plain_times: dict[str, list[float]] = {q: [] for q in names}
    traced: dict[str, list[dict]] = {q: [] for q in names}
    # --seconds / seconds_per_pass full passes (at least two), a fixed
    # amount of work for a given run length: pass time still falls during
    # the first timed passes, and a time limit would let a faster host run
    # more of the faster late passes.  A traced run alternates untraced
    # and traced passes and reports the CPU time of the traced ones.
    passes = max(2, round(ctx.seconds / w["seconds_per_pass"]))
    pass_cpu: list[float] = []
    for p in range(passes):
        traced_pass = ctx.tracer is not None and p % 2 == 1
        cpu = tree_cpu_s()
        for q in names:
            if not traced_pass:
                (plain_times if ctx.tracer else times)[q].append(plain(q))
                continue
            attempted += 1
            try:
                r = traced_query(spark, builders[q], data, f"perfbench-{q}-{p}")
            except Exception as e:
                failed += 1
                note(ctx.t0, f"{q} raised {type(e).__name__}: {str(e)[:200]}")
                continue
            counts[q].add(r["n"])
            times[q].append(r["wall"])
            traced[q].append(r)
            t0, t1, t2 = r["t"]
            ctx.tracer.add("engine.query", q, t0, t2)
            ctx.tracer.add("engine.build", q, t0, t1, parent="engine.query", jobs=r["build_jobs"])
            ctx.tracer.add("engine.exec", q, t1, t2, parent="engine.query", **r["stages"])
        if traced_pass == (ctx.tracer is not None):
            pass_cpu.append(tree_cpu_s() - cpu)
    note(ctx.t0, f"{passes} timed passes: " + " ".join(
        f"{sum(times[q][k] for q in names):.2f}" for k in range(min(len(v) for v in times.values())))
        + "; cpu s: " + " ".join(f"{c:.2f}" for c in pass_cpu))
    spark.stop()

    expected = oracle_counts(data, names)
    attempted += len(names)
    wrong = [q for q in names if counts[q] != {expected[q]}]
    failed += len(wrong)
    if wrong:
        note(ctx.t0, "row counts differ from the oracle: " + ", ".join(
            f"{q} {sorted(counts[q])} != {expected[q]}" for q in wrong))

    per_query = [median(times[q]) for q in names if times[q]]
    note(ctx.t0, "per-query medians: " + ", ".join(f"{q} {median(times[q]):.3f}" for q in names if times[q]))
    total = sum(per_query)
    e2e = {
        "setup_s": median(setups),
        # work over the CPU time of all timed passes, not a median over
        # passes: a pass's CPU time still falls from pass to pass while the
        # JIT compiles, and a median of a falling series picks one point of it
        "throughput_per_cpu_s": len(names) * len(pass_cpu) / sum(pass_cpu),
    }
    if ctx.tracer is not None:
        layers.update(engine_layers(traced, plain_times))
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "invalid": None,
        "extra": {"throughput_per_s": (len(per_query) / total if total else 0.0, "1/s"),
                  "query_total_s": (total, "s"), "query_geomean_s": (geomean(per_query), "s")},
        "samples": {"queries": len(names), "passes": passes},
    }


def engine_layers(traced: dict[str, list[dict]], plain: dict[str, list[float]]) -> dict:
    """Per-query medians over traced passes, summed over queries.

    ``engine.unaccounted_share_max``: the largest share, over queries, of
    the traced wall time that Spark's own records (Catalyst phases, job
    run time) do not cover; ``trace.overhead_share``: traced over untraced
    total, less one."""
    def med(q, key):
        return median([r[key] for r in traced[q]])

    qs = [q for q in traced if traced[q] and plain[q]]
    build = sum(med(q, "build") for q in qs)
    exec_ = sum(med(q, "exec") for q in qs)
    out = {
        "engine.build_s": build,
        "engine.exec_s": exec_,
        "engine.build_share": build / (build + exec_) if build + exec_ else 0.0,
        "engine.build_jobs": sum(med(q, "build_jobs") for q in qs),
        "engine.unaccounted_share_max": max(
            median([1 - r["spark_s"] / r["wall"] for r in traced[q]]) for q in qs),
        "trace.overhead_share": sum(med(q, "wall") for q in qs) / sum(median(plain[q]) for q in qs) - 1,
        "engine.analysis_ms": sum(median([r["phases"]["analysis"] for r in traced[q]]) for q in qs),
        "engine.optimization_ms": sum(median([r["phases"]["optimization"] for r in traced[q]]) for q in qs),
        "engine.planning_ms": sum(median([r["phases"]["planning"] for r in traced[q]]) for q in qs),
    }
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks"):
        out[f"engine.{key}"] = sum(median([r["stages"][key] for r in traced[q]]) for q in qs)
    for q in ENGINE_QUERIES:
        if traced.get(q):
            out[f"engine.{q}.build_s"] = med(q, "build")
            out[f"engine.{q}.exec_s"] = med(q, "exec")
    return out
