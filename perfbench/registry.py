"""registry_batch: one closed-loop client running a panel of registry
queries (``plans.driver_queries.QUERIES``) into the noop sink, on tables
generated from the seed at the scale of the program's sf0.1 test data.
Each query's result is first compared with its DuckDB oracle
(``ORACLES``), outside the timed passes."""

from __future__ import annotations

import os
import random
import time
import traceback

import reference as ref
import workload

# query -> the layer whose code does most of its work, for self time.
# tpch_q1 is plain Spark SQL: the floor sentinel that no change to this
# program should move.
PANEL = {
    "tpch_q1": "plans",
    "w2_tumbling_sum": "operators",
    "asof_join_price": "operators",
    "st6_trader_ledger": "operators",
    "text_quality": "functions",
}
# Untimed passes after the oracle check. A query's time falls for its
# first three runs or so as the JVM compiles its code paths (on 4 cores at
# sf0.1, a pass took 24 s cold, 7 s, 4.4 s, then 3.6-4.0 s), so timing
# starts once every query has run WARM_PASSES + 1 times.
WARM_PASSES = 2
# Each query's time is the median of at least MIN_PASSES timed runs, so one
# slow run does not move it; the clock runs for at least the measured
# seconds.
MIN_PASSES = 3
SCALE_FACTOR = 0.1


def _oracle_failures(bench, data_dir, queries, oracles):
    """Run every panel query once, collect it, and compare the canonical
    row multiset and column names with its DuckDB oracle. Returns the
    names of the queries that error or mismatch."""
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    bad = []
    for name in PANEL:
        try:
            df = queries[name](bench.spark, data_dir)
            rows, cols = df.collect(), df.columns
            rel = con.sql(oracles[name])
            if (sorted(cols) != sorted(rel.columns)
                    or ref.canon(rows, cols) != ref.canon(rel.fetchall(), list(rel.columns))):
                bad.append(name)
        except Exception:  # a query that errors is a failed query
            bench.log(f"registry query {name} failed:\n{traceback.format_exc()}")
            bad.append(name)
    con.close()
    return bad


def _tasks_of_group(sc, group):
    tracker = sc.statusTracker()
    n = 0
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            stage = tracker.getStageInfo(sid)
            n += stage.numTasks if stage else 0
    return n


def run(bench):
    from mktd6_flink_spark.plans.driver_queries import ORACLES, QUERIES

    data_dir = os.path.join(bench.work, "data")
    workload.registry_tables(bench.seed, data_dir, SCALE_FACTOR)

    session_s = bench.start_session()
    bench.log("session started")

    def run_pass():
        t0 = time.perf_counter()
        for name in PANEL:
            QUERIES[name](bench.spark, data_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # The oracle check runs every panel query once: the first set-up pass,
    # which also starts the Python workers. Set-up time is the session
    # start plus the median time of the set-up passes.
    t0 = time.perf_counter()
    bad = _oracle_failures(bench, data_dir, QUERIES, ORACLES)
    times = [time.perf_counter() - t0]
    bench.log(f"oracle check: {len(bad)} failed")
    times += [run_pass() for _ in range(WARM_PASSES)]
    bench.log("set up: " + ", ".join(f"{t:.2f}s" for t in times))

    sc = bench.spark.sparkContext
    order = random.Random(bench.seed)
    per_query: dict[str, list[float]] = {q: [] for q in PANEL}
    groups: dict[str, str] = {}
    build_ms = []
    passes = 0
    t_start = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - t_start < bench.seconds:
        names = list(PANEL)
        order.shuffle(names)
        build = 0.0
        for name in names:
            group = f"{name}-{passes}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            with bench.tracer.span("registry_call", "plans", query=name):
                df = QUERIES[name](bench.spark, data_dir)
            t1 = time.perf_counter()
            with bench.tracer.span("noop_write", PANEL[name], query=name):
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            build += t1 - t0
            per_query[name].append(dt)
            groups[name] = group
        build_ms.append(build * 1000)
        passes += 1
    elapsed = time.perf_counter() - t_start
    bench.log(f"{passes} timed passes in {elapsed:.2f}s")
    sc.setJobGroup("", "")

    # A query's latency is its median over the passes; the percentiles run
    # over the panel's queries.
    medians = [ref.median(v) for v in per_query.values()]
    bench.log("query medians: " + ", ".join(
        f"{q} {m:.2f}s" for q, m in zip(per_query, medians)))
    result = {
        "attempted": len(PANEL), "failed": len(bad),
        "setup_s": session_s + ref.median(times),
        "latency_p50_s": ref.percentile(medians, 50),
        "latency_p90_s": ref.percentile(medians, 90),
        "throughput_per_s": passes * len(PANEL) / elapsed,
    }
    if bench.tracer.enabled:
        layers = {f"batch.{q}_s": m for q, m in zip(per_query, medians)}
        # Counted after the clock stops: the status calls are the
        # benchmark's own bookkeeping, not the program's work.
        layers.update({f"batch.{q}.tasks": _tasks_of_group(sc, g)
                       for q, g in groups.items()})
        layers["batch.plan_build_ms"] = ref.median(build_ms)
        result["layers"] = layers
    return result
