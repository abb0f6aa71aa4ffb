"""registry_slice: a fixed list of registered queries over generated
TPC-H-shaped tables, each timed as ``fn()`` + ``count()`` like bench.py.

The list holds one or more queries of every family, for the layers no
other workload reaches: a TPC-H aggregate, time-series scan, merge and
OHLC, a Delta MERGE (log replay, dedup guard, commit), a streaming
aggregation that starts and drains, and SimHash dedup (one of the two
0.85x watch items of the last round).

Order of work in a run:
  1. set-up: write the tables as parquet, SETUP_REPS times;
  2. check pass (untimed): each query's rows against its DuckDB oracle
     in ``marketdb_spark.oracle``; this pass is also the JIT warm-up;
  3. timed window: whole passes over the list, ``fn()`` then
     ``count()``: at least MIN_PASSES, more while they fit in ``--seconds``.
     Each count must equal the row count the check pass saw.
One latency sample is one pass over the list. registry_total_s is the
sum of the per-query medians over the passes, and the throughput is
queries per second of that total.
Each result is evaluated exactly once and its persisted blocks are
released right after (bench.py's ``_release_persisted`` invariant), so
no released result is ever evaluated again.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import SETUP_REPS, Ctx, Outcome
from perfbench.trace import add_jobs, gc_seconds, heap_mb, last_job_id, spark_jobs

QUERIES = (
    "q01_pricing_summary",
    "ts_scan_series",
    "ts_merge_series",
    "ts_ohlc_hourly",
    "store_delta_merge",
    "stream_tumbling_hourly",
    "dedup_simhash_pairs",
)
FAMILIES = ("tpch", "ts", "store", "stream", "dedup")
# one pass is one latency sample; with fewer passes per run, one slow
# pass moved the run's figures: the tail (run.py's TAIL_PCT, the second
# slowest of four) needs a pass above it
MIN_PASSES = 4
SCALE = {"bench": 1.0, "tiny": 0.2}


def family(name: str) -> str:
    return "tpch" if name[0] == "q" and name[1:3].isdigit() else name.split("_")[0]


def release(spark, name: str) -> None:
    """Drop the blocks a query pinned, and stream state after a stream
    query, so queries stay independent (as bench.py does)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    if name.startswith("stream_"):
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()


def run(ctx: Ctx) -> Outcome:
    from marketdb_spark.oracle import compare, duckdb_connection
    from marketdb_spark.queries import REGISTRY

    spark, tracer = ctx.spark, ctx.tracer
    tables = gen.registry_tables(ctx.seed, SCALE[ctx.scale])
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = ctx.work / f"sf{rep}"
        sf_dir.mkdir()
        for name, table in tables.items():
            pq.write_table(table, sf_dir / f"{name}.parquet")
        reps.append(time.perf_counter() - t0)
    sf = str(sf_dir)

    failures, expected_rows, check_s = [], {}, {}
    con = duckdb_connection(sf)
    for name in QUERIES:
        spec = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            res = compare(name, spec.fn(spark, sf), spec.oracle, con)
        except Exception as exc:  # a query that fails is a failed operation
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        finally:
            release(spark, name)
            check_s[name] = time.perf_counter() - t0
        expected_rows[name] = res.row_count
        if not res.ok:
            failures.append(f"{name}: {'; '.join(res.problems)}")
    con.close()

    first_job = last_job_id(spark) if tracer.enabled else -1
    gc0 = gc_seconds(spark)
    runs: list[tuple[str, float, float, float]] = []  # (name, t0, t_fn, t_count)
    start = time.perf_counter()
    passes = 0
    # whole passes; past MIN_PASSES, another only if it should end inside the window
    while passes < MIN_PASSES or (time.perf_counter() - start) * (passes + 1) / passes <= ctx.seconds:
        passes += 1
        for name in QUERIES:
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            release(spark, name)
            runs.append((name, t0, t1, t2))
            if name in expected_rows and n != expected_rows[name]:
                failures.append(f"{name}: timed count {n} != checked rows {expected_rows[name]}")
    gc_s = gc_seconds(spark) - gc0
    heap = heap_mb(spark)

    per_query = defaultdict(list)
    for name, t0, _, t2 in runs:
        per_query[name].append(t2 - t0)
    medians = {name: statistics.median(v) for name, v in per_query.items()}
    total = sum(medians.values())
    pass_s = [sum(t2 - t0 for _, t0, _, t2 in runs[k : k + len(QUERIES)])
              for k in range(0, len(runs), len(QUERIES))]
    layers = {"spark.gc_s": gc_s}
    if tracer.enabled:
        layers.update(layer_metrics(ctx, runs, first_job))
    return Outcome(
        setup_reps=reps,
        latencies_ms=[1000 * v for v in pass_s],
        throughput=len(QUERIES) / total,
        heap_mb=heap,
        attempted=len(QUERIES) + len(runs),
        failed=len(failures),
        failures=failures,
        layers=layers,
        detail={
            "queries": list(QUERIES),
            "registry_total_s": total,
            "passes": passes,
            "query_median_s": medians,
            "check_pass_s": check_s,
            "executions": len(runs),
            "lineitem_rows": tables["lineitem"].num_rows,
        },
    )


def layer_metrics(ctx: Ctx, runs, first_job: int) -> dict:
    """Construct / materialize split and Spark job counts per family, per
    pass of the list (sum over the family's queries of the per-query
    mean). Queries run one at a time, so a job belongs to the query
    whose window holds its submission."""
    tracer = ctx.tracer
    jobs = spark_jobs(ctx.spark, first_job)
    per = defaultdict(lambda: defaultdict(list))
    for name, t0, t1, t2 in runs:
        root = tracer.add("queries.run", t0, t2, rid=name)
        for phase, a, b in (("queries.construct", t0, t1), ("queries.materialize", t1, t2)):
            span = tracer.add(phase, a, b, root, name)
            mine = [j for j in jobs if a <= j.start < b]
            add_jobs(tracer, span, mine)
            key = phase.split(".")[1]
            per[name][key].append(b - a)
            per[name][f"{key}_jobs"].append(len(mine))
            per[name][f"{key}_tasks"].append(sum(j.tasks for j in mine))
    out = {}
    for fam in FAMILIES:
        names = [n for n in per if family(n) == fam]

        def total(key):
            return sum(statistics.mean(per[n][key]) for n in names)

        out[f"queries.construct_s.{fam}"] = total("construct")
        out[f"queries.materialize_s.{fam}"] = total("materialize")
        out[f"queries.spark_jobs.{fam}"] = total("construct_jobs") + total("materialize_jobs")
        out[f"queries.spark_tasks.{fam}"] = total("construct_tasks") + total("materialize_tasks")
    roots = [s for s in tracer.spans if s.name == "queries.run"]
    selfs = tracer.self_times(roots)
    wall = sum(s.dur for s in roots)
    # fn() and count() are the only calls in a timed query, so this is 1
    # by construction; the split below construct and materialize is what
    # the spans tell
    out["trace.attributed_share"] = 1 - selfs.get("queries.run", 0.0) / wall if wall else 0.0
    return out
