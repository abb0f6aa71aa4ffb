"""scan_point: a MarketDbServer in the Spark driver, driven by
perfbench/loadgen.py in a process of its own.

Setup builds the store through the system's own append path
(``MarketDb.add_trades``/``add_orders``, i.e. ``write_partitioned``), from
generated rows that include re-delivered copies, so a storage-layout
change reaches both the write and the read side. Setup runs SETUP_REPS
times into fresh directories; the last store is served.

Every response is checked against the generated rows (numpy, outside
the timed region): row count, order, and an order-sensitive checksum of
the event ids. The count of scans the server still holds at the end must
equal the number of cursors the clients abandoned before exhausting them.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import BENCH, SETUP_REPS, Ctx, Outcome
from perfbench.trace import add_jobs, covered, gc_seconds, heap_mb, last_job_id, scan_metrics, spark_jobs

CLIENTS = 4  # one per core of the 4-core host the sizes are set for
# request latency keeps falling for the first seconds of load (JIT of the
# scan, plan and encode paths); the window starts once it has levelled
WARMUP_S = 5.0
SPEC = {
    "bench": gen.StoreSpec(),
    "tiny": gen.StoreSpec(n_trades=5_000, n_securities=40),
}


def build_store(ctx: Ctx, store: gen.Store, rep: int) -> tuple[str, str]:
    from marketdb_spark.client import MarketDb

    d = ctx.work / f"store{rep}"
    d.mkdir()
    paths = []
    for kind, table in (("trades", store.trades), ("orders", store.orders)):
        pq.write_table(gen.with_duplicates(table, store.duplicates), d / f"{kind}.in.parquet")
        paths.append(str(d / kind))
    db = MarketDb(ctx.spark, *paths)
    db.add_trades(ctx.spark.read.parquet(str(d / "trades.in.parquet")))
    db.add_orders(ctx.spark.read.parquet(str(d / "orders.in.parquet")))
    return paths[0], paths[1]


class Oracle:
    """Expected scan results from the generated rows."""

    def __init__(self, store: gen.Store) -> None:
        self.index = {}
        for kind, table, id_col in (
            ("trades", store.trades, "trade_id"),
            ("orders", store.orders, "order_id"),
        ):
            t = table.select(["market", "security", id_col]).to_pandas()
            t["time"] = table["time"].cast(pa.int64()).to_numpy()  # epoch us
            t = t.sort_values(["market", "security", "time", id_col], kind="mergesort")
            for key, g in t.groupby(["market", "security"], sort=False):
                self.index[(kind, *key)] = (g["time"].to_numpy(), g[id_col].to_numpy())

    def ids(self, req: dict) -> np.ndarray:
        times, ids = self.index.get(
            (req["kind"], req["market"], req["security"]), (np.array([]), np.array([]))
        )
        lo = np.searchsorted(times, gen.epoch_us(req["interval"][0]), "left")
        hi = np.searchsorted(times, gen.epoch_us(req["interval"][1]), "right")
        return ids[lo:hi]

    def check(self, res: dict) -> str | None:
        """None if the response matches, else what differs."""
        if "error" in res:
            return res["error"]
        req = res["req"]
        want = self.ids(req)
        if req["op"] == "count":
            return None if res["n"] == len(want) else f"count {res['n']} != {len(want)}"
        if req["op"] == "cursor" and req["abandon"]:
            want = want[: gen.PAGE]
        if res["n"] != len(want):
            return f"{req['op']} rows {res['n']} != {len(want)}"
        if res["digest"] != gen.digest(want):
            return f"{req['op']} ids differ in content or order"
        return None


def instrument(srv, ctx: Ctx) -> None:
    """Traced run only: span every server request and every plan build,
    and tag each request's Spark jobs with a job group."""
    tracer, sc = ctx.tracer, ctx.spark.sparkContext
    inner = srv.dispatch
    scan_group: dict = {}

    def dispatch(req):
        rid, op = req.get("rid"), req.get("op")
        group = scan_group.get(req.get("scan_id")) if op == "next" else f"rq{rid}"
        sc.setJobGroup(f"rq{rid}", str(op))
        span = tracer.begin(f"server.dispatch.{op}", rid=rid, group=group, rows=0, bytes=0)
        try:
            for out in inner(req):
                if isinstance(out, tuple):
                    span.attrs["bytes"] += len(out[1]) + 4
                elif "scan_id" in out and op == "open":
                    scan_group[out["scan_id"]] = f"rq{rid}"
                yield out
        finally:
            tracer.end(span)

    # the handler looks the dispatch function up on the TCP server object
    srv._tcp.dispatch = dispatch
    srv.db.trades = tracer.wrap("client.plan", srv.db.trades)
    srv.db.orders = tracer.wrap("client.plan", srv.db.orders)


def layer_metrics(ctx: Ctx, ops: list[dict], results: list[dict], first_job: int, gc_s: float) -> dict:
    """Per-layer figures from the spans, the status store and the ops."""
    tracer, spark = ctx.tracer, ctx.spark
    timed = {o["rid"]: o for o in ops if o["timed"]}
    by_rid = {}
    for s in tracer.spans:
        if s.name.startswith("server.dispatch.") and s.rid in timed:
            by_rid[s.rid] = s
    jobs = spark_jobs(spark, first_job)
    jobs_by_group = defaultdict(list)
    for j in jobs:
        jobs_by_group[j.group].append(j)
    plan_spans = [s for s in tracer.spans if s.name == "client.plan"]
    # client-side request spans are the roots; server spans hang under them
    for rid, o in timed.items():
        root = tracer.add("wire", o["t0"], o["t1"], rid=rid, op=o["op"])
        s = by_rid.get(rid)
        if s is None:
            continue
        s.parent = root.sid
        plans = [p for p in plan_spans if p.rid == rid]
        add_jobs(tracer, s, jobs_by_group.get(s.attrs["group"], ()), plans)
        if o["t_recv"] and o["t_recv"] > s.end:
            # the handler's span ends once its last line is written; the
            # client's read of that line closes the delivery
            tracer.add("server.delivery", s.end, o["t_recv"], root, rid)
    roots = [s for s in tracer.spans if s.name == "wire"]
    selfs = tracer.self_times(roots)
    n = max(len(timed), 1)
    spans = list(by_rid.values())
    plan = [s for s in tracer.spans if s.name == "client.plan" and s.rid in timed]
    job_spans = [s for s in tracer.spans if s.name == "spark.job" and s.rid in timed]
    kids = tracer.children()
    out = {
        "client.plan_ms": 1000 * sum(s.dur for s in plan) / max(len(plan), 1),
        "spark.jobs_per_request": sum(s.attrs["jobs"] for s in job_spans) / n,
        "spark.tasks_per_request": sum(s.attrs["tasks"] for s in job_spans) / n,
        "spark.job_ms_per_request": 1000 * selfs.get("spark.job", 0.0) / n,
        "server.delivery_ms": 1000 * selfs.get("server.delivery", 0.0) / n,
        "spark.gc_s": gc_s,
    }
    for op in ("count", "open", "next", "trades", "orders", "fetch_arrow"):
        mine = [s for s in spans if s.name == f"server.dispatch.{op}"]
        if mine:
            self_s = sum(s.dur - covered(s, kids[s.sid]) for s in mine)
            out[f"server.dispatch_self_ms.{op}"] = 1000 * self_s / len(mine)
    rows = sum(timed[s.rid]["rows"] for s in spans)
    arrow = [s for s in spans if s.name == "server.dispatch.fetch_arrow"]
    arrow_rows = sum(timed[s.rid]["rows"] for s in arrow)
    encode_self = sum(s.dur - covered(s, kids[s.sid]) for s in arrow)
    out["server.encode_rows_per_s"] = arrow_rows / encode_self if encode_self else 0.0
    # JSON lines are counted by the client, Arrow frames by the server
    wire_bytes = sum(s.attrs["bytes"] or timed[s.rid]["bytes"] for s in spans)
    out["server.wire_bytes_per_row"] = wire_bytes / rows if rows else 0.0
    # scan-node SQL metrics, per request group
    group_of_job = {j.job_id: j.group for j in jobs}
    scans = scan_metrics(spark, group_of_job)
    timed_groups = {s.attrs["group"] for s in spans}
    files = sum(v["files"] for g, v in scans.items() if g in timed_groups)
    scanned = sum(v["rows"] for g, v in scans.items() if g in timed_groups)
    matched = sum(r["n"] for r in results if not r.get("warm") and "n" in r)
    out["sources.store.files_read_per_request"] = files / n
    out["sources.store.rows_scanned_per_row_returned"] = scanned / matched if matched else 0.0
    wall = sum(s.dur for s in roots)
    # what the server's spans and the response delivery leave of the
    # client's request time: sending and parsing the request, and the
    # client's own decoding
    out["trace.attributed_share"] = 1 - selfs.get("wire", 0.0) / wall if wall else 0.0
    return out


def run(ctx: Ctx) -> Outcome:
    from marketdb_spark.server import MarketDbServer

    spec = SPEC[ctx.scale]
    store = gen.make_store(ctx.seed, spec)
    reps, paths = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        paths = build_store(ctx, store, rep)
        reps.append(time.perf_counter() - t0)
    oracle = Oracle(store)
    srv = MarketDbServer(ctx.spark, *paths).start()
    if ctx.tracer.enabled:
        instrument(srv, ctx)
        first_job, gc0 = last_job_id(ctx.spark), gc_seconds(ctx.spark)
    out_file = ctx.work / "loadgen.json"
    try:
        proc = subprocess.run(
            [
                sys.executable, str(BENCH / "loadgen.py"),
                "--seed", str(ctx.seed),
                "--host", srv.host, "--port", str(srv.port),
                "--seconds", str(ctx.seconds), "--warmup", str(WARMUP_S),
                "--clients", str(CLIENTS),
                "--n-securities", str(spec.n_securities), "--out", str(out_file),
            ],
            timeout=ctx.seconds + 120,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        if ctx.tracer.enabled:
            gc_s = gc_seconds(ctx.spark) - gc0
        with open(out_file) as f:
            data = json.load(f)
        open_scans = len(srv._scans)
        heap = heap_mb(ctx.spark)  # with the abandoned scans still held
    finally:
        srv.stop()
    ops, results = data["ops"], data["results"]
    warm_until, deadline = data["window"]

    failures = []
    for res in results:
        why = oracle.check(res)
        if why:
            failures.append(f"{res['c']}.{res['i']} {res['req']['op']}: {why}")
    abandoned = sum(1 for r in results if r.get("left_open"))
    if open_scans != abandoned:
        failures.append(f"server holds {open_scans} open scans, clients left {abandoned} open")

    timed = [o for o in ops if o["timed"]]
    end = max(o["t1"] for o in timed)
    throughput = len(timed) / (end - warm_until)
    arrow = [o for o in timed if o["op"] == "fetch_arrow"]
    lat = [1000 * (o["t1"] - o["t0"]) for o in timed]
    by_op = defaultdict(list)
    for o in timed:
        by_op[o["op"]].append(1000 * (o["t1"] - o["t0"]))
    detail = {
        "store_rows": {"trades": store.trades.num_rows, "orders": store.orders.num_rows},
        "requests": len(results),
        "ops_timed": len(timed),
        "p50_ms_by_op": {k: statistics.median(v) for k, v in by_op.items()},
        "open_scans_end": open_scans,
        "abandoned_cursors": abandoned,
    }
    detail["point_ops_per_s"] = throughput
    if arrow:
        detail["arrow_rows_per_s"] = sum(o["rows"] for o in arrow) / sum(o["t1"] - o["t0"] for o in arrow)
        detail["arrow_rows_per_request"] = statistics.median(o["rows"] for o in arrow)
    layers = {"server.open_scans_end": float(open_scans)}
    if ctx.tracer.enabled:
        layers.update(layer_metrics(ctx, ops, results, first_job, gc_s))
    return Outcome(
        setup_reps=reps,
        latencies_ms=lat,
        throughput=throughput,
        heap_mb=heap,
        attempted=len(results) + 1,  # +1: the open-scan count check
        failed=len(failures),
        failures=failures,
        layers=layers,
        detail=detail,
    )
