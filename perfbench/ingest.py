"""ingest_stream: 500-event segments through the streaming ingest.

A producer (closed loop, in the Spark driver process) publishes one segment
of generated trade events at a time into a spool directory, then waits
until the running query has stored it: ``read_trade_stream_queue`` ->
``_dual_write_sink`` (validate, quarantine, idempotent append into the
store). Each event carries its creation stamp from the generator;
freshness is the time from a segment's stamp to the return of the sink
call of the batch that holds it, the moment its rows are readable from
the store (the batch's offsets in the query's checkpoint say which
segments it holds). Segments are published by rename, so the source
never sees half a segment.

Setup starts the query and pushes its first segment through (the first
batch starts the source's Python worker and compiles the sink's plans),
SETUP_REPS times into fresh directories; the last query keeps running
and takes WARMUP_SEGMENTS more segments untimed before the window.

Checked after the window, per segment: the store holds exactly the
segment's valid events once each, and the quarantine holds exactly its
injected malformed events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.common import SETUP_REPS, Ctx, Outcome
from perfbench.trace import (
    WALL_OFFSET, Span, covered, from_epoch_ms, gc_seconds, heap_mb, last_job_id, spark_jobs,
)

SPEC = {"bench": gen.IngestSpec(), "tiny": gen.IngestSpec(segment_events=100)}
VISIBLE_TIMEOUT_S = 120
WARMUP_SEGMENTS = 2
# the phases the engine reports, in order, before addBatch calls the sink
PRE_SINK_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning")


class Visible:
    """When each batch of one query became readable: the wall time its
    sink call returned. Wakes the producer."""

    def __init__(self, checkpoint: Path) -> None:
        self.offsets = checkpoint / "offsets"
        self.cv = threading.Condition()
        self.returned: dict[int, float] = {}  # batch id -> wall time

    def wrap(self, sink):
        def visible_sink(batch, batch_id):
            sink(batch, batch_id)
            t = time.time()
            with self.cv:
                self.returned[batch_id] = t
                self.cv.notify_all()

        return visible_sink

    def _end_offset(self, batch_id: int) -> dict:
        """The batch's end offset, from the offset log entry the engine
        writes before it runs the batch."""
        lines = (self.offsets / str(batch_id)).read_text().splitlines()
        return json.loads(lines[-1]).get("pos", {})

    def wait(self, seg: str, lines: int) -> tuple[int, float] | None:
        """(batch id, wall time) of the first batch whose sink returned
        with ``seg``'s ``lines`` lines in it."""
        seen: set[int] = set()

        def holding():
            for b in sorted(set(self.returned) - seen):
                seen.add(b)
                if int(self._end_offset(b).get(seg, 0)) >= lines:
                    return b
            return None

        with self.cv:
            deadline = time.monotonic() + VISIBLE_TIMEOUT_S
            while (b := holding()) is None:
                left = deadline - time.monotonic()
                if left <= 0:
                    return None
                self.cv.wait(left)
            return b, self.returned[b]


class Progress:
    """Traced run only: the progress events of the streaming queries,
    for the split of a batch into the engine's phases."""

    def __init__(self) -> None:
        self.cv = threading.Condition()
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer.cv:
                    outer.events.append(p)
                    outer.cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()

    def batches(self, query_id: str, ids: set[int], timeout: float = 30) -> dict[int, dict]:
        """Progress of the given batches, waiting for late deliveries."""
        def mine():
            return {p["batchId"]: p for p in self.events
                    if p["id"] == query_id and p["batchId"] in ids}

        with self.cv:
            self.cv.wait_for(lambda: len(mine()) == len(ids), timeout=timeout)
            return mine()


class Pipeline:
    """One spool + store + running ingest query in its own directory."""

    def __init__(self, ctx: Ctx, d: Path, sink) -> None:
        from marketdb_spark.streaming.ingest import read_trade_stream_queue

        self.spool = d / "spool"
        self.spool.mkdir(parents=True)
        self.store, self.quarantine = str(d / "store"), str(d / "quarantine")
        self.visible = Visible(d / "checkpoint")
        self.query = (
            read_trade_stream_queue(ctx.spark, str(self.spool))
            .writeStream.foreachBatch(self.visible.wrap(sink(self.store, self.quarantine)))
            .option("checkpointLocation", str(d / "checkpoint"))
            .start()
        )
        self.segments: list[list[dict]] = []

    def publish(self, events: list[dict]) -> tuple[str, float]:
        """Write segment len(self.segments), stamped now; returns (name, stamp)."""
        name = f"{len(self.segments):06d}.ndjson"
        stamp = time.time()
        tmp = self.spool / f".{name}.tmp"
        tmp.write_text(gen.segment_lines(events, int(stamp * 1e6)))
        os.rename(tmp, self.spool / name)
        self.segments.append(events)
        return name, stamp

    def push(self, events: list[dict]) -> tuple[float, tuple[int, float] | None]:
        """Publish and wait until stored: (stamp, (batch id, visible wall time))."""
        name, stamp = self.publish(events)
        return stamp, self.visible.wait(name, len(events))

    def stop(self) -> None:
        self.query.stop()


def check(pipe: Pipeline) -> tuple[list[str], dict]:
    """Per-segment comparison of the store and quarantine with the
    generated events. Returns (failures, counts)."""
    stored = ds.dataset(pipe.store, format="parquet", partitioning="hive").to_table(
        columns=["trade_id", "security", "amount"]
    )
    quarantined = ds.dataset(pipe.quarantine, format="parquet").to_table(columns=["payload"])
    got_ids = stored.column("trade_id").to_pylist()
    got = defaultdict(list)
    for tid, sec, amount in zip(got_ids, stored.column("security").to_pylist(),
                                stored.column("amount").to_pylist()):
        got[tid // 1_000_000].append((tid, sec, amount))
    q_got = defaultdict(int)
    for payload in quarantined.column("payload").to_pylist():
        q_got[json.loads(payload)["trade_id"] // 1_000_000] += 1
    failures, delivered_valid, malformed = [], 0, 0
    for k, events in enumerate(pipe.segments):
        valid = {(e["trade_id"], e["security"], e["amount"]) for e in events if not e["bad"]}
        bad = {e["trade_id"] for e in events if e["bad"]}
        delivered_valid += sum(1 for e in events if not e["bad"])
        malformed += len(bad)
        rows = got.get(k, [])
        if len(rows) != len(set(rows)) or set(rows) != valid:
            failures.append(f"segment {k}: store holds {len(rows)} rows, want {len(valid)} valid unique")
        if q_got.get(k, 0) != len(bad):
            failures.append(f"segment {k}: quarantine holds {q_got.get(k, 0)}, injected {len(bad)}")
    counts = {
        "stored": len(got_ids),
        "quarantined": quarantined.num_rows,
        "injected_malformed": malformed,
        "deduped": delivered_valid - len(got_ids),
        "injected_redelivered": sum(
            len(s) - len({e["trade_id"] for e in s}) for s in pipe.segments
        ),
    }
    return failures, counts


def _store_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def layer_metrics(ctx: Ctx, pipe: Pipeline, progress: Progress, samples, first_job) -> dict:
    """Streaming phases from the query progress, sink and store spans from
    the tracer, job counts from the status store.

    A segment's root span runs from its stamp to the return of the sink
    call that stored it. Under it: the wait for the trigger that takes it
    (stamp -> the trigger's start time in its progress), the phases the
    engine reports before the sink runs, laid out in order from the
    trigger start, and the sink span. What they leave uncovered is the
    root's own, unattributed time."""
    tracer = ctx.tracer
    batches = progress.batches(pipe.query.id, {b for _, _, b in samples})
    sinks = {int(s.rid): s for s in tracer.spans if s.name == "streaming.ingest.sink"
             and s.start >= samples[0][0]}
    roots, waits = [], []
    for stamp, seen, b in samples:
        root = tracer.add("ingest.segment", stamp, seen, rid=str(b))
        roots.append(root)
        if b in sinks:
            sinks[b].parent = root.sid
        p = batches.get(b)
        if p is None:
            continue
        t = from_epoch_ms(_epoch_ms(p["timestamp"]))
        if t > root.start:
            # the segment waits for the running trigger to end and the
            # next one to start
            waits.append(tracer.add("streaming.trigger_wait", root.start, t, root))
        for phase in PRE_SINK_PHASES:
            dur = p["durationMs"].get(phase, 0) / 1000.0
            tracer.add(f"streaming.{phase}", t, t + dur, root)
            t += dur
    data = [p for p in batches.values() if p["numInputRows"] > 0]
    nb = max(len(data), 1)

    def mean_ms(phase):
        return sum(p["durationMs"].get(phase, 0) for p in data) / nb

    jobs = spark_jobs(ctx.spark, first_job)
    mine = [sinks[b] for _, _, b in samples if b in sinks]
    appends = [s for s in tracer.spans if s.name == "sources.store.idempotent_append"
               and any(m.start <= s.start <= m.end for m in mine)]
    writes = [s for s in tracer.spans if s.name == "sources.store.write"
              and any(a.start <= s.start <= a.end for a in appends)]

    def jobs_in(spans: list[Span]) -> int:
        return sum(1 for j in jobs if any(s.start <= j.start <= s.end for s in spans))

    selfs = tracer.self_times(roots)
    wall = sum(r.dur for r in roots)
    kids = tracer.children()
    append_self = sum(a.dur - covered(a, kids[a.sid]) for a in appends)
    n = max(len(samples), 1)
    return {
        "streaming.latest_offset_ms": mean_ms("latestOffset"),
        "streaming.add_batch_ms": mean_ms("addBatch"),
        "streaming.wal_commit_ms": mean_ms("walCommit"),
        "streaming.commit_offsets_ms": mean_ms("commitOffsets"),
        "streaming.triggers_per_segment": len(data) / n,
        "streaming.trigger_wait_ms": 1000 * sum(w.dur for w in waits) / n,
        "streaming.ingest.sink_ms": 1000 * sum(s.dur for s in mine) / max(len(mine), 1),
        "streaming.ingest.probe_jobs": (jobs_in(mine) - jobs_in(appends)) / max(len(mine), 1),
        "sources.store.idempotent_append_ms": 1000 * sum(s.dur for s in appends) / max(len(mine), 1),
        "sources.store.anti_join_ms": 1000 * append_self / max(len(mine), 1),
        "sources.store.write_ms": 1000 * sum(s.dur for s in writes) / max(len(mine), 1),
        "trace.attributed_share": 1 - selfs.get("ingest.segment", 0.0) / wall if wall else 0.0,
    }


def _epoch_ms(iso: str) -> int:
    t = dt.datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def run(ctx: Ctx) -> Outcome:
    import marketdb_spark.sources.store as store_mod
    import marketdb_spark.streaming.ingest as ingest_mod

    spec = SPEC[ctx.scale]
    tracer, spark = ctx.tracer, ctx.spark
    progress = listener = None
    patched = []
    if tracer.enabled:
        progress = Progress()
        listener = progress.listener()
        spark.streams.addListener(listener)
        # spans around the store calls the sink makes, by module name
        for mod, name, span in (
            (ingest_mod, "idempotent_append", "sources.store.idempotent_append"),
            (store_mod, "write_partitioned", "sources.store.write"),
        ):
            orig = getattr(mod, name)
            patched.append((mod, name, orig))
            setattr(mod, name, tracer.wrap(span, orig))

    def sink(store: str, quarantine: str):
        inner = ingest_mod._dual_write_sink(spark, "trades", store, quarantine)
        if not tracer.enabled:
            return inner

        def traced(batch, batch_id):
            s = tracer.begin("streaming.ingest.sink", rid=str(batch_id))
            try:
                inner(batch, batch_id)
            finally:
                tracer.end(s)

        return traced

    reps, pipe = [], None
    try:
        for rep in range(SETUP_REPS):
            if pipe is not None:
                pipe.stop()
            t0 = time.perf_counter()
            pipe = Pipeline(ctx, ctx.work / f"ingest{rep}", sink)
            if pipe.push(gen.ingest_segment(ctx.seed, 0, spec))[1] is None:
                raise RuntimeError("first segment never became visible")
            reps.append(time.perf_counter() - t0)
        # warm-up, untimed: the batch path keeps getting faster over its
        # first few batches (plan compilation, JIT)
        for _ in range(WARMUP_SEGMENTS):
            if pipe.push(gen.ingest_segment(ctx.seed, len(pipe.segments), spec))[1] is None:
                raise RuntimeError("warm-up segment never became visible")
        first_job = last_job_id(spark) if tracer.enabled else -1
        gc0 = gc_seconds(spark)
        start = time.perf_counter()
        deadline = start + ctx.seconds
        samples, freshness, lost = [], [], 0
        events_sent = 0
        while time.perf_counter() < deadline:
            events = gen.ingest_segment(ctx.seed, len(pipe.segments), spec)
            stamp, visible = pipe.push(events)
            events_sent += len(events)
            if visible is None:
                lost += 1
                break
            batch_id, seen = visible
            samples.append((stamp - WALL_OFFSET, seen - WALL_OFFSET, batch_id))
            freshness.append(1000 * (seen - stamp))
        end = time.perf_counter()
        gc_s = gc_seconds(spark) - gc0
        traced = layer_metrics(ctx, pipe, progress, samples, first_job) if tracer.enabled else {}
        pipe.stop()
        # with the query stopped and its state stores unloaded: a batch in
        # flight, or the stores the engine unloads on its own schedule,
        # would otherwise be counted in some runs and not in others
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        heap = heap_mb(spark)
        failures, counts = check(pipe)
        layers = {
            **traced,
            "streaming.ingest.quarantined": float(counts["quarantined"]),
            "streaming.ingest.deduped": float(counts["deduped"]),
            "spark.gc_s": gc_s,
        }
        if counts["quarantined"] != counts["injected_malformed"]:
            failures.append(f"quarantined {counts['quarantined']} != injected {counts['injected_malformed']}")
        if counts["deduped"] != counts["injected_redelivered"]:
            failures.append(f"deduped {counts['deduped']} != redelivered {counts['injected_redelivered']}")
        if lost:
            failures.append(f"a segment was not visible within {VISIBLE_TIMEOUT_S} s")
        n_files, n_bytes = _store_files(pipe.store)
        q_files, q_bytes = _store_files(pipe.quarantine)
        delivered = sum(len(s) for s in pipe.segments)
        layers["sources.store.files_written_per_segment"] = (n_files + q_files) / len(pipe.segments)
        layers["sources.store.bytes_written_per_event"] = (n_bytes + q_bytes) / delivered
    finally:
        for mod, name, orig in patched:
            setattr(mod, name, orig)
        if listener is not None:
            spark.streams.removeListener(listener)
        if pipe is not None and pipe.query.isActive:
            pipe.stop()
    return Outcome(
        setup_reps=reps,
        latencies_ms=freshness,
        throughput=events_sent / (end - start),
        heap_mb=heap,
        attempted=len(pipe.segments) + 2,  # + the two whole-run count checks
        failed=len(failures),
        failures=failures,
        layers=layers,
        detail={
            "segments_timed": len(freshness),
            "freshness_ms": freshness,
            "segment_events": spec.segment_events,
            "ingest_events_per_s": events_sent / (end - start),
            "ingest_freshness_p50_ms": statistics.median(freshness) if freshness else None,
            "ingest_store_bytes_per_event": n_bytes / max(counts["stored"], 1),
            "store_files": n_files,
            **counts,
        },
    )
