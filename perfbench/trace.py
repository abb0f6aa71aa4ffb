"""Spans and Spark-side probes for the traced run.

A span is (name, start, end, parent, request id). Spans are kept in
memory and written out when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
A root span is a workload's unit of wall-clock (a request, a segment, a
query); its own self time is the part no layer below it explains, and
``trace.attributed_share`` is one minus that part's share.

Spans are recorded by the benchmark's own code: around its calls into
the program, and around program functions it wraps at run time in the
traced run (no program file changes). Spark jobs and scan-node metrics
are read after the measured window from the Spark driver's status store,
so the traced run adds no Spark work of its own.
"""

from __future__ import annotations

import gc
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# perf_counter is CLOCK_MONOTONIC on Linux: one clock for this process,
# the load-generator process, and (via WALL_OFFSET) the JVM's epoch ms
WALL_OFFSET = time.time() - time.perf_counter()


def from_epoch_ms(ms: int) -> float:
    return ms / 1000.0 - WALL_OFFSET


@dataclass
class Span:
    name: str
    start: float
    end: float
    sid: int
    parent: int | None = None
    rid: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Thread-safe in-memory span recorder. Disabled, every call is a
    no-op, so untraced runs pay one attribute check per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, rid: str | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            name,
            time.perf_counter(),
            0.0,
            next(self._ids),
            parent.sid if parent else None,
            rid if rid is not None else (parent.rid if parent else None),
            attrs,
        )
        stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        with self._lock:
            self.spans.append(s)

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: Span | None = None,
        rid: str | None = None,
        **attrs,
    ) -> Span | None:
        """Record a span timed elsewhere (a JVM job, a remote request)."""
        if not self.enabled:
            return None
        s = Span(name, start, end, next(self._ids), parent.sid if parent else None, rid, attrs)
        with self._lock:
            self.spans.append(s)
        return s

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""
        if not self.enabled:
            return fn

        def traced(*a, **kw):
            s = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(s)

        return traced

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self, roots: list[Span]) -> dict[str, float]:
        """Total self time per span name over the trees under ``roots``,
        in seconds."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        todo = list(roots)
        while todo:
            s = todo.pop()
            mine = kids.get(s.sid, ())
            out[s.name] += s.dur - covered(s, mine)
            todo.extend(mine)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union(intervals) -> list[tuple[float, float]]:
    """Merge overlapping (start, end) intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(parent: Span, children) -> float:
    """Length of the union of the children's intervals inside the parent's."""
    return sum(
        e - s
        for s, e in union(
            (max(c.start, parent.start), min(c.end, parent.end))
            for c in children
            if c.end > parent.start and c.start < parent.end
        )
    )


def add_jobs(tracer: Tracer, parent: Span, jobs, inner: list[Span] = ()) -> None:
    """Spark jobs overlapping ``parent`` as ``spark.job`` spans: merged
    where jobs run at once (so no time counts twice), clipped to the
    parent, and placed under the span in ``inner`` that holds them."""
    mine = [j for j in jobs if j.end > parent.start and j.start < parent.end]
    for s, e in union((max(j.start, parent.start), min(j.end, parent.end)) for j in mine):
        host = next((c for c in inner if c.start <= s and e <= c.end), parent)
        tracer.add(
            "spark.job", s, e, host, parent.rid,
            jobs=sum(1 for j in mine if s <= max(j.start, parent.start) <= e),
            tasks=sum(j.tasks for j in mine if s <= max(j.start, parent.start) <= e),
        )


# ------------------------------------------------------------ Spark probes


def retention_conf(traced: bool) -> dict[str, str]:
    """How many jobs, stages and SQL executions the driver's status store
    keeps. The traced run keeps all: every one of the window must still
    be there when it is read. Untraced runs keep the last 50 (Spark's
    default is 1000), so the store stops growing early in a run and the
    driver's live heap does not follow how much work a run got done."""
    n = "1000000" if traced else "50"
    return {
        "spark.ui.retainedJobs": n,
        "spark.ui.retainedStages": n,
        "spark.sql.ui.retainedExecutions": n,
    }


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # perf_counter clock
    end: float
    tasks: int


def spark_jobs(spark, since: int = -1) -> list[Job]:
    """Completed jobs with id > ``since``, from the Spark driver's status store."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= since:
            continue
        s, c, g = j.submissionTime(), j.completionTime(), j.jobGroup()
        if not (s.isDefined() and c.isDefined()):
            continue
        out.append(
            Job(
                j.jobId(),
                g.get() if g.isDefined() else None,
                from_epoch_ms(s.get().getTime()),
                from_epoch_ms(c.get().getTime()),
                j.numTasks(),
            )
        )
    return sorted(out, key=lambda j: j.job_id)


def last_job_id(spark) -> int:
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)


def _metric_number(text: str) -> float:
    """First number of a formatted SQL metric ('6,000', '1.2 KiB', ...)."""
    head = text.split("\n")[0].split(" ")[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


def scan_metrics(spark, groups_by_job: dict[int, str | None]) -> dict[str | None, dict]:
    """Per job group: parquet files read and rows output by scan nodes,
    summed over the SQL executions whose jobs ran in that group."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[str | None, dict] = defaultdict(lambda: {"files": 0.0, "rows": 0.0})
    for i in range(execs.size()):
        e = execs.apply(i)
        job_ids = [int(x) for x in e.jobs().keys().toList().mkString(",").split(",") if x]
        groups = {groups_by_job[j] for j in job_ids if j in groups_by_job}
        if len(groups) != 1:
            continue
        (group,) = groups
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.name() == "number of files read":
                    out[group]["files"] += _metric_number(v.get())
                elif m.name() == "number of output rows":
                    out[group]["rows"] += _metric_number(v.get())
    return dict(out)


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time of the Spark driver JVM."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


CLEANER_WAIT_S = 1.0


def heap_mb(spark) -> tuple[float, float]:
    """(committed, live) JVM heap of the Spark driver in MB. Live is the
    total size of the objects a full collection keeps, from the JVM's
    class histogram (what ``jmap -histo:live`` prints), so it does not
    depend on when the collector last ran. The heap's "used" figure right
    after one collection moved by half between runs of one workload."""
    gc.collect()  # Python objects in cycles can still hold JVM objects
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    # Spark's context cleaner drops the blocks of broadcasts and RDDs a
    # collection found unreachable, on its own thread, shortly after it
    jvm.java.lang.System.gc()
    time.sleep(CLEANER_WAIT_S)

    def array(cls, *items):
        out = gateway.new_array(cls, len(items))
        for i, x in enumerate(items):
            out[i] = x
        return out

    # MBeanServer.invoke, looked up on the public interface: the platform
    # server's own class is not exported to the bridge's reflection
    Class = jvm.java.lang.Class
    invoke = Class.forName("javax.management.MBeanServer").getMethod(
        "invoke", array(Class, *(Class.forName(c) for c in (
            "javax.management.ObjectName", "java.lang.String",
            "[Ljava.lang.Object;", "[Ljava.lang.String;"))),
    )
    management = jvm.java.lang.management.ManagementFactory
    histogram = invoke.invoke(management.getPlatformMBeanServer(), array(
        jvm.java.lang.Object,
        jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram",
        array(jvm.java.lang.Object, gateway.new_array(jvm.java.lang.String, 0)),
        array(jvm.java.lang.String, "[Ljava.lang.String;"),
    ))
    total = histogram.strip().splitlines()[-1].split()  # "Total <objects> <bytes>"
    committed = management.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    return committed / 2**20, int(total[2]) / 2**20
