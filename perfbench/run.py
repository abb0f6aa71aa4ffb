#!/usr/bin/env python3
"""marketdb-spark benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload scan_point --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  scan_point      4 closed-loop clients of a MarketDbServer: short scans,
                  cursors and whole-day fetch_arrow requests
  ingest_stream   500-event spool segments through the streaming ingest
  registry_slice  a fixed list of registered queries, fn() + count()

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run. The
line before it is a detail record: pinned environment, host load, tail
percentile and sample counts, and the workload's own named
figures. Every output is checked against an oracle computed from the
generated inputs outside the timed region; mismatches count as failed
operations. Exit status is non-zero, with no result line, when the run
cannot complete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import ROOT, Ctx  # noqa: E402

WORKLOADS = ("scan_point", "ingest_stream", "registry_slice")
# the tail reported for each workload: a fixed percentile, so runs of
# one workload always compare the same statistic
TAIL_PCT = {"scan_point": 80, "ingest_stream": 75, "registry_slice": 75}
CPUS = "4"
DRIVER_MEM = "2g"  # fixed and well under the host's memory: RSS then does not track GC timing


def pin_env(work: Path) -> dict:
    """Environment every run uses, set before Spark or the package load."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # the spool-queue source's Python worker imports the package
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # the launcher JVM would otherwise keep counters under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return pinned


def spark_conf(work: Path, traced: bool) -> dict[str, str]:
    from perfbench.trace import retention_conf

    conf = {
        # the whole heap is committed and touched at start, so its
        # resident size is fixed and the rest of the process's is not
        # blurred by when the collector runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return {**conf, **retention_conf(traced)}


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-pct * len(xs) // 100)) - 1))
    return xs[k]


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_ticks() -> list[int]:
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq,
    steal); steal is time the hypervisor gave this VM's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(sum(delta), 1), 4)


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "marketdb_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def metrics_of(ctx: Ctx, out, session_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics, tail description). ``rss_mb`` is the driver's
    Python and JVM resident peak; the JVM's heap, pre-touched at a fixed
    size, is taken out of it and reported as its live size instead."""
    heap_committed, heap_live = out.heap_mb
    lat = out.latencies_ms
    pct = TAIL_PCT[ctx.workload]
    tail = percentile(lat, pct)
    e2e = {
        "setup_s": (session_s + statistics.median(out.setup_reps), "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "throughput_per_s": (out.throughput, "1/s"),
        "ops_ok_ratio": ((out.attempted - out.failed) / out.attempted, "ratio"),
        "peak_rss_mb": (rss_mb - heap_committed, "MB"),
        "heap_live_mb": (heap_live, "MB"),
    }
    tail_info = {
        "percentile": pct,
        "samples": len(lat),
        "beyond": sum(1 for x in lat if x > tail),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}, tail_info


START = time.perf_counter()


def log(msg: str) -> None:
    print(f"# perfbench {time.perf_counter() - START:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(args) -> int:
    ctx = Ctx(args.workload, args.seed, args.seconds, args.scale, Path())
    build = ROOT / ".bench_build" / "perfbench"
    ctx.work = build / f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx.work.mkdir(parents=True, exist_ok=True)
    pinned = pin_env(ctx.work)
    try:
        from perfbench.trace import Tracer

        # import the program only now: its session module reads the
        # pinned SPARK_GRAFT_CPUS at import time
        from marketdb_spark.session import get_session

        ctx.tracer = Tracer(bool(args.trace))
        load_before, ticks_before = os.getloadavg(), cpu_ticks()
        t0 = time.perf_counter()
        ctx.spark = get_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf=spark_conf(ctx.work, bool(args.trace)),
        )
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.2f}s")
        try:
            if args.workload == "registry_slice":
                from perfbench import registry as mod
            elif args.workload == "ingest_stream":
                from perfbench import ingest as mod
            else:
                from perfbench import scan as mod
            out = mod.run(ctx)
            log("workload done")
            jvm = getattr(ctx.spark.sparkContext._gateway, "proc", None)
            rss = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
            sc = ctx.spark.sparkContext
            env = {
                **pinned,
                "master": sc.master,
                "defaultParallelism": sc.defaultParallelism,
                "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
                "spark": ctx.spark.version,
            }
        finally:
            stop_spark(ctx.spark)
            log("spark stopped")
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)

    import pyarrow

    e2e, tail = metrics_of(ctx, out, session_s, rss)
    env.update(
        {
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "nproc": os.cpu_count(),
            "git_head": git_head(),
            "source_digest": source_digest(),
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": steal_share(ticks_before, cpu_ticks()),
        }
    )
    layers = {"session.start_s": session_s, **out.layers}
    units = per_layer_units()
    unknown = sorted(set(layers) - set(units))
    if unknown:
        raise RuntimeError(f"layer metrics missing from BENCHMARK.json: {unknown}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "tail": tail,
        "setup_reps_s": out.setup_reps,
        "failures": out.failures[:20],
        **out.detail,
    }
    if args.trace:
        detail["end_to_end_traced"] = e2e
        trace_dir = build / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        ctx.tracer.dump(str(trace_dir / f"{args.workload}-{args.seed}.json"))
        metrics = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        }
    else:
        metrics = e2e
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
