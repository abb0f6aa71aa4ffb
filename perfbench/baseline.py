#!/usr/bin/env python3
"""Record the per-layer baseline of this host: for each workload, one
untraced and one traced run on the same seed, the per-layer table of the
traced run, and the tracing overhead (traced minus untraced end-to-end
figures, as a share of the untraced ones).

Usage (from the repository root):

    python3 perfbench/baseline.py --seed 1 --out perfbench/baseline_4core.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# environment entries that are paths on the machine that made the table
LOCAL_PATHS = ("PYTHONPATH", "PYSPARK_PYTHON", "SPARK_LOCAL_DIRS", "TMPDIR")


def one(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    with open("/proc/cpuinfo") as f:
        cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), None)
    report = {
        "host": {
            "nproc": os.cpu_count(),
            "cpu": cpu,
            "kernel": platform.release(),
            "mem_total_kb": int(
                next(ln.split()[1] for ln in open("/proc/meminfo") if ln.startswith("MemTotal"))
            ),
        },
        "seed": args.seed,
        "run_seconds": spec["run_seconds"],
        "workloads": {},
    }
    for w in (x["name"] for x in spec["workloads"]):
        plain_detail, plain = one(w, args.seed, spec["run_seconds"], 0)
        traced_detail, traced = one(w, args.seed, spec["run_seconds"], 1)
        e2e_traced = traced_detail["end_to_end_traced"]
        overhead = {
            k: (e2e_traced[k]["value"] - v["value"]) / v["value"]
            for k, v in plain["metrics"].items()
            if k != "ops_ok_ratio"
        }
        report["workloads"][w] = {
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "end_to_end_traced": {k: v["value"] for k, v in e2e_traced.items()},
            "tracing_overhead_share": overhead,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items() if v["value"]},
            "correct": plain["correct"] and traced["correct"],
            "env": {k: v for k, v in plain_detail["env"].items() if k not in LOCAL_PATHS},
            "tail": plain_detail["tail"],
        }
        print(f"{w}: done", file=sys.stderr)
    Path(args.out).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
