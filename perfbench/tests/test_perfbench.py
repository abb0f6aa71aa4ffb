"""Tests of the benchmark itself (not part of the package's test suite).

    python -m pytest perfbench/tests -q

The smoke runs start Spark twice per workload (untraced and traced) at
a tiny scale and take about four minutes together.
"""

from __future__ import annotations

import io
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import gen
from perfbench.common import ROOT

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _bytes(seed: int) -> bytes:
    """Every generated input of one seed, serialized."""
    out = io.BytesIO()
    store = gen.make_store(seed, gen.StoreSpec(n_trades=3_000))
    tables = [store.trades, store.orders, *gen.registry_tables(seed, 0.1).values()]
    for t in tables:
        with pa.ipc.new_stream(out, t.schema) as w:
            w.write_table(t)
    out.write(store.duplicates.tobytes())
    out.write(json.dumps(gen.point_requests(seed, 0, 200)).encode())
    for k in range(3):
        out.write(gen.segment_lines(gen.ingest_segment(seed, k), 0).encode())
    return out.getvalue()


def test_generator_is_deterministic():
    assert _bytes(7) == _bytes(7)
    assert _bytes(7) != _bytes(8)


def test_held_out_seed_generates():
    seed = 2**31 - 1
    segment = gen.ingest_segment(seed, 4)
    assert len(segment) == gen.IngestSpec().segment_events
    assert any(e["bad"] for e in segment)
    assert len({e["trade_id"] for e in segment}) < len(segment)  # redeliveries
    store = gen.make_store(seed, gen.StoreSpec(n_trades=2_000))
    assert store.trades.num_rows == store.orders.num_rows == 2_000


def test_fixture_shape():
    store = gen.make_store(3, gen.StoreSpec(n_trades=20_000))
    times = store.trades.column("time").cast(pa.int64()).to_numpy()
    securities = store.trades.column("security").to_pylist()
    ties = {}
    for t, s in zip(times, securities):
        ties.setdefault(t, set()).add(s)
    assert any(len(s) > 1 for s in ties.values())  # cross-security time ties
    offsets = store.orders.column("time").cast(pa.int64()).to_numpy() - times
    assert set(offsets) == {500_000}  # orders at trade time + 500 ms
    null_deal = store.orders.column("deal").null_count / store.orders.num_rows
    assert 0.45 < null_deal < 0.55
    assert gen.epoch_us(gen.iso(1_360_000_000_123_000)) == 1_360_000_000_123_000


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_has_no_failures(workload):
    proc = _run(ROOT, workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    detail = json.loads(lines[-2])["detail"]
    assert result["failed"] == 0 and result["correct"], detail["failures"]
    assert set(result["metrics"]) == E2E
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["env"]["master"] == "local[4]"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_attributes_the_wall_clock(workload):
    proc = _run(ROOT, workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0
    assert set(result["metrics"]) == LAYERS
    # the layers' spans leave at most 5% of the workload's wall-clock unexplained
    assert result["metrics"]["trace.attributed_share"]["value"] >= 0.95


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, WORKLOADS[0], trace=0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
