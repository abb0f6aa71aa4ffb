"""Types and constants shared by the benchmark's workload modules."""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETUP_REPS = 3  # set-up runs this many times per run; setup_s takes the median


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    scale: str  # "bench", or "tiny" for the smoke tests
    work: Path
    spark: object = None
    tracer: object = None


@dataclass
class Outcome:
    """What a workload measured; run.py turns it into metrics."""

    setup_reps: list[float]
    latencies_ms: list[float]
    throughput: float
    attempted: int
    failed: int
    heap_mb: tuple[float, float]  # trace.heap_mb at the end of the window
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
