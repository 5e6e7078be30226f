"""Shared pieces of the workloads: the run context, the result every
workload returns, percentiles and process memory."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

#: Set-up is repeated this many times per run and its median reported,
#: so work moved into set-up shows without one cold repetition deciding.
SETUP_REPS = 3


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory owned by this run
    cpus: int
    tracer: object = None  # a spans.Tracer in traced runs


@dataclass
class Result:
    attempted: int
    failed: int
    correct: bool
    setup_s: float
    p50_ms: float
    p95_ms: float
    ops_per_s: float
    layers: dict = field(default_factory=dict)  # name -> value (trace runs)
    notes: list = field(default_factory=list)  # human-readable findings
    ops: list = field(default_factory=list)  # per-operation record (trace artifact)


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the Spark JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
