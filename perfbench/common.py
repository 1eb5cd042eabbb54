"""Helpers shared by the workloads: the run context, medians, sizes."""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# how many times each workload builds its state; setup_s is their median
SETUPS = 3


@dataclass
class Ctx:
    spark: object
    work: str  # this run's work directory, removed at exit
    seed: int
    seconds: int


@dataclass
class Result:
    """What a workload hands back to run.py."""

    metrics: dict  # end-to-end name -> value
    attempted: int
    failed: int
    problems: list = field(default_factory=list)  # failed output checks
    layers: dict = field(default_factory=dict)  # per-layer name -> value (traced run)
    detail: dict = field(default_factory=dict)  # logged to stderr, not a metric


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def cache_hit_rate(before: dict, after: dict) -> float:
    """Manifest-cache hit rate between two ``Session().stats()`` readings."""
    hits, misses = after["hits"] - before["hits"], after["misses"] - before["misses"]
    return hits / (hits + misses) if hits + misses else 0.0


def tree_bytes(root: str) -> int:
    return sum(tree_files(root).values())


def tree_files(root: str) -> dict[str, int]:
    """Every file under ``root`` with its size."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


@contextmanager
def phase(name: str):
    """Log a run phase's wall time to stderr."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        print(f"# phase {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
