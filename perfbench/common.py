"""The workload interface ``run.py`` drives, and the helpers every
workload shares."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class Iteration:
    """What one iteration (or, merged, one loop) of a workload did:
    ``seconds`` of measured work, ``cpu_s`` it used, ``items`` processed (operations, input
    events), latency samples ``by_kind`` (per operation, per micro-batch;
    kinds are dotted, as ``sql.q3`` or ``batch.tumble``), ``ops``
    attempted and ``errors`` among them."""

    seconds: float = 0.0
    cpu_s: float = 0.0
    items: int = 0
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    ops: int = 0
    errors: int = 0

    def record(self, kind: str, seconds: float) -> None:
        """One operation of ``kind`` that took ``seconds``."""
        self.seconds += seconds
        self.items += 1
        self.by_kind.setdefault(kind, []).append(seconds)

    def latencies(self, prefix: str) -> list[float]:
        """Every sample whose kind starts with ``prefix``."""
        return [x for k, v in self.by_kind.items() if k.startswith(prefix) for x in v]

    def merge(self, other: "Iteration") -> None:
        self.seconds += other.seconds
        self.cpu_s += other.cpu_s
        self.items += other.items
        for k, v in other.by_kind.items():
            self.by_kind.setdefault(k, []).extend(v)
        self.ops += other.ops
        self.errors += other.errors


class Workload:
    """One benchmark workload. ``run.py`` calls ``generate`` once, then
    ``open`` + ``warmup`` per set-up repetition (each on a fresh Spark
    session with freshly imported engine modules), then ``iteration``
    and ``end_iteration`` in a closed loop, then ``verify``."""

    name = ""

    def __init__(self, cache_dir: str, scratch_dir: str, seed: int):
        self.cache_dir, self.scratch, self.seed = cache_dir, scratch_dir, seed
        self.spark = None
        self.lib = None

    def generate(self) -> None:
        raise NotImplementedError

    def open(self, spark, lib) -> None:
        """Bind a session; ``lib`` is the freshly imported engine package."""
        self.spark, self.lib = spark, lib

    def warmup(self) -> None:
        raise NotImplementedError

    def iteration(self, index: int, spans, counters) -> Iteration:
        raise NotImplementedError

    def begin_loop(self) -> None:
        """Reset per-loop counters before the timed or the traced loop."""

    def end_iteration(self) -> None:
        """Isolation between iterations, outside the measured time."""

    def verify(self) -> tuple[int, list[str]]:
        """(outputs checked, one description per mismatching output)."""
        raise NotImplementedError

    def plant_mismatch(self) -> None:
        """Corrupt one recorded output (self-test of the gate)."""
        name, pdf = self.outputs[0]
        self.outputs[0] = (name, planted_wrong(pdf))

    def named_metrics(self, timed) -> list[tuple[str, float, str]]:
        """Workload-specific wall-clock and quality metrics, printed but
        not gated, as (name, value, unit)."""
        return []

    def layer_metrics(self, spans, counters, loop) -> dict[str, float]:
        """Per-layer metrics of the traced loop (``loop`` is its merged
        ``Iteration``)."""
        return {}


def latency_metrics(prefix: str, samples: list[float]) -> list[tuple[str, float, str]]:
    """``<prefix>_p50_s`` and the highest percentile above it that still
    has ten samples beyond it, each with its sample count."""
    import statistics

    from harness import tail_percentile

    if not samples:
        return []
    n = len(samples)
    tail = tail_percentile(samples)
    if tail is None or tail[1] <= 50:
        return [(f"{prefix}_p50_s", statistics.median(samples),
                 f"s (n={n}; too few for a tail percentile with 10 samples beyond it)")]
    return [(f"{prefix}_p50_s", statistics.median(samples), f"s (n={n})"),
            (f"{prefix}_p{tail[1]:.0f}_s", tail[0], f"s (n={n}, 10 beyond)")]


def temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def compare(lib, label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """One entry for a mismatching output, none for a match."""
    problems = lib.oracle.compare_frames(got, want)
    return [f"{label}: " + "; ".join(problems)] if problems else []


def planted_wrong(pdf: pd.DataFrame) -> pd.DataFrame:
    """``pdf`` with its first row duplicated: a wrong answer for the
    self-test to plant in front of the oracle."""
    return pd.concat([pdf, pdf.head(1)], ignore_index=True)
