"""Op accounting and the statistics every run reports.

Rules (see README.md, "Statistics"):

* A timing is reported as its median and a tail: the nearest-rank
  :data:`TAIL_PCT` percentile, together with the number of samples beyond
  it. (The stricter rule — the highest percentile with ten samples beyond
  it — needs 100 ops per run for p90; a run here has far fewer, so the
  count beyond is reported instead of being assumed.)
* A failed or wrong op is never dropped. It counts in ``failed``, its
  latency sample is charged the whole measured window (so it ranks above
  every real sample and can only raise a percentile), and its items are
  not credited while the window is added to the timed wall (so it can only
  lower throughput).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_PCT = 90.0


def nearest_rank(n: int, pct: float) -> int:
    """0-based index of the nearest-rank ``pct`` percentile of n samples."""
    return max(0, math.ceil(pct / 100.0 * n) - 1)


def tail(values: list[float]) -> tuple[float, int]:
    """(nearest-rank :data:`TAIL_PCT` value, samples beyond it)."""
    s = sorted(values)
    k = nearest_rank(len(s), TAIL_PCT)
    return s[k], len(s) - 1 - k


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    items: float = 1.0
    error: str | None = None
    tag: int | None = None  # workload-specific op id (e.g. the hour)


@dataclass
class OpLog:
    """Every timed op of a run, in order."""

    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, latency_s: float, ok: bool, items: float = 1.0,
            error: str | None = None) -> Op:
        op = Op(kind, latency_s, ok, items, error)
        self.ops.append(op)
        return op

    def fail(self, pred) -> None:
        """Mark every op matching ``pred`` failed (a later check found its
        output wrong)."""
        for op in self.ops:
            if op.ok and pred(op):
                op.ok, op.error = False, op.error or "wrong result"

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not op.ok for op in self.ops)

    def summary(self) -> dict[str, float]:
        """latency median/tail, throughput, and their sample count, with
        failed ops charged as described in the module docstring."""
        if not self.ops:
            raise ValueError("no timed ops")
        window = sum(op.latency_s for op in self.ops)
        lat = [op.latency_s if op.ok else window for op in self.ops]
        wall = sum(op.latency_s if op.ok else window for op in self.ops)
        items = sum(op.items for op in self.ops if op.ok)
        tail_v, beyond = tail(lat)
        return {
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_v,
            "tail_beyond": float(beyond),
            "throughput_per_s": items / wall,
            "samples": float(len(lat)),
        }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
