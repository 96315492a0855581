"""Order statistics used by every workload."""

from __future__ import annotations

# ``op_s.tail`` is this nearest-rank percentile of a run's per-operation
# samples; with the few samples a run holds it is an upper order
# statistic: the largest of fewer than 10, the second largest of 10 to 19.
TAIL_PCT = 90


def percentile(values, pct: int) -> float:
    """Nearest-rank percentile for a whole ``pct`` in [1, 100]."""
    s = sorted(values)
    return s[max(0, -(-pct * len(s) // 100) - 1)]


def median(values) -> float:
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0
