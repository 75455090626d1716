"""Pure helpers of the benchmark: percentiles, seeded orders, job-window
attribution and metric-name checks. No Spark, no I/O."""

from __future__ import annotations

import random
import re
from collections.abc import Iterable, Mapping, Sequence

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]; 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int, ladder: Sequence[float] = PERCENTILE_LADDER) -> float:
    """The highest percentile of ``ladder`` with at least ten of ``n``
    samples beyond it; 0.0 when even the median has fewer than ten."""
    best = 0.0
    for p in ladder:
        if n * (100.0 - p) >= 1000.0 - 1e-6:  # n * (1 - p/100) >= 10, float-safe
            best = max(best, p)
    return best


def pass_order(ops: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The op order of one pass: a shuffle fixed by (seed, pass index)."""
    order = list(ops)
    random.Random(f"order:{seed}:{pass_index}").shuffle(order)
    return order


def check_metric_names(names: Iterable[str]) -> None:
    seen: set[str] = set()
    for name in names:
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if name in seen:
            raise ValueError(f"duplicate metric name {name!r}")
        seen.add(name)


def attribute_stages(
    windows: Sequence[tuple[str, int, int]],
    stages: Mapping[int, Mapping[str, float]],
) -> dict[str, dict[str, float]]:
    """Sum per-stage counters into the op whose window of stage ids
    ``[first, end)`` holds the stage. Stage ids, like job ids, are handed
    out in submission order, so the ids minted while one op ran belong to
    it, whichever thread submitted them (a stream's micro-batches run on
    the stream's own thread). A stage reused from an earlier op keeps its
    old id and is not counted again."""
    out: dict[str, dict[str, float]] = {}
    for op, first, end in windows:
        acc = out.setdefault(op, {})
        for sid in range(first, end):
            for key, value in stages.get(sid, {}).items():
                acc[key] = acc.get(key, 0.0) + value
    return out
