"""Pure helpers shared by the benchmark and its tests: order statistics,
metric-name validation and span self time."""

from __future__ import annotations

import re
import statistics
from collections import defaultdict
from collections.abc import Iterable, Sequence

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# A tail percentile is only reported where at least this many samples lie
# beyond it, so one slow sample cannot set it.  Five, not ten: with the 23
# queries or 24 micro-batches of a run, ten would put the "tail" at p55.
TAIL_BEYOND = 5


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def tail(values: Sequence[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the highest order statistic that still
    has at least ``TAIL_BEYOND`` samples above it."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"need more than {TAIL_BEYOND} samples for a tail, got {n}")
    k = n - 1 - TAIL_BEYOND
    return 100.0 * k / (n - 1), xs[k]


def spread(values: Sequence[float]) -> dict[str, float]:
    """Median, quartiles and the two spreads the steadiness check uses,
    each as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
        "range_share": (max(values) - min(values)) / med if med else float("inf"),
    }


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.

    Children may overlap each other (parallel work) or stick out of the
    parent; only their union inside the parent's interval is subtracted.
    """
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        inner = (
            (max(c["start"], lo), min(c["end"], hi)) for c in children[s["id"]]
        )
        out[s["id"]] = (hi - lo) - covered(inner)
    return out
