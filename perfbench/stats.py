"""Summary statistics and naming rules shared by the benchmark and its tests."""

from __future__ import annotations

import math
import re
import statistics
from fractions import Fraction

# A metric name: starts with a letter or digit, at most 64 letters, digits,
# '_', '.' and '-'. A unit: at most 16 letters, digits, '_', '/', '%', '.', '-'.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def _rank(pct: float, n: int) -> int:
    """Nearest rank of ``pct`` in a sample of ``n``, in exact arithmetic."""
    return max(math.ceil(Fraction(str(pct)) / 100 * n), 1)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    return float(sorted(values)[_rank(pct, len(values)) - 1])


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_PERCENTILES`` with at least ten
    samples beyond it, with the sample count. With fewer than 40 samples
    no listed percentile qualifies and the value is None."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= 10:
            return {"pct": pct, "value": percentile(values, pct), "n": n}
    return {"pct": None, "value": None, "n": n}


def geomean(values: list[float]) -> float:
    return float(math.exp(sum(math.log(v) for v in values) / len(values)))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))
