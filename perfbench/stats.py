"""Summary statistics and metric-name rules shared by every workload."""

from __future__ import annotations

import math
import re
import statistics

#: metric names: letters, digits, ``_``, ``.`` and ``-``; at most 64 long,
#: starting with a letter or digit
METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

#: a tail percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME_RE.match(name))


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(values, q: float = 90.0) -> float | None:
    """The ``q``-th percentile, or None when fewer than
    :data:`MIN_TAIL_SAMPLES` samples lie strictly beyond it."""
    if not values:
        return None
    p = percentile(values, q)
    beyond = sum(1 for v in values if v > p)
    return p if beyond >= MIN_TAIL_SAMPLES else None


def ratio(num: float, den: float) -> float:
    return float(num) / den if den else 0.0
