"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import numpy as np


def percentile(values, q: float) -> float:
    """The q-th percentile (0 <= q <= 100), linearly interpolated between
    the two nearest ranks (numpy's default)."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(values, q))


def median(values) -> float:
    return percentile(values, 50)
