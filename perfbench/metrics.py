"""Names and units of the metrics a run prints, read from BENCHMARK.json at
the repository root, and the quantile rule used for every percentile."""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names mapped to their units."""
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile, up to p99, that leaves at least ``beyond``
    samples above it, and that percentile as a share: (value, q)."""
    q = min(0.99, max(0.5, 1.0 - beyond / len(values)))
    return quantile(values, q), q
