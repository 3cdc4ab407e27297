"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math


def percentile(values, q: float) -> dict:
    """``{"value": p, "n": count}``: the ``q``-th percentile (0..100) of
    ``values`` by linear interpolation between closest ranks, with the
    sample count it rests on. An empty sample has no percentile."""
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": value, "n": len(xs)}


def failed_frac(failed: int, attempted: int) -> float:
    """Failed ops over attempted ops."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted
