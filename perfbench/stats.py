"""Tail percentiles the benchmark reports."""

from __future__ import annotations

import numpy as np

TAIL_MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def tail_percentiles(samples: list[float], ps=(90, 99, 99.9)) -> dict:
    """``{"n": count, "p90": ..., ...}`` with only the percentiles that have
    at least TAIL_MIN_BEYOND samples strictly beyond them."""
    out: dict = {"n": len(samples)}
    for p in ps:
        if not samples:
            break
        v = float(np.percentile(samples, p))
        if sum(1 for x in samples if x > v) >= TAIL_MIN_BEYOND:
            out[f"p{p:g}"] = v
    return out
