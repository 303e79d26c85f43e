"""Pure metric math for the benchmark (no Spark): percentiles, span
self time and the micro-batch (epoch) summaries."""

from __future__ import annotations

import math
import statistics

from collections.abc import Iterable, Sequence

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 100]) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, ladder: Iterable[float] = TAIL_LADDER,
                    min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """The highest ladder percentile that still has at least
    ``min_beyond`` of ``n`` samples strictly beyond it, or None when
    even the lowest rung has fewer (the sample is too small for a tail)."""
    for p in sorted(ladder, reverse=True):
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= min_beyond:
            return p
    return None


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the durations of its
    direct children that ran on the same thread (children on other
    threads overlap their parent rather than nest in it). Never negative."""
    child_sum: dict[int, float] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and parent["thread"] == s["thread"]:
            child_sum[parent["id"]] = child_sum.get(parent["id"], 0.0) + (s["end"] - s["start"])
    return {
        s["id"]: max(0.0, (s["end"] - s["start"]) - child_sum.get(s["id"], 0.0)) for s in spans
    }


def empty_epoch_ratio(epochs: Sequence[dict]) -> float:
    """No-data micro-batches over all micro-batches (0 when none ran)."""
    if not epochs:
        return 0.0
    return sum(1 for e in epochs if e["rows"] == 0) / len(epochs)


def epoch_summary(epochs: Sequence[dict]) -> dict[str, float | None]:
    """End-to-end epoch figures over data-bearing micro-batches:
    median and tail trigger time, and closed-loop catch-up throughput
    (sum of input rows over sum of trigger time)."""
    data = [e for e in epochs if e["rows"] > 0]
    if not data:
        return {"epoch_p50_ms": None, "epoch_tail_ms": None, "epoch_tail_pct": None,
                "input_rows_per_s": None, "data_epochs": 0}
    trig = [e["trigger_ms"] for e in data]
    pct = tail_percentile(len(trig))
    total_ms = sum(trig)
    return {
        "epoch_p50_ms": statistics.median(trig),
        "epoch_tail_ms": percentile(trig, pct) if pct is not None else None,
        "epoch_tail_pct": pct,
        "input_rows_per_s": sum(e["rows"] for e in data) / (total_ms / 1000.0) if total_ms else None,
        "data_epochs": len(data),
    }
