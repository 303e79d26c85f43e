"""Tests for the benchmark's metric math, its input generator and its
output digest (no Spark needed).  Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import statistics

import pandas as pd
import pytest

import datagen
import metrics as M
import oracle


# -- tail percentile: highest rung with >= 10 samples beyond it ----------

@pytest.mark.parametrize(
    "n, want",
    [
        (0, None),
        (19, None),  # p50 leaves 9 beyond
        (20, 50.0),
        (39, 50.0),  # p75 leaves 9
        (40, 75.0),
        (99, 75.0),  # p90 leaves 9
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_beyond(n, want):
    assert M.tail_percentile(n) == want


def test_tail_percentile_is_highest_rung_with_ten_beyond():
    for n in range(0, 3000, 7):
        p = M.tail_percentile(n)
        if p is None:
            assert all(int(n * (100 - r) / 100 + 1e-9) < 10 for r in M.TAIL_LADDER)
            continue
        assert int(n * (100 - p) / 100 + 1e-9) >= 10
        assert all(int(n * (100 - r) / 100 + 1e-9) < 10 for r in M.TAIL_LADDER if r > p)


def test_percentile_interpolates_and_matches_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert M.percentile(xs, 0) == 1.0
    assert M.percentile(xs, 100) == 5.0
    assert M.percentile(xs, 50) == statistics.median(xs)
    assert M.percentile([1.0, 2.0], 75) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        M.percentile([], 50)


# -- span self time ------------------------------------------------------

def _span(i, parent, start, end, thread=1):
    return {"id": i, "parent": parent, "start": start, "end": end, "thread": thread}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: charged to 2, not 1
        _span(4, 1, 5.0, 9.0),
    ]
    st = M.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)


def test_self_time_ignores_children_on_other_threads_and_never_negative():
    spans = [
        _span(1, None, 0.0, 2.0, thread=1),
        _span(2, 1, 0.0, 2.0, thread=2),  # overlaps its parent from a pool thread
        _span(3, 1, 0.0, 1.5, thread=1),
        _span(4, 1, 0.5, 2.0, thread=1),  # same-thread children summing past the parent
    ]
    st = M.self_times(spans)
    assert st[1] == 0.0
    assert st[2] == pytest.approx(2.0)


# -- epoch summaries -----------------------------------------------------

def _epoch(rows, trigger_ms):
    return {"rows": rows, "trigger_ms": trigger_ms}


def test_empty_epoch_ratio():
    assert M.empty_epoch_ratio([]) == 0.0
    eps = [_epoch(10, 100), _epoch(0, 5), _epoch(3, 50), _epoch(0, 7)]
    assert M.empty_epoch_ratio(eps) == 0.5


def test_epoch_summary_uses_data_epochs_only():
    eps = [_epoch(100, 1000), _epoch(0, 1), _epoch(300, 3000), _epoch(200, 2000)]
    s = M.epoch_summary(eps)
    assert s["data_epochs"] == 3
    assert s["epoch_p50_ms"] == 2000
    assert s["input_rows_per_s"] == pytest.approx(600 / 6.0)
    assert s["epoch_tail_pct"] is None and s["epoch_tail_ms"] is None  # < 20 epochs


def test_epoch_summary_tail_on_large_sample():
    eps = [_epoch(1, float(ms)) for ms in range(1, 101)]
    s = M.epoch_summary(eps)
    assert s["epoch_tail_pct"] == 90.0
    assert s["epoch_tail_ms"] == pytest.approx(M.percentile(list(range(1, 101)), 90.0))
    assert M.epoch_summary([_epoch(0, 5)])["epoch_p50_ms"] is None


# -- inputs and output digest -------------------------------------------

def test_datagen_is_seed_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ca = datagen.generate(str(a), seed=7)
    datagen.generate(str(b), seed=7)
    datagen.generate(str(c), seed=(7, 1))
    assert ca["lineitem"] == 6000 and ca["events"] == 1000
    for name in ca:
        fa = pd.read_parquet(a / f"{name}.parquet")
        assert fa.equals(pd.read_parquet(b / f"{name}.parquet")), name
    assert not pd.read_parquet(a / "events.parquet").equals(pd.read_parquet(c / "events.parquet"))
    ev = pd.read_parquet(a / "events.parquet")
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique


def test_digest_is_order_and_column_order_insensitive():
    x = pd.DataFrame({"b": [1.5, 2.0], "a": ["x", "y"]})
    y = pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.5]})
    assert oracle.digest(x) == oracle.digest(y)
    z = pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.5000000001]})
    assert oracle.digest(x)[2] != oracle.digest(z)[2]


# -- layer instrumentation ----------------------------------------------

def test_instrument_rebinds_imported_copies_and_restores():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import spans
    from gmall_flink_0526_spark.operators import cache
    from gmall_flink_0526_spark.plans import catalog  # binds release_scoped by name

    orig = cache.release_scoped
    assert catalog.release_scoped is orig
    tracer = spans.Tracer("t")
    tracer.instrument()
    try:
        assert cache.release_scoped is not orig
        assert catalog.release_scoped is cache.release_scoped
        with tracer.span("plans.query"):
            catalog.release_scoped("no-such-scope")
        names = [s["name"] for s in tracer.spans]
        assert names == ["operators.release_scoped", "plans.query"]
        assert tracer.spans[0]["parent"] == tracer.spans[1]["id"]
    finally:
        tracer.uninstrument()
    assert cache.release_scoped is orig and catalog.release_scoped is orig
    assert not tracer.enabled
