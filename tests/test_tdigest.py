"""t-digest quantile-sketch tiers (operators/tdigest.py).

The core guarantee under test: percentiles estimated from MERGED
digests (cascade path, post-retention path) stay within a small rank
error of the exact percentiles over the raw data — the property scalar
percentiles lack entirely (you cannot reaggregate p95s).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from logtrics_spark.operators import tdigest as td


def _rank_error(values: np.ndarray, estimate: float, q: float) -> float:
    """Distance from q to the estimate's empirical rank INTERVAL — tied
    values occupy a rank range [left, right], and any q inside it is a
    perfect answer (a point-rank metric would flag exact answers on
    discrete data)."""
    s = np.sort(values)
    lo = np.searchsorted(s, estimate, side="left") / len(s)
    hi = np.searchsorted(s, estimate, side="right") / len(s)
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


# ------------------------------------------------------------- core


def test_build_quantile_rank_error():
    rng = np.random.default_rng(42)
    for dist in (rng.normal(0, 1, 50_000), rng.exponential(5, 50_000), rng.integers(0, 10, 50_000).astype(float)):
        blob = td.build(dist)
        for q in (0.01, 0.25, 0.5, 0.75, 0.95, 0.99, 0.999):
            assert _rank_error(dist, td.quantile(blob, q), q) <= 0.02, (q,)


def test_extremes_are_exact():
    v = np.array([3.0, 1.0, 9.0, 4.0])
    blob = td.build(v)
    assert td.quantile(blob, 0.0) == 1.0
    assert td.quantile(blob, 1.0) == 9.0


def test_merge_matches_single_build():
    """digest(A ∪ B) and merge(digest(A), digest(B)) must agree within
    rank error — the composability that makes tier cascades valid."""
    rng = np.random.default_rng(7)
    a, b = rng.normal(0, 1, 20_000), rng.normal(3, 2, 20_000)
    both = np.concatenate([a, b])
    merged = td.merge([td.build(a), td.build(b)])
    for q in (0.05, 0.5, 0.95, 0.99):
        assert _rank_error(both, td.quantile(merged, q), q) <= 0.02


def test_merge_many_small_digests():
    """60 one-minute digests -> one hour digest (the cascade shape)."""
    rng = np.random.default_rng(3)
    chunks = [rng.exponential(2, 500) for _ in range(60)]
    merged = td.merge([td.build(c) for c in chunks])
    allv = np.concatenate(chunks)
    for q in (0.5, 0.95, 0.999):
        assert _rank_error(allv, td.quantile(merged, q), q) <= 0.02


def test_size_bound_and_determinism():
    rng = np.random.default_rng(11)
    v = rng.normal(0, 1, 100_000)
    blob = td.build(v)
    m, w, lo, hi, comp = td.from_bytes(blob)
    assert len(m) <= comp / 2 + 2
    assert w.sum() == pytest.approx(100_000)
    assert (lo, hi) == (v.min(), v.max())
    assert td.build(v) == blob  # same input -> same bytes


def test_nan_and_empty():
    assert td.quantile(td.build([]), 0.5) is None
    blob = td.build([1.0, float("nan"), 3.0])
    _, w, *_ = td.from_bytes(blob)
    assert w.sum() == 2.0
    merged = td.merge([td.build([]), blob])
    assert td.quantile(merged, 1.0) == 3.0


# ------------------------------------------------------------- spark


BASE = pd.Timestamp("2024-01-01 00:00:00")


def _points(spark, n_per_min=400, minutes=60):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(minutes):
        vals = rng.exponential(10, n_per_min)
        for v in vals:
            rows.append(("web", "lat", "timer", BASE + pd.Timedelta(minutes=i, seconds=int(v) % 60), float(v)))
    pdf = pd.DataFrame(rows, columns=["source", "metric", "kind", "ts", "value"])
    return spark.createDataFrame(pdf).repartition(4), pdf


def test_tdigest_rollup_and_cascade(spark):
    df, pdf = _points(spark)
    fine = td.tdigest_rollup(df, "1m").cache()
    assert fine.count() == 60

    # fine-tier estimates vs exact per-minute percentiles
    est = td.tdigest_quantiles(fine, [0.5, 0.95]).toPandas()
    pdf["minute"] = pdf["ts"].dt.floor("min")
    for _, r in est.iloc[:5].iterrows():
        exact = pdf[pdf.minute == r["window_start"]]["value"].to_numpy()
        assert _rank_error(exact, r["p50"], 0.5) <= 0.03
        assert _rank_error(exact, r["p95"], 0.95) <= 0.03

    # cascade 1m -> 1h: merged sketch answers hour-level percentiles the
    # scalar p95 column never could
    hour = td.tdigest_cascade(fine, "1m", "1h")
    hrows = td.tdigest_quantiles(hour, [0.5, 0.99]).collect()
    assert len(hrows) == 1
    allv = pdf["value"].to_numpy()
    assert _rank_error(allv, hrows[0]["p50"], 0.5) <= 0.02
    assert _rank_error(allv, hrows[0]["p99"], 0.99) <= 0.02
    fine.unpersist()


def test_tdigest_cascade_validation(spark):
    with pytest.raises(ValueError):
        td.tdigest_cascade(None, "1h", "1m")


def test_tdigest_stats_conservation(spark):
    """cnt/min/max recovered from the cascaded sketch == exact values —
    the weight-conservation invariant the driver oracle checks."""
    df, pdf = _points(spark, n_per_min=100, minutes=10)
    fine = td.tdigest_rollup(df, "1m")
    hour = td.tdigest_cascade(fine, "1m", "1h")
    row = td.tdigest_stats(hour).collect()[0]
    assert row["cnt"] == len(pdf)
    assert row["min"] == pdf["value"].min()
    assert row["max"] == pdf["value"].max()


def test_presketch_emits_nan_only_windows_like_direct(spark):
    """A window whose values are ALL NaN still yields a row: collect_list
    keeps the group and the build drops the NaNs, leaving an empty
    digest that `tdigest_stats` reads as cnt 0."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "source": ["a"] * 3 + ["b"] * 3,
            "metric": "m",
            "kind": "timer",
            "ts": pd.Timestamp("2024-01-01 00:00:30"),
            "value": [float("nan")] * 3 + [1.0, 2.0, float("nan")],
        }
    )
    df = spark.createDataFrame(rows).repartition(3)
    stats = td.tdigest_stats(td.tdigest_rollup(df, "1m"))
    rows = {r["source"]: r for r in stats.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["cnt"] == 0
    assert rows["a"]["min"] is None and rows["a"]["max"] is None
    assert rows["b"]["cnt"] == 2
    assert (rows["b"]["min"], rows["b"]["max"]) == (1.0, 2.0)
