"""LTTB downsampling (operators/downsample.py)."""

from __future__ import annotations

import math
from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from logtrics_spark.operators.downsample import lttb, lttb_fold

BASE = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)


def test_fold_keeps_endpoints_and_count():
    xs = np.arange(100, dtype="float64")
    ys = np.sin(xs / 7.0)
    idx = lttb_fold(xs, ys, 12)
    assert len(idx) == 12
    assert idx[0] == 0 and idx[-1] == 99
    assert idx == sorted(idx)


def test_fold_passthrough_and_validation():
    assert lttb_fold([0, 1, 2], [5, 6, 7], 10) == [0, 1, 2]
    with pytest.raises(ValueError):
        lttb_fold(list(range(10)), list(range(10)), 2)


def test_fold_keeps_spike():
    """The whole point of LTTB over averaging: a one-slot spike in a
    flat series must survive aggressive downsampling."""
    n = 500
    ys = [1.0] * n
    ys[333] = 100.0
    idx = lttb_fold(np.arange(n, dtype="float64"), ys, 20)
    assert 333 in idx


def test_spark_lttb_matches_fold(spark):
    n = 240
    vals = [10 + 5 * math.sin(i / 9.0) for i in range(n)]
    vals[100] = 60.0
    rows = [
        ("s", "m", "gauge", BASE + timedelta(minutes=i), float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "source string, metric string, kind string, "
        "window_start timestamp, avg double",
    )
    got = (
        lttb(df, "avg", 30)
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    xs = np.arange(n, dtype="float64") * 60
    exp_idx = lttb_fold(xs, np.array(vals), 30)
    assert len(got) == 30
    assert list(got["avg"]) == [vals[i] for i in exp_idx]
    assert 60.0 in set(got["avg"])  # the spike survived


def test_spark_lttb_drops_nulls_and_small_series_pass_through(spark):
    rows = [
        ("s", "m", "gauge", BASE + timedelta(minutes=i), v)
        for i, v in enumerate([1.0, None, 3.0, 4.0])
    ]
    df = spark.createDataFrame(
        rows,
        "source string, metric string, kind string, "
        "window_start timestamp, avg double",
    )
    got = lttb(df, "avg", 10).toPandas()
    assert sorted(got["avg"]) == [1.0, 3.0, 4.0]
    with pytest.raises(ValueError):
        lttb(df, "avg", 2)


def test_lttb_honors_custom_key(spark):
    """ADVICE r3: key=["source"] must drive both the grouping AND the
    output schema — inputs without metric/kind columns work."""
    import pandas as _pd

    pdf = _pd.DataFrame(
        {
            "source": ["a"] * 20,
            "window_start": _pd.date_range("2024-01-01", periods=20, freq="min"),
            "v": [float(i % 7) for i in range(20)],
        }
    )
    out = lttb(spark.createDataFrame(pdf), "v", n_out=6, key=["source"])
    assert out.columns == ["source", "window_start", "v"]
    assert out.count() == 6


def test_fold_matches_independent_thesis_port_on_adversarial_shapes():
    """Differential: lttb_fold (vectorized) vs the driver contract's
    plain-Python Steinarsson port on the shapes where summation-order
    differences show up — constant series, step series (ties
    everywhere), and random data.  A pairwise-vs-sequential mean
    mismatch flips argmax on exact ties; this pins bit-identity."""
    import sys
    from pathlib import Path

    import numpy as np

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from __spark_entry__ import _lttb_steinarsson

    from logtrics_spark.operators.downsample import lttb_fold

    rng = np.random.default_rng(7)
    cases = [
        np.full(9000, 0.1),                                   # constant
        np.repeat(rng.uniform(0, 10, 40), 100),               # step/plateau
        rng.normal(0, 1, 5000),                               # random
        np.where(np.arange(3000) % 7 == 0, 5.0, 0.1),          # spiky ties
    ]
    for i, ys in enumerate(cases):
        xs = np.arange(len(ys), dtype="int64") * 60
        got = lttb_fold(xs, ys.astype("float64"), 200)
        exp = _lttb_steinarsson(
            [float(x) for x in xs], [float(y) for y in ys], 200
        )
        assert got == exp, f"case {i}: {sum(a != b for a, b in zip(got, exp))} diverged"
