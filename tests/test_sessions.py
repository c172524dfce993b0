"""Sessionization (operators/sessions.py): inactivity-gap assignment,
boundary semantics (gap == threshold stays in-session), and per-session
stats — hand-computed on tiny timelines; cross-engine equality is the
driver oracle's job (sessions_30m)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from logtrics_spark.operators.sessions import session_stats, sessionize

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    """rows: (user, offset_seconds)"""
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s)) for u, s in rows],
        "user_id long, ts timestamp",
    )


def test_gap_splits_sessions_and_boundary_stays(spark):
    df = _events(
        spark,
        [
            (1, 0), (1, 100), (1, 400),  # session 1 (gaps 100, 300)
            (1, 700),                    # gap exactly 300 -> SAME session
            (1, 1001 + 700),             # gap 1001 > 300 -> session 2
            (2, 0),                      # other key: own numbering
        ],
    )
    out = sessionize(df, ["user_id"], gap_seconds=300)
    got = {
        (r["user_id"], r["ts"]): r["session_idx"]
        for r in out.collect()
    }
    u1 = [got[(1, T0 + timedelta(seconds=s))] for s in (0, 100, 400, 700, 1701)]
    assert u1 == [1, 1, 1, 1, 2]
    assert got[(2, T0)] == 1


def test_session_stats_counts_and_duration(spark):
    df = _events(spark, [(1, 0), (1, 10), (1, 2000), (1, 2100)])
    out = session_stats(df, ["user_id"], gap_seconds=300).orderBy("session_idx")
    rows = out.collect()
    assert [r["n_events"] for r in rows] == [2, 2]
    assert rows[0]["duration_s"] == pytest.approx(10.0)
    assert rows[1]["duration_s"] == pytest.approx(100.0)
    assert rows[1]["start_us"] - rows[0]["end_us"] == 1990 * 1_000_000


def test_microsecond_precision_boundary(spark):
    """One µs past the threshold must split — the integer-µs compare
    can't be blurred by float epoch rounding."""
    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base),
            (1, base + timedelta(seconds=300)),  # == gap -> same
            (1, base + timedelta(seconds=600, microseconds=1)),  # +1µs -> new
        ],
        "user_id long, ts timestamp",
    )
    out = sessionize(df, ["user_id"], gap_seconds=300).orderBy("ts")
    assert [r["session_idx"] for r in out.collect()] == [1, 1, 2]


def test_validation(spark):
    with pytest.raises(ValueError):
        sessionize(None, ["user_id"], gap_seconds=0)


def test_bucketed_equals_direct(spark):
    """session_stats_bucketed (the hot-key scale path) must be
    row-identical to the direct computation — including sessions that
    span one and two bucket edges."""
    import pandas as pd

    from logtrics_spark.operators.sessions import session_stats_bucketed

    rows = []
    # user 1: a session spanning the 3600s bucket edge, plus an
    # isolated later session
    rows += [(1, s) for s in (3500, 3550, 3650, 9000)]
    # user 2: continuous activity every 200s across TWO bucket edges
    rows += [(2, s) for s in range(3000, 11000, 200)]
    # user 3: single event
    rows += [(3, 42)]
    df = _events(spark, rows)

    direct = (
        session_stats(df, ["user_id"], gap_seconds=300)
        .orderBy("user_id", "session_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    bucketed = (
        session_stats_bucketed(
            df, ["user_id"], gap_seconds=300, bucket_seconds=3600
        )
        .orderBy("user_id", "session_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        bucketed[direct.columns.tolist()], direct, check_dtype=False
    )


def test_bucketed_validation(spark):
    from logtrics_spark.operators.sessions import session_stats_bucketed

    with pytest.raises(ValueError, match="must exceed"):
        session_stats_bucketed(None, ["user_id"], gap_seconds=600, bucket_seconds=600)
