"""Daemon live-store housekeeping: latest-wins compaction, the restart
flush_seq floor, and the closed-day handoff into the batch archival
store (plans/daemon.py compact/archive_closed_days).

The daemon's snapshot-flush layout appends one version of every open
window per flush tick — without compaction a long-running deployment
grows without bound, and without the handoff the live head and the
sealed RollupJob history are disjoint stores a user reconciles by hand.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

KEY = ["source", "metric", "kind"]
TIER_COLS = KEY + ["window_start"]


def _daemon(spark, tmp_path, name="store", extra_toml=""):
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import Daemon

    p = tmp_path / f"{name}.toml"
    p.write_text('modes = ["console"]\n' + extra_toml)
    return Daemon(spark, load_toml(str(p)), _engine(), str(tmp_path / name))


def _engine():
    from logtrics_spark.api import Engine

    eng = Engine()

    def handler(caps, m):
        m.counter("req").inc(1)

    eng.rule("r", r"(?P<n>\d+)", handler)
    return eng


def _points(spark, day: str, n: int, value0: float = 1.0, source="web"):
    """n per-minute points on the given day (deterministic values)."""
    base = pd.Timestamp(f"{day} 00:00:00")
    pdf = pd.DataFrame(
        {
            "source": [source] * n,
            "metric": ["req"] * n,
            "kind": ["counter"] * n,
            "ts": [base + pd.Timedelta(minutes=i) for i in range(n)],
            "value": [value0 + i for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


def _flush(d, spark, day, n, value0=1.0):
    """One flush tick: rollup synthetic points and push through the
    daemon sink (exactly what process_lines does after the engine)."""
    from logtrics_spark.operators.rollup import rollup

    d._sink(rollup(_points(spark, day, n, value0), d.tier), batch_id=-1)


def test_compact_drops_superseded_snapshots(spark, tmp_path):
    """M flush ticks -> compact: store rows == distinct (series, window)
    and read_tier_latest output is unchanged; a post-compact flush still
    wins latest-wins."""
    d = _daemon(spark, tmp_path)
    # 3 snapshot versions of overlapping windows (running counters)
    _flush(d, spark, "2024-03-01", 5, value0=1.0)
    _flush(d, spark, "2024-03-01", 8, value0=2.0)
    _flush(d, spark, "2024-03-01", 10, value0=3.0)

    raw = d.io.read("tiers/tier=1m")
    assert raw.count() > raw.select(*TIER_COLS).distinct().count()
    before = (
        d.read_tier_latest().orderBy(*TIER_COLS).toPandas().reset_index(drop=True)
    )

    counts = d.compact()
    assert counts == {"1m": 10}
    raw = d.io.read("tiers/tier=1m")
    assert raw.count() == raw.select(*TIER_COLS).distinct().count() == 10
    after = (
        d.read_tier_latest().orderBy(*TIER_COLS).toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)

    # a flush AFTER compaction must still supersede the compacted rows
    _flush(d, spark, "2024-03-01", 2, value0=100.0)
    latest = d.read_tier_latest().orderBy("window_start").toPandas()
    assert latest.iloc[0]["sum"] == 100.0


def test_compact_every_auto_cadence(spark, tmp_path):
    """graphite.compact_every = 2: the second flush triggers compaction
    from inside the sink."""
    d = _daemon(spark, tmp_path, extra_toml="[graphite]\ncompact_every = 2\n")
    assert d.compact_every == 2
    _flush(d, spark, "2024-03-01", 4, value0=1.0)
    _flush(d, spark, "2024-03-01", 4, value0=2.0)
    raw = d.io.read("tiers/tier=1m")
    assert raw.count() == 4  # two 4-row snapshots compacted to one
    assert d._flushes_since_compact == 0


def test_flush_seq_floor_survives_restart(spark, tmp_path):
    """A new Daemon over an existing store must stamp ABOVE the stored
    max flush_seq even when its clock says otherwise (clock stepping
    backwards must not let stale snapshots win)."""
    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 3)
    # poison the store with a far-future flush_seq (simulates rows
    # written before a backwards clock step)
    future = 4_102_444_800 * 1_000_000  # year 2100 in µs
    rows = d.io.read("tiers/tier=1m").withColumn("flush_seq", F.lit(future))
    rows = rows.withColumn("tier", F.lit("1m"))
    d.io.write_partitioned(rows, "tiers", ["tier", "day"])

    d2 = _daemon(spark, tmp_path)  # same store path, fresh process
    assert d2._next_flush_seq() > future


def test_archive_closed_days_handoff(spark, tmp_path):
    """Flush ticks spanning a day boundary -> archive: the closed day is
    served from the RollupJob chunk store, the live store keeps only
    the open day, and a second archive call is a no-op."""
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(
        spark, tmp_path, extra_toml='[graphite]\ntiers = ["1m", "1h"]\n'
    )
    _flush(d, spark, "2024-03-01", 60, value0=1.0)  # closed day
    _flush(d, spark, "2024-03-02", 5, value0=7.0)  # open day
    closed_latest = (
        d.read_tier_latest()
        .where(F.col("window_start") < "2024-03-02")
        .orderBy(*TIER_COLS)
        .toPandas()
        .reset_index(drop=True)
    )

    job = RollupJob(spark, str(tmp_path / "archive"), tiers=["1m", "1h"])
    stats = d.archive_closed_days(job)
    assert stats["1m"] == 1 and stats["1h"] == 1  # one (web, day) unit each

    # closed day served from Gorilla chunks, values intact
    served = (
        job.read_tier_from_chunks("1m")
        .select(*TIER_COLS, "cnt", "sum", "min", "max")
        .orderBy(*TIER_COLS)
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        served, closed_latest[served.columns.tolist()], check_dtype=False
    )
    # read_tier decodes every column of the closed day, type for type,
    # and the archive keeps no tiers/ row copy
    full = job.read_tier("1m").orderBy(*TIER_COLS).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(full, closed_latest[full.columns.tolist()])
    assert full.columns.tolist() == [c for c in closed_latest.columns if c != "flush_seq"]
    assert not job.io.exists("tiers")
    # cascade archived too, and sealed in lineage for every tier
    assert job.read_tier("1h").count() == 1
    sealed = job.io.sealed_units().toPandas()
    assert set(sealed["tier"]) == {"1m", "1h"}

    # live store holds ONLY the open day now
    assert d.io.list_partitions("tiers/tier=1m", "day") == ["2024-03-02"]
    assert d.read_tier_latest().count() == 5
    # idempotent: nothing left before the open day
    assert d.archive_closed_days(job) == {}


def test_archive_tier_mismatch_raises(spark, tmp_path):
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    job = RollupJob(spark, str(tmp_path / "a"), tiers=["1h", "1d"])
    with pytest.raises(ValueError, match="finest tier"):
        d.archive_closed_days(job)


def test_cli_compact_and_archive(spark, tmp_path, capsys):
    """The compact/archive subcommands drive the same paths end-to-end."""
    from logtrics_spark.__main__ import main

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 4, value0=1.0)
    _flush(d, spark, "2024-03-01", 4, value0=2.0)
    _flush(d, spark, "2024-03-02", 2, value0=5.0)
    store = str(tmp_path / "store")

    assert main(["compact", "--store", store]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["compacted"] == {"1m": 6}

    assert (
        main([
            "archive", "--store", store,
            "--archive-store", str(tmp_path / "arch"), "--tiers", "1m,1h",
        ])
        == 0
    )
    out = json.loads(capsys.readouterr().out)
    assert out["sealed_units"]["1m"] == 1


def test_read_tier_over_daemon_live_store(spark, tmp_path):
    """RollupJob.read_tier (what the graphite/alerts/query CLI commands
    use) over a daemon live store, which has no chunks: every stored
    snapshot row, flush_seq included, exactly as written."""
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 30, value0=1.0)
    _flush(d, spark, "2024-03-01", 30, value0=2.0)
    got = RollupJob(spark, str(tmp_path / "store")).read_tier("1m")
    want = d.io.read("tiers/tier=1m").drop("day")
    assert got.schema == want.schema and got.count() == 60
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_read_tier_serves_a_day_in_both_stores_once(spark, tmp_path, crash_after):
    """An archive into the live store itself that stops after its seal,
    before its live-head drops, leaves the closed day in both tiers/ and
    chunks/: read_tier serves that day once, from the chunks, and the
    open day from the head."""
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 60, value0=1.0)  # closed day
    _flush(d, spark, "2024-03-02", 5, value0=7.0)  # open day
    want = d.read_tier_latest().orderBy(*TIER_COLS).toPandas()
    job = RollupJob(spark, str(tmp_path / "store"), tiers=["1m"])
    with crash_after("lineage"):
        d.archive_closed_days(job)
    assert job.io.list_partitions("chunks/tier=1m", "day") == ["2024-03-01"]
    assert d.io.list_partitions("tiers/tier=1m", "day") == ["2024-03-01", "2024-03-02"]

    got = job.read_tier("1m").orderBy(*TIER_COLS).toPandas()
    assert got["flush_seq"].isna().tolist() == [True] * 60 + [False] * 5
    cols = [c for c in got.columns if c != "flush_seq"]
    pd.testing.assert_frame_equal(got[cols], want[cols])


def test_alerts_cli_resolves_daemon_snapshots(spark, tmp_path, capsys):
    """ADVICE r3: alerts over a snapshot-flush store must score the
    latest-wins view — one row per window, stale snapshots ignored."""
    from logtrics_spark.__main__ import main

    d = _daemon(spark, tmp_path)
    # stale snapshot says every window is a huge spike; latest says flat.
    _flush(d, spark, "2024-03-01", 30, value0=1000.0)
    _flush(d, spark, "2024-03-01", 30, value0=1.0)
    store = str(tmp_path / "store")

    rc = main([
        "alerts", "--store", store, "--tier", "1m", "--value-col", "avg",
        "--window-seconds", "600", "--threshold", "0.1", "--limit", "200",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l]
    assert lines  # the ramp flags plenty at |z| > 0.1
    keys = [l.rsplit(" avg=", 1)[0] for l in lines]
    avgs = [float(l.rsplit(" avg=", 1)[1].split(" ")[0]) for l in lines]
    # one scored row per window (stale snapshots would duplicate every
    # key) and every value comes from the LATEST snapshot (ramp < 100,
    # the superseded snapshot sat at 1000+)
    assert len(keys) == len(set(keys))
    assert all(a < 100 for a in avgs)
