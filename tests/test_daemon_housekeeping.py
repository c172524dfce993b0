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
    and the read_tier output is unchanged; a post-compact flush still
    wins latest-wins."""
    d = _daemon(spark, tmp_path)
    # 3 snapshot versions of overlapping windows (running counters)
    _flush(d, spark, "2024-03-01", 5, value0=1.0)
    _flush(d, spark, "2024-03-01", 8, value0=2.0)
    _flush(d, spark, "2024-03-01", 10, value0=3.0)

    raw = d.io.read("tiers/tier=1m")
    assert raw.count() > raw.select(*TIER_COLS).distinct().count()
    before = (
        d.live.read_tier(d.tier).orderBy(*TIER_COLS).toPandas().reset_index(drop=True)
    )

    counts = d.compact()
    assert counts == {"1m": 10}
    raw = d.io.read("tiers/tier=1m")
    assert raw.count() == raw.select(*TIER_COLS).distinct().count() == 10
    after = (
        d.live.read_tier(d.tier).orderBy(*TIER_COLS).toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)

    # a flush AFTER compaction must still supersede the compacted rows
    _flush(d, spark, "2024-03-01", 2, value0=100.0)
    latest = d.live.read_tier(d.tier).orderBy("window_start").toPandas()
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
        d.live.read_tier(d.tier)
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
    assert d.live.read_tier(d.tier).count() == 5
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
    """RollupJob.read_tier (what the daemon's housekeeping and the
    graphite/alerts/read CLI commands use) over a daemon live store,
    which has no chunks: one row per window with the latest snapshot's
    values, in the stored column order, and no flush_seq.  A bounded
    read with ``cols`` returns exactly the resolved rows of the
    inclusive range, with the key, window_start and those columns."""
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 30, value0=1.0)
    _flush(d, spark, "2024-03-01", 20, value0=2.0)  # supersedes windows 0..19
    latest = [2.0 + i for i in range(20)] + [1.0 + i for i in range(20, 30)]
    job = RollupJob(spark, str(tmp_path / "store"))
    got = job.read_tier("1m")
    stored = d.io.read("tiers/tier=1m").drop("day")
    assert stored.count() == 50
    assert got.columns == [c for c in stored.columns if c != "flush_seq"]
    pdf = got.orderBy("window_start").toPandas()
    assert len(pdf) == 30 and pdf["window_start"].is_unique
    assert pdf["sum"].tolist() == latest

    got = job.read_tier("1m", "2024-03-01 00:10:00", "2024-03-01 00:24:00", cols=["cnt", "sum"])
    assert got.columns == [*TIER_COLS, "cnt", "sum"]
    pdf = got.orderBy("window_start").toPandas()
    want = pd.Timestamp("2024-03-01") + pd.to_timedelta(range(10, 25), unit="min")
    assert pdf["window_start"].tolist() == want.tolist()
    assert pdf["cnt"].tolist() == [1] * 15
    assert pdf["sum"].tolist() == latest[10:25]


def _tree(root) -> dict:
    """Every file under ``root``, relative path -> bytes."""
    from pathlib import Path

    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(Path(root).rglob("*"))
        if p.is_file()
    }


def test_archive_into_the_live_store_raises(spark, tmp_path):
    """A store has one writer: an archive job over the daemon's own root
    raises before any read or write, through the library call and the
    `archive` CLI, however the same path is spelled.  The store is byte
    for byte unchanged."""
    from logtrics_spark.__main__ import main
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 60, value0=1.0)  # closed day
    _flush(d, spark, "2024-03-02", 5, value0=7.0)  # open day
    store = tmp_path / "store"
    before = _tree(store)
    for spelled in (str(store), f"{store}/", str(tmp_path / "x" / ".." / "store")):
        with pytest.raises(ValueError, match="is the live store"):
            d.archive_closed_days(RollupJob(spark, spelled, tiers=["1m"]))
        with pytest.raises(ValueError, match="is the live store"):
            main(["archive", "--store", str(store), "--archive-store", spelled, "--tiers", "1m"])
        assert _tree(store) == before
    assert not (tmp_path / "x").exists()
    assert not d.io.exists("chunks") and not d.io.exists("lineage")


def test_graphite_cli_over_live_store_prints_latest_once(spark, tmp_path, capsys):
    """`graphite --dry-run` over a live store holding two snapshot
    versions of the same windows prints one line per field and window,
    with the latest values."""
    from logtrics_spark.__main__ import main

    d = _daemon(spark, tmp_path)
    _flush(d, spark, "2024-03-01", 3, value0=1.0)
    _flush(d, spark, "2024-03-01", 3, value0=10.0)
    _flush(d, spark, "2024-03-02", 2, value0=100.0)
    store = str(tmp_path / "store")
    assert main(["graphite", "--store", store, "--tier", "1m", "--dry-run"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 5
    assert sorted(float(ln.split(" ")[1]) for ln in lines) == [10, 11, 12, 100, 101]


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
