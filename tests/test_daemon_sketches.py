"""Sketch tiers wired into the daemon (plans/daemon.py [sketches]):
flush ticks build finest-tier mergeable summaries, cascade_tiers merges
them up the tier ladder, archive_closed_days lands them in the batch
store before the live head drops — so the LIVE deployment answers
post-retention p95 / top-k / distinct the way the batch path's sketch
tables do (test_sketch_store.py), per VERDICT r4 #4.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

KEY = ["source", "metric", "kind"]

SK_TOML = (
    '[graphite]\ntiers = ["1m", "1h"]\n'
    '[sketches]\nenabled = ["tdigest", "mg", "hll", "cms"]\nitem_col = "user"\nmg_k = 64\n'
)


def _daemon(spark, tmp_path, name="store"):
    from logtrics_spark.config import load_toml
    from logtrics_spark.plans.daemon import Daemon

    p = tmp_path / f"{name}.toml"
    p.write_text('modes = ["console"]\n' + SK_TOML)
    from logtrics_spark.api import Engine

    eng = Engine()
    eng.rule("r", r"(?P<n>\d+)", lambda caps, m: m.counter("req").inc(1))
    return Daemon(spark, load_toml(str(p)), eng, str(tmp_path / name))


def _points_pdf(day: str, minutes: range, seed: int = 3) -> pd.DataFrame:
    """Per-minute timer points with a value and a skewed user id; user
    7 is the planted heavy hitter (appears every minute)."""
    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp(f"{day} 00:00:00")
    for m in minutes:
        rows.append(("web", "lat", "timer", base + pd.Timedelta(minutes=m), float(m), 7))
        for j in range(3):
            rows.append(
                (
                    "web",
                    "lat",
                    "timer",
                    base + pd.Timedelta(minutes=m, seconds=10 + j),
                    float(m) + j / 10.0,
                    int(rng.integers(100, 160)),
                )
            )
    return pd.DataFrame(rows, columns=["source", "metric", "kind", "ts", "value", "user"])


def _drain(d, spark, pdf):
    """One drain tick: scalar sink + sketch snapshots, the
    process_lines composition with synthetic points."""
    from logtrics_spark.operators.rollup import rollup

    pts = spark.createDataFrame(pdf)
    d._sink(rollup(pts, d.tier), batch_id=-1)
    d._write_sketches(pts, origin="drain")


def test_daemon_sketch_e2e_flush_cascade_archive(spark, tmp_path, io_calls):
    """N flush ticks -> cascade -> archive -> fine drops: the ARCHIVED
    coarse sketches still answer quantile/top-k/distinct within the
    sketch envelopes.  The cascade is one tiers/ append and one append
    per sketch kind; the archive writes chunks, each sk_<kind> table
    once, one lineage append, then drops the live head."""
    from logtrics_spark.operators import tdigest as td
    from logtrics_spark.operators.heavyhitters import mg_topk
    from logtrics_spark.operators.rollup import set_sketch_estimate
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    closed = _points_pdf("2024-03-01", range(60))
    # tick 1 is a PARTIAL snapshot, tick 2 the cumulative superset of
    # the closed day (drain semantics); tick 3 opens the next day
    _drain(d, spark, closed.iloc[: len(closed) // 2])
    _drain(d, spark, closed)
    open_day = _points_pdf("2024-03-02", range(5), seed=9)
    _drain(d, spark, open_day)

    # live cascade: coarse sketch rows appear alongside scalar tiers
    kinds = ["tdigest", "mg", "hll", "cms"]
    io_calls.clear()
    counts = d.cascade_tiers()
    assert io_calls == [("write", "tiers"), *[("write", f"sk_{k}") for k in kinds]]
    assert counts["sk_tdigest:1h"] == 2  # one 1h window per day
    assert counts["sk_mg:1h"] == 2 and counts["sk_hll:1h"] == 2
    assert counts["sk_cms:1h"] == 2

    job = RollupJob(spark, str(tmp_path / "archive"), tiers=["1m", "1h"])
    io_calls.clear()
    stats = d.archive_closed_days(job)
    seal = [("write", "chunks"), *[("write", f"sk_{k}") for k in kinds], ("lineage", "lineage")]
    assert io_calls[: len(seal)] == seal
    drops = io_calls[len(seal):]
    assert drops and all(kind == "drop" for kind, _t in drops)
    assert drops[-1] == ("drop", "tiers/tier=1m/day=2024-03-01")  # the finest scalar tier last
    assert stats["sk_tdigest:1m"] == 60 and stats["sk_tdigest:1h"] == 1
    assert stats["sk_mg:1h"] == 1 and stats["sk_hll:1h"] == 1
    assert stats["sk_cms:1m"] == 60 and stats["sk_cms:1h"] == 1

    # live head dropped the closed day's sketches, kept the open day
    for name in ("tdigest", "mg", "hll", "cms"):
        assert d.io.list_partitions(f"sk_{name}/tier=1m", "day") == ["2024-03-02"]

    # ARCHIVED 1h sketches answer everything for the dropped day
    vals = closed["value"].to_numpy()
    hour_td = job.io.read("sk_tdigest/tier=1h").drop("day")
    row = td.tdigest_stats(hour_td).collect()[0]
    assert row["cnt"] == len(closed)
    assert row["min"] == vals.min() and row["max"] == vals.max()
    p50 = td.tdigest_quantiles(hour_td, [0.5]).collect()[0]["p50"]
    rank = np.searchsorted(np.sort(vals), p50) / len(vals)
    assert abs(rank - 0.5) <= 0.02

    top = mg_topk(job.io.read("sk_mg/tier=1h").drop("day"), n=1).collect()[0]
    assert top["item"] == "7"  # the planted heavy hitter survived
    assert top["total_n"] == len(closed)

    est = set_sketch_estimate(job.io.read("sk_hll/tier=1h").drop("day")).collect()[0]
    true_distinct = closed["user"].nunique()
    assert abs(est["cnt_distinct"] - true_distinct) / true_distinct <= 0.05

    # CMS answers point frequency for ANY item post-retention — incl.
    # tail users the MG summary may have clipped (user 7 is planted
    # once per minute; ~60 users vs width 1024 -> collision-free)
    from logtrics_spark.operators.countmin import cms_query

    freq = cms_query(job.io.read("sk_cms/tier=1h").drop("day"), ["7"]).collect()[0]
    assert freq["est_count"] == 60 and freq["total_n"] == len(closed)

    # idempotent: second archive is a no-op and leaves the store intact
    assert d.archive_closed_days(job) == {}


def test_daemon_sketch_drain_latest_wins_and_compact(spark, tmp_path):
    """Cumulative drains supersede (no double counting), and compaction
    collapses the superseded snapshot versions without changing the
    consolidated read."""
    from logtrics_spark.operators import tdigest as td

    d = _daemon(spark, tmp_path)
    pdf = _points_pdf("2024-03-01", range(10))
    _drain(d, spark, pdf.iloc[: len(pdf) // 3])
    _drain(d, spark, pdf.iloc[: 2 * len(pdf) // 3])
    _drain(d, spark, pdf)

    stats = td.tdigest_stats(d.live.read_sketch_tier("tdigest", d.tier)).agg(F.sum("cnt")).collect()[0][0]
    assert stats == len(pdf)  # superseded snapshots resolved, not summed

    raw_before = d.io.read("sk_tdigest/tier=1m").count()
    before = (
        td.tdigest_stats(d.live.read_sketch_tier("tdigest", d.tier))
        .select(*KEY, "window_start", "cnt", "min", "max")
        .orderBy("window_start")
        .toPandas()
        .reset_index(drop=True)
    )
    counts = d.compact()
    assert counts["sk_tdigest:1m"] < raw_before
    after = (
        td.tdigest_stats(d.live.read_sketch_tier("tdigest", d.tier))
        .select(*KEY, "window_start", "cnt", "min", "max")
        .orderBy("window_start")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)


def test_daemon_sketch_stream_partials_dedupe_replay(spark, tmp_path):
    """Streaming path semantics (origin='stream'): per-batch partials
    MERGE across batches, and an at-least-once replay of a batch (same
    batch id re-appended after a foreachBatch retry) counts once."""
    from logtrics_spark.operators import tdigest as td

    d = _daemon(spark, tmp_path)
    pdf = _points_pdf("2024-03-01", range(6))
    b0, b1 = pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :]
    d._sketch_sink(spark.createDataFrame(b0), batch_id=0)
    d._sketch_sink(spark.createDataFrame(b1), batch_id=1)
    d._sketch_sink(spark.createDataFrame(b1), batch_id=1)  # replay

    total = (
        td.tdigest_stats(d.live.read_sketch_tier("tdigest", d.tier)).agg(F.sum("cnt")).collect()[0][0]
    )
    assert total == len(pdf)  # batches merged, replay deduped


def test_daemon_sketch_config_validation(spark, tmp_path):
    from logtrics_spark.api import Engine
    from logtrics_spark.config import ConfigError
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.plans.pipeline import RollupJob

    eng = Engine()
    eng.rule("r", r"(?P<n>\d+)", lambda caps, m: m.counter("req").inc(1))
    with pytest.raises(ValueError, match="unknown sketch kinds"):
        Daemon(
            spark,
            {"modes": ["console"], "sketches": {"enabled": ["bloom"]}},
            eng,
            str(tmp_path / "s"),
        )
    # unknown [sketches] keys raise instead of being dropped: a removed
    # option, and a typo of a real one
    for bad in ({"presketch": True}, {"mg_K": 64}):
        with pytest.raises(ConfigError, match="unknown \\[sketches\\] keys"):
            Daemon(
                spark,
                {"modes": ["console"], "sketches": {"enabled": ["mg"], **bad}},
                eng,
                str(tmp_path / "s"),
            )
    with pytest.raises(ConfigError, match="presketch"):
        RollupJob(spark, str(tmp_path / "j"), sketches={"enabled": ["mg"], "presketch": True})
    d = _daemon(spark, tmp_path)
    with pytest.raises(ValueError, match="no sk_tdigest"):
        d.live.read_sketch_tier("tdigest", d.tier)
    with pytest.raises(ValueError, match="unknown sketch kind"):
        d.live.read_sketch_tier("bloom", d.tier)


def test_daemon_sketch_file_stream_once(spark, tmp_path):
    """file mode + sketches: the second (stateless append) stream lands
    per-batch partials that consolidate to the exact value set."""
    from logtrics_spark.api import Engine
    from logtrics_spark.config import load_toml
    from logtrics_spark.operators import tdigest as td
    from logtrics_spark.plans.daemon import run_daemon

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text(
        "\n".join(f"GET /x 200 {v}ms" for v in (3, 5, 7, 30)) + "\n"
    )
    p = tmp_path / "config.toml"
    p.write_text(
        'modes = ["file"]\n[graphite]\ninterval = 1\n'
        '[sketches]\nenabled = ["tdigest"]\n'
    )
    eng = Engine()
    eng.rule(
        "lat", r"(?P<ms>\d+)ms", lambda caps, m: m.timer("http.latency").update(caps["ms"])
    )
    d = run_daemon(
        spark, load_toml(str(p)), eng, str(tmp_path / "store"),
        file_dir=str(logdir), once=True,
    )
    stats = d.await_once()
    d.stop()
    assert stats["streams"] == 2  # rollup stream + sketch stream

    row = td.tdigest_stats(d.live.read_sketch_tier("tdigest", d.tier)).collect()[0]
    assert row["cnt"] == 4 and row["min"] == 3.0 and row["max"] == 30.0


def test_sketch_cli_and_bare_daemon_autodetect(spark, tmp_path, capsys):
    """The CLI path: a bare Daemon (no [sketches] config — what the
    compact/archive subcommands construct) auto-detects existing sk_*
    tables, and `python -m logtrics_spark sketch` answers from both a
    LIVE store and an ARCHIVED store."""
    import json as _json

    from logtrics_spark.__main__ import main as cli_main
    from logtrics_spark.api import Engine
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.plans.pipeline import RollupJob

    d = _daemon(spark, tmp_path)
    closed = _points_pdf("2024-03-01", range(30))
    _drain(d, spark, closed.iloc[:20])
    _drain(d, spark, closed)
    _drain(d, spark, _points_pdf("2024-03-02", range(3), seed=11))

    # live-store query via the CLI (origin column present -> resolve)
    rc = cli_main(
        ["sketch", "--store", str(tmp_path / "store"), "--kind", "tdigest",
         "--tier", "1m", "--q", "0.5", "--limit", "3"]
    )
    assert rc == 0
    out = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(out) == 3 and "p50" in out[0]

    # bare daemon (CLI shape, empty conf): compact + archive still
    # handle the sketch tables via auto-detection
    bare = Daemon(spark, {}, Engine(), str(tmp_path / "store"))
    assert bare.sketch_kinds == []
    assert set(bare._sketch_kinds_effective()) == {"tdigest", "mg", "hll", "cms"}
    counts = bare.compact()
    assert "sk_tdigest:1m" in counts

    job = RollupJob(spark, str(tmp_path / "archive"), tiers=["1m", "1h"])
    stats = bare.archive_closed_days(job)
    assert stats["sk_tdigest:1h"] == 1  # sealed despite empty conf

    # archived-store query via the CLI (no origin column -> direct)
    rc = cli_main(
        ["sketch", "--store", str(tmp_path / "archive"), "--kind", "mg",
         "--tier", "1h", "--n", "1"]
    )
    assert rc == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows[0]["item"] == "7" and rows[0]["rank"] == 1

    # archived-store point-frequency via the CLI
    rc = cli_main(
        ["sketch", "--store", str(tmp_path / "archive"), "--kind", "cms",
         "--tier", "1h", "--item", "7", "--item", "999"]
    )
    assert rc == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_item = {r["item"]: r for r in rows}
    assert by_item["7"]["est_count"] == 30  # planted once per minute
    assert by_item["999"]["est_count"] == 0  # absent item, no collision

    # cms without --item -> usage error, not a crash
    rc = cli_main(
        ["sketch", "--store", str(tmp_path / "archive"), "--kind", "cms",
         "--tier", "1h"]
    )
    assert rc == 2

    # missing table -> rc 2
    rc = cli_main(
        ["sketch", "--store", str(tmp_path / "archive"), "--kind", "hll",
         "--tier", "1d"]
    )
    assert rc == 2


def test_flush_seq_floor_covers_sketch_tables(spark, tmp_path):
    """A sketch snapshot stamped above every tiers/ row (written before a
    backwards clock step) must not outrank a restarted daemon's drain:
    the restart floor folds in the sk_* tables, so the new snapshot wins."""
    from logtrics_spark.operators import tdigest as td

    d = _daemon(spark, tmp_path)
    first = _points_pdf("2024-03-01", range(3))
    _drain(d, spark, first)
    future = 4_102_444_800 * 1_000_000  # year 2100 in µs
    stale = d.io.read("sk_tdigest").withColumn("flush_seq", F.lit(future)).localCheckpoint()
    d.io.write_partitioned(stale, "sk_tdigest", ["tier", "day"], overwrite_dynamic=False)

    d2 = _daemon(spark, tmp_path)  # same store path, fresh process
    cumulative = pd.concat([first, first])  # a later drain: every window doubled
    _drain(d2, spark, cumulative)
    total = td.tdigest_stats(d2.live.read_sketch_tier("tdigest", d2.tier)).agg(F.sum("cnt")).collect()[0][0]
    assert total == len(cumulative)


def test_archive_covers_leftover_sketch_kind(spark, tmp_path):
    """A daemon configured with ["tdigest"] on a store that still holds
    sk_mg/sk_hll/sk_cms from an earlier config archives and drops their
    closed days too (configured ∪ stored kinds).  A kind whose last live
    day is archived leaves no table behind, so later housekeeping runs."""
    from logtrics_spark.plans.daemon import Daemon
    from logtrics_spark.plans.pipeline import RollupJob

    old = _daemon(spark, tmp_path)  # all four kinds
    _drain(old, spark, _points_pdf("2024-03-01", range(10)))
    conf = {
        "modes": ["console"],
        "graphite": {"tiers": ["1m", "1h"]},
        "sketches": {"enabled": ["tdigest"], "item_col": "user"},
    }
    d = Daemon(spark, conf, old.engine, str(tmp_path / "store"))
    _drain(d, spark, _points_pdf("2024-03-02", range(3), seed=9))
    assert d._sketch_kinds_effective() == ["tdigest", "mg", "hll", "cms"]

    job = RollupJob(spark, str(tmp_path / "archive"), tiers=["1m", "1h"])
    stats = d.archive_closed_days(job)
    for k in ("mg", "hll", "cms"):
        assert stats[f"sk_{k}:1m"] == 10 and stats[f"sk_{k}:1h"] == 1
        assert not d.io.exists(f"sk_{k}")  # its one (closed) day archived
    assert d.io.list_partitions("sk_tdigest/tier=1m", "day") == ["2024-03-02"]
    from logtrics_spark.operators.heavyhitters import mg_topk

    assert mg_topk(job.read_sketch_tier("mg", "1h"), n=1).collect()[0]["item"] == "7"
    assert d._sketch_kinds_effective() == ["tdigest"]
    assert d.archive_closed_days(job) == {}
    assert set(d.compact()) == {"1m", "sk_tdigest:1m"}
