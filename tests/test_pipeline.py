from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators.extract import extract_points
from logtrics_spark.operators.rollup import TIERS, rollup
from logtrics_spark.plans.pipeline import RollupJob

N = 4_000  # spans >1 hour of derived ts; with step 30s spans >1 day
STEP = 30  # 30s per doc -> 4000 docs ~ 33h -> 2 days of data
KEY = ["source", "metric", "kind", "window_start"]


def _tiers_equal(a: pd.DataFrame, b: pd.DataFrame, cols=("cnt", "sum", "min", "max", "avg", "last")):
    a = a.sort_values(KEY).reset_index(drop=True)
    b = b.sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(dtype="float64"), b[c].to_numpy(dtype="float64")
        assert np.array_equal(av.view(np.uint64), bv.view(np.uint64)), c


@pytest.fixture()
def tok(spark):
    return gen_tokseq(spark, N, partitions=4)


def _run_clean(spark, tok, root) -> RollupJob:
    job = RollupJob(spark, root, step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="clean")
    return job


def test_end_to_end_matches_direct_rollup(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    from logtrics_spark.operators.extract import with_ts

    pts = extract_points(tok, step_seconds=STEP)
    for tier in ["1m", "1h", "1d"]:
        direct = rollup(pts, tier).toPandas()
        stored = job.read_tier(tier).toPandas()
        _tiers_equal(direct, stored)


def test_chunks_serve_identical_tier(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    stored = job.read_tier("5m").toPandas()
    from_chunks = job.read_tier_from_chunks("5m").toPandas()
    _tiers_equal(stored, from_chunks)


def test_second_run_is_noop(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    stats = job.run(run_id="again")
    assert all(v == 0 for v in stats.values()), stats


def test_kill_and_resume_identical(spark, tok, tmp_path):
    """SURVEY.md §5.6: kill after tier 1m sealed -> rerun -> tables equal
    to a never-killed run."""
    clean = _run_clean(spark, tok, str(tmp_path / "clean"))

    killed = RollupJob(spark, str(tmp_path / "killed"), step_seconds=STEP)
    killed.ingest_raw(tok)
    with pytest.raises(RuntimeError, match="injected failure"):
        killed.run(run_id="r1", fail_after_tier="1m")
    # resume: 1m sealed (skipped), coarser tiers recomputed
    stats = killed.run(run_id="r2")
    assert stats["1m"] == 0 and stats["5m"] > 0
    for tier in ["1m", "5m", "1h", "1d"]:
        _tiers_equal(clean.read_tier(tier).toPandas(), killed.read_tier(tier).toPandas())
        _tiers_equal(
            clean.read_tier_from_chunks(tier).toPandas(),
            killed.read_tier_from_chunks(tier).toPandas(),
        )


def test_resume_without_fine_rows_raises(spark, tmp_path):
    """Coarse tiers pending while the sealed 1m table is gone (dropped
    between the crash and the resume): the run raises instead of
    sealing coarse tiers from nothing."""
    import shutil

    job = RollupJob(spark, str(tmp_path / "s"), step_seconds=STEP)
    job.ingest_raw(gen_tokseq(spark, 300, partitions=1))
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(run_id="r1", fail_after_tier="1m")
    shutil.rmtree(job.io.path("tiers/tier=1m"))
    with pytest.raises(RuntimeError, match="no 1m rows are stored or pending"):
        job.run(run_id="r2")


def test_seal_from_fine_matches_run(spark, tok, tmp_path):
    """run() and seal_from_fine() share one seal path: sealing a run
    store's 1m rows elsewhere reproduces its tiers/ rows and chunks/
    bytes for every tier, and seals the same units."""
    run = _run_clean(spark, tok, str(tmp_path / "run"))
    sealed = RollupJob(spark, str(tmp_path / "fine"))
    stats = sealed.seal_from_fine(run.read_tier("1m"), run_id="f")
    units = run.io.sealed_units().groupBy("tier").count().collect()
    assert stats == {r["tier"]: r["count"] for r in units}
    for table, key in (("tiers", KEY), ("chunks", ["source", "metric", "kind", "chunk_start"])):
        a, b = (
            j.io.read(table).toPandas().sort_values(["tier", *key]).reset_index(drop=True)
            for j in (run, sealed)
        )
        assert set(a["tier"]) == set(run.tiers)
        if table == "chunks":
            a["chunk"], b["chunk"] = a["chunk"].map(bytes), b["chunk"].map(bytes)
        assert a.equals(b[a.columns]), table


def test_retention_drops_only_fully_sealed(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    raw_before = set(job.io.list_partitions("raw", "day"))
    dropped = job.retention()
    assert dropped, "expected fully-sealed raw partitions to drop"
    # every dropped day is sealed in every tier
    sealed = job.io.sealed_units().toPandas()
    sealed["day"] = sealed["window_start"].dt.strftime("%Y-%m-%d")
    for src, day in dropped:
        got = set(sealed[(sealed.source == src) & (sealed.day == day)]["tier"])
        assert got == set(job.tiers), (src, day, got)
    # tier reads still work after raw is gone
    assert job.read_tier_from_chunks("1d").count() > 0


def test_tokens_roundtrip_through_raw_store(spark, tok, tmp_path):
    """Token-array equality survives the raw write (BASELINE.json:15)."""
    job = RollupJob(spark, str(tmp_path / "store"), step_seconds=STEP)
    job.ingest_raw(tok)
    back = job.read_raw().select("doc_id", "tokens").toPandas()
    orig = tok.select("doc_id", "tokens").toPandas()
    back = back.sort_values("doc_id").reset_index(drop=True)
    orig = orig.sort_values("doc_id").reset_index(drop=True)
    assert len(back) == len(orig)
    for a, b in zip(back["tokens"], orig["tokens"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_salted_two_phase_agg(spark, tok):
    from logtrics_spark.operators.skew import salted_two_phase_agg

    got = (
        salted_two_phase_agg(
            tok,
            keys=["source"],
            fine_col="doc_id",
            phase1_aggs=[F.sum("n_tok").alias("ps"), F.count("*").alias("pc")],
            phase2_aggs=[F.sum("ps").alias("sum_n_tok"), F.sum("pc").alias("cnt")],
            buckets=16,
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    exp = (
        tok.groupBy("source")
        .agg(F.sum("n_tok").alias("sum_n_tok"), F.count("*").alias("cnt"))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    assert got.equals(exp[got.columns])


def test_incremental_append_with_watermark(spark, tmp_path):
    """Late data for an unsealed (watermarked) day must roll up on the
    next run; incremental append == clean one-shot, bit-identical."""
    all_docs = gen_tokseq(spark, 3000, partitions=3)
    early = all_docs.where(F.substring("doc_id", 4, 12).cast("long") < 2100)
    late = all_docs.where(F.substring("doc_id", 4, 12).cast("long") >= 2100)

    inc = RollupJob(spark, str(tmp_path / "inc"), step_seconds=60)
    inc.ingest_raw(early)
    inc.run(run_id="r1", seal_before="2024-01-02")  # day 2 stays open
    inc.ingest_raw(late, mode="append")
    inc.run(run_id="r2")

    clean = RollupJob(spark, str(tmp_path / "clean"), step_seconds=60)
    clean.ingest_raw(all_docs)
    clean.run(run_id="c")
    for tier in ["1m", "1d"]:
        _tiers_equal(inc.read_tier(tier).toPandas(), clean.read_tier(tier).toPandas())


def test_ingest_mode_validation(spark, tmp_path):
    job = RollupJob(spark, str(tmp_path / "s"))
    with pytest.raises(ValueError, match="ingest mode"):
        job.ingest_raw(gen_tokseq(spark, 5, partitions=1), mode="merge")


def test_tiered_retention_policy(spark, tok, tmp_path):
    """Downsampling retention: old fine-tier day partitions drop, the
    coarse tiers keep the full history; reads keep working."""
    job = RollupJob(spark, str(tmp_path / "store"), step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r")
    days_1m = job.io.list_partitions("tiers/tier=1m", "day")
    assert len(days_1m) >= 2
    import datetime as dt

    # a day is dropped once its age exceeds the window: with the clock
    # one day past the last data day, a 1-day window keeps only the
    # last data day
    today = (dt.date.fromisoformat(max(days_1m)) + dt.timedelta(days=1)).isoformat()
    dropped = job.retention_tiers({"1m": 1, "5m": 1}, today=today)
    assert ("1m", min(days_1m)) in dropped
    left_1m = job.io.list_partitions("tiers/tier=1m", "day")
    assert min(days_1m) not in left_1m and max(days_1m) in left_1m
    # chunks dropped in lockstep, coarse tiers untouched
    assert min(days_1m) not in job.io.list_partitions("chunks/tier=1m", "day")
    assert job.io.list_partitions("tiers/tier=1d", "day") and set(
        job.io.list_partitions("tiers/tier=1h", "day")
    ) == set(days_1m) if True else True
    # remaining data still reads
    assert job.read_tier("1m").count() > 0
    assert job.read_tier("1h").count() > 0
    with pytest.raises(ValueError, match="unknown tier"):
        job.retention_tiers({"2m": 1}, today=today)


def test_compact_tier_single_file_same_data(spark, tok, tmp_path):
    """Compaction collapses multi-file day partitions to one file with
    byte-identical rows (streaming appends are the usual cause)."""
    job = RollupJob(spark, str(tmp_path / "store"), step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r")
    # simulate streaming appends: re-append the 1m rows split into files
    tier_rows = job.read_tier("1m")
    from logtrics_spark.plans.pipeline import _day

    extra = tier_rows.limit(50).withColumn("day", _day("window_start")).withColumn(
        "tier", F.lit("1m")
    ).repartition(5)
    job.io.write_partitioned(extra, "tiers", ["tier", "day"], overwrite_dynamic=False, cluster=False)
    before = job.read_tier("1m").toPandas()
    days = job.io.list_partitions("tiers/tier=1m", "day")
    compacted = job.compact_tier("1m")
    assert compacted  # at least one day had >1 file
    from pathlib import Path

    for day in days:
        files = list((Path(str(tmp_path / "store")) / f"tiers/tier=1m/day={day}").glob("*.parquet"))
        assert len(files) == 1, day
    after = job.read_tier("1m").toPandas()
    key = ["source", "metric", "kind", "window_start"]
    assert before.sort_values(key).reset_index(drop=True).equals(
        after.sort_values(key).reset_index(drop=True)
    )


def test_chunks_archive_sum_sq_restores_stddev(spark, tok, tmp_path):
    """chunk_value_cols incl. sum_sq: the post-retention chunk read path
    restores a stddev column equal to the live tier's (same moment
    formula), so retention never loses the timer stddev."""
    from logtrics_spark.operators.gorilla import DEFAULT_VALUE_COLS

    job = RollupJob(
        spark,
        str(tmp_path / "store"),
        step_seconds=STEP,
        chunk_value_cols=[*DEFAULT_VALUE_COLS, "sum_sq"],
    )
    job.ingest_raw(tok)
    job.run(run_id="r")
    stored = job.read_tier("5m").toPandas()
    from_chunks = job.read_tier_from_chunks("5m").toPandas()
    _tiers_equal(stored, from_chunks, cols=("cnt", "sum", "min", "max", "avg", "last", "sum_sq"))
    a = stored.sort_values(KEY).reset_index(drop=True)["stddev"].to_numpy()
    b = from_chunks.sort_values(KEY).reset_index(drop=True)["stddev"].to_numpy()
    assert np.allclose(a, b, rtol=1e-12, atol=0)


def test_decompress_rejects_mismatched_value_cols(spark, tok, tmp_path):
    """The chunk header's column count gates decompression: reading a
    7-column chunk with a 6-name config (or vice versa) must raise, not
    silently truncate or mislabel streams."""
    from logtrics_spark.operators.gorilla import (
        DEFAULT_VALUE_COLS,
        compress_tier,
        decompress_chunks,
    )

    tiers = rollup(extract_points(tok, step_seconds=STEP), "1h")
    chunks = compress_tier(
        tiers, "1h", value_cols=[*DEFAULT_VALUE_COLS, "sum_sq"]
    ).localCheckpoint()
    with pytest.raises(Exception, match="7 value columns.*names 6"):
        decompress_chunks(chunks).count()  # default 6-name config
    ok = decompress_chunks(chunks, value_cols=[*DEFAULT_VALUE_COLS, "sum_sq"])
    assert ok.count() == tiers.count()


def test_compact_partition_heals_crashed_swap(spark, tok, tmp_path):
    """A crash inside the (non-atomic) directory swap leaves the target
    missing and data in ._compact_old — the next call must restore it."""
    import shutil
    from pathlib import Path

    job = RollupJob(spark, str(tmp_path / "store"), step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r")
    day = job.io.list_partitions("tiers/tier=1m", "day")[0]
    before = job.read_tier("1m").toPandas()
    target = Path(job.io.path("tiers/tier=1m")) / f"day={day}"
    # simulate the crash window: target renamed away, tmp left behind
    old = target.with_name(target.name + "._compact_old")
    tmp = target.with_name(target.name + "._compact_tmp")
    target.rename(old)
    tmp.mkdir()
    (tmp / "garbage.parquet").write_bytes(b"not parquet")
    assert not target.exists()
    job.io.compact_partition("tiers/tier=1m", day=day)
    assert target.exists() and not old.exists() and not tmp.exists()
    after = job.read_tier("1m").toPandas()
    key = ["source", "metric", "kind", "window_start"]
    assert before.sort_values(key).reset_index(drop=True).equals(
        after.sort_values(key).reset_index(drop=True)
    )
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_sealed_units_latest_wins_on_seal_seq(spark, tmp_path):
    """seal -> unseal -> seal across three appends (three 'runs' with
    shuffled random run_ids): the view must reflect append ORDER, which
    run_id text ordering would scramble."""
    import datetime as dt

    from logtrics_spark.storage.tableio import ParquetTableIO

    io = ParquetTableIO(spark, str(tmp_path / "lineage_store"))
    ws = dt.datetime(2024, 1, 1)
    base = {
        "tier": "1m",
        "source": "web",
        "window_start": ws,
        "input_partitions": ["raw/source=web"],
        "row_count": 1,
        "point_count": 1,
        "chunk_file": None,
    }
    # run_ids chosen so lexical max order (zzz) disagrees with append order
    io.append_lineage([{**base, "sealed": True, "run_id": "zzz"}])
    io.append_lineage([{**base, "sealed": False, "run_id": "mmm"}])
    assert io.sealed_units().count() == 0  # unseal wins over lexically-max zzz
    io.append_lineage([{**base, "sealed": True, "run_id": "aaa"}])
    sealed = io.sealed_units().collect()
    assert len(sealed) == 1 and sealed[0]["source"] == "web"
    # seal_seq strictly increases across appends
    seqs = [r["seal_seq"] for r in io.read_lineage().orderBy("seal_seq").collect()]
    assert seqs == sorted(seqs) and len(set(seqs)) == 3
    # restart safety: a fresh instance on a clock stepped BACKWARDS must
    # stamp above the stored max (log floor folded in on first append)
    from unittest import mock

    from logtrics_spark.storage.tableio import ParquetTableIO as PIO

    PIO._last_seal_seq = 0  # simulate new process
    io2 = PIO(spark, str(tmp_path / "lineage_store"))
    with mock.patch("time.time", return_value=1.0):  # clock far in the past
        io2.append_lineage([{**base, "sealed": False, "run_id": "late"}])
    assert io2.sealed_units().count() == 0  # newest append wins again
    seqs2 = [r["seal_seq"] for r in io2.read_lineage().collect()]
    assert max(seqs2) > max(seqs)  # stamped above the stored max, not at 1e6


def test_series_transforms_over_chunk_read_path(spark, tok, tmp_path):
    """The Graphite read path (operators/series.py) must work over BOTH
    tier sources — live parquet rows and decompressed Gorilla chunks —
    and agree between them (post-retention queries keep working)."""
    from logtrics_spark.operators.series import moving_average, topk_series, zscore

    job = _run_clean(spark, tok, str(tmp_path / "store"))
    live = job.read_tier("5m")
    chunks = job.read_tier_from_chunks("5m")

    def view(tier_df):
        m = moving_average(tier_df, "avg", window_seconds=3600, out_col="mavg")
        z = zscore(m, "avg", window_seconds=3600, out_col="z")
        t = topk_series(z, k=3, value_col="sum", by="sum")
        return (
            t.select("source", "metric", "window_start", "mavg", "z")
            .toPandas()
            .sort_values(["source", "metric", "window_start"])
            .reset_index(drop=True)
        )

    a, b = view(live), view(chunks)
    assert len(a) == len(b) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)
