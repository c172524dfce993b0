from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators.extract import extract_points
from logtrics_spark.operators.rollup import cascade_tiers, rollup, stddev_from_moments
from logtrics_spark.plans.pipeline import RollupJob

N = 4_000  # spans >1 hour of derived ts; with step 30s spans >1 day
STEP = 30  # 30s per doc -> 4000 docs ~ 33h -> 2 days of data
TINY = 300  # docs: ~2.5 h of one day, for the crash-point runs
KEY = ["source", "metric", "kind", "window_start"]
CHUNK_KEY = ["tier", "source", "metric", "kind", "chunk_start"]


def _tiers_equal(a: pd.DataFrame, b: pd.DataFrame, cols=("cnt", "sum", "min", "max", "avg", "last")):
    a = a.sort_values(KEY).reset_index(drop=True)
    b = b.sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(dtype="float64"), b[c].to_numpy(dtype="float64")
        assert np.array_equal(av.view(np.uint64), bv.view(np.uint64)), c


def _identical(want: DataFrame, got: DataFrame) -> None:
    """Same column names and types, and row by row (ordered by KEY) the
    same nulls and the same 64-bit pattern of every float."""
    assert got.schema.simpleString() == want.schema.simpleString()
    a, b = (df.orderBy(*KEY).collect() for df in (want, got))
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                assert struct.pack("<d", x) == struct.pack("<d", y), (ra, rb)
            else:
                assert x == y, (ra, rb)


def _chunk_rows(job) -> pd.DataFrame:
    pdf = job.io.read("chunks").toPandas()
    pdf["chunk"] = pdf["chunk"].map(bytes)
    return pdf.sort_values(CHUNK_KEY).reset_index(drop=True)


def _sealed(job) -> list:
    return sorted(tuple(r) for r in job.io.sealed_units().collect())


@pytest.fixture()
def tok(spark):
    return gen_tokseq(spark, N, partitions=4)


def _run_clean(spark, tok, root) -> RollupJob:
    job = RollupJob(spark, root, step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="clean")
    return job


def test_end_to_end_matches_direct_rollup(spark, tok, tmp_path):
    """Every tier read back from the chunk store equals rollup (1m) and
    cascade_tiers (5m/1h/1d) computed here: every column, its type, its
    nulls and its bits."""
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    assert not job.io.exists("tiers")
    fine = rollup(extract_points(tok, step_seconds=STEP), "1m").localCheckpoint()
    coarse = cascade_tiers(fine, "1m", ["5m", "1h", "1d"]).localCheckpoint()
    _identical(fine, job.read_tier("1m"))
    for tier in ["5m", "1h", "1d"]:
        _identical(coarse.where(F.col("tier") == tier).drop("tier"), job.read_tier(tier))


def test_chunks_serve_identical_tier(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    stored = job.read_tier("5m").toPandas()
    from_chunks = job.read_tier_from_chunks("5m").toPandas()
    _tiers_equal(stored, from_chunks)


def test_second_run_is_noop(spark, tok, tmp_path):
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    stats = job.run(run_id="again")
    assert all(v == 0 for v in stats.values()), stats


def test_kill_and_resume_identical(spark, tmp_path, crash_after):
    """SURVEY.md §5.6: a crash after each store write of the seal ->
    rerun -> the same chunk bytes and sealed units as a never-killed run.
    Before the one lineage append nothing is sealed; after it,
    everything.  (Sketches off: no sk_* write; test_crash_matrix.py
    covers the other seal paths.)"""
    tok = gen_tokseq(spark, TINY, partitions=2)
    clean = _run_clean(spark, tok, str(tmp_path / "clean"))
    want, units = _chunk_rows(clean), _sealed(clean)
    for point in ("chunks", "lineage"):
        killed = RollupJob(spark, str(tmp_path / point), step_seconds=STEP)
        killed.ingest_raw(tok)
        with crash_after(point):
            killed.run(run_id="r1")
        stats = killed.run(run_id="r2")
        assert (sum(stats.values()) == 0) == (point == "lineage"), (point, stats)
        assert _chunk_rows(killed).equals(want) and _sealed(killed) == units, point
    # the coarse tiers pending alone: a 1m-only job seals 1m, then the
    # full ladder cascades them from the stored 1m chunks
    root = str(tmp_path / "fine_first")
    part = RollupJob(spark, root, tiers=["1m"], step_seconds=STEP)
    part.ingest_raw(tok)
    part.run(run_id="p1")
    stats = RollupJob(spark, root, step_seconds=STEP).run(run_id="p2")
    assert stats["1m"] == 0 and stats["5m"] > 0
    assert _chunk_rows(part).equals(want) and _sealed(part) == units


def test_cached_stages_coalesce_and_seal_the_same_chunks(spark, tmp_path):
    """The session lets AQE coalesce persisted shuffle stages (the seal
    persists its tier, chunk and sketch frames), and a run lands the same
    chunk rows, bytes included, as with cached plans pinned to
    spark.sql.shuffle.partitions."""
    conf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(conf) == "true"
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = spark.range(200).withColumn("k", F.col("id") % 7).repartition("k").persist()
    try:
        assert cached.count() == 200
        assert cached.rdd.getNumPartitions() < shuffle_parts
    finally:
        cached.unpersist()

    tok = gen_tokseq(spark, TINY, partitions=2)
    want = _chunk_rows(_run_clean(spark, tok, str(tmp_path / "coalesced")))
    spark.conf.set(conf, "false")
    try:
        pinned = _chunk_rows(_run_clean(spark, tok, str(tmp_path / "pinned")))
    finally:
        spark.conf.set(conf, "true")
    assert pinned.equals(want)


def test_resume_without_fine_rows_raises(spark, tmp_path):
    """Coarse tiers pending while the sealed 1m chunks are gone (dropped
    between the 1m seal and the resume): the run raises instead of
    sealing coarse tiers from nothing."""
    import shutil

    root = str(tmp_path / "s")
    job = RollupJob(spark, root, tiers=["1m"], step_seconds=STEP)
    job.ingest_raw(gen_tokseq(spark, TINY, partitions=1))
    job.run(run_id="r1")
    shutil.rmtree(job.io.path("chunks/tier=1m"))
    with pytest.raises(RuntimeError, match="no 1m rows are stored or pending"):
        RollupJob(spark, root, step_seconds=STEP).run(run_id="r2")


def test_seal_from_fine_matches_run(spark, tok, tmp_path):
    """run() and seal_from_fine() share one seal path: sealing a run
    store's 1m rows elsewhere reproduces its chunks/ bytes for every
    tier, and seals the same units."""
    run = _run_clean(spark, tok, str(tmp_path / "run"))
    sealed = RollupJob(spark, str(tmp_path / "fine"))
    stats = sealed.seal_from_fine(run.read_tier("1m"), run_id="f")
    units = run.io.sealed_units().groupBy("tier").count().collect()
    assert stats == {r["tier"]: r["count"] for r in units}
    a, b = _chunk_rows(run), _chunk_rows(sealed)
    assert set(a["tier"]) == set(run.tiers)
    assert a.equals(b[a.columns])


def test_seal_is_one_chunk_write_and_one_lineage_append(spark, tmp_path, monkeypatch):
    """A seal (run or seal_from_fine) writes one chunk table, no tiers/
    row copy, and appends lineage once for all tiers."""
    from logtrics_spark.storage.tableio import ParquetTableIO

    calls = []
    real_write, real_append = ParquetTableIO.write_partitioned, ParquetTableIO.append_lineage

    def write(self, df, table, *a, **k):
        calls.append(table)
        return real_write(self, df, table, *a, **k)

    def append(self, rows):
        calls.append(("lineage", len({r["tier"] for r in rows})))
        return real_append(self, rows)

    monkeypatch.setattr(ParquetTableIO, "write_partitioned", write)
    monkeypatch.setattr(ParquetTableIO, "append_lineage", append)
    job = RollupJob(spark, str(tmp_path / "run"), step_seconds=STEP)
    job.ingest_raw(gen_tokseq(spark, TINY, partitions=1))
    calls.clear()
    job.run(run_id="r")
    assert calls == ["chunks", ("lineage", 4)]
    calls.clear()
    other = RollupJob(spark, str(tmp_path / "fine"))
    other.seal_from_fine(job.read_tier("1m"), run_id="f")
    assert calls == ["chunks", ("lineage", 4)]
    assert not job.io.exists("tiers") and not other.io.exists("tiers")


def test_seal_from_fine_keeps_types_nulls_and_special_values(spark, tmp_path):
    """Chunks store each column's own 64-bit type and its nulls apart
    from NaN: ±0.0, ±inf, NaN, nulls and a long above 2^53 read back
    bit for bit, and the coarse tier equals cascade_tiers over them."""
    import datetime as dt

    schema = (
        "source string, metric string, kind string, window_start timestamp, cnt bigint, "
        "sum bigint, min double, max double, avg double, last double, last_ts timestamp, "
        "sum_sq bigint"
    )
    t0 = dt.datetime(2024, 5, 1, 10, 0)

    def at(minutes, us=0):
        return t0 + dt.timedelta(minutes=minutes, microseconds=us)

    nan, inf = float("nan"), float("inf")
    rows = [
        ("s", "m", "timer", at(0), 2, 2**53 + 1, nan, 0.0, 1.5, -0.0, at(0, 59_999_999), 2**62 + 3),
        ("s", "m", "timer", at(1), 0, None, -0.0, -inf, None, None, at(1, 1), None),
        ("s", "m", "timer", at(2), 3, -(2**62), inf, nan, -inf, inf, None, 7),
        ("s", "g", "gauge", at(2), 1, 5, 5.0, 5.0, 5.0, 5.0, at(2, 123), 25),
    ]
    # rollup-shaped rows: rate and stddev by rollup's own expressions
    fine = (
        spark.createDataFrame(rows, schema)
        .withColumn("rate", F.col("cnt").cast("double") / F.lit(60.0))
        .withColumn("stddev", stddev_from_moments("cnt", "sum", "sum_sq"))
    )
    job = RollupJob(spark, str(tmp_path / "s"), tiers=["1m", "1h"])
    assert job.seal_from_fine(fine, run_id="f") == {"1m": 1, "1h": 1}
    _identical(fine, job.read_tier("1m"))
    _identical(cascade_tiers(fine, "1m", ["1h"]).drop("tier"), job.read_tier("1h"))


def _raises_format_error(read) -> None:
    """``read()`` raises ChunkFormatError: on the driver, or from the
    decode task, where Spark wraps it and keeps its name and message."""
    from logtrics_spark.operators.gorilla import ChunkFormatError

    with pytest.raises(Exception, match="re-seal it from raw") as err:
        read()
    assert isinstance(err.value, ChunkFormatError) or "ChunkFormatError" in str(err.value)


def _undescribed_chunks(rows):
    """Rows of one tier -> chunk rows without a value_cols description
    (the layout before chunks described their columns), with the tier
    and day columns of the store's chunks/ table."""
    from logtrics_spark.operators.gorilla import DEFAULT_VALUE_COLS, compress_tier
    from logtrics_spark.plans.pipeline import _day

    floats = rows.select(*KEY, *[F.col(c).cast("double") for c in DEFAULT_VALUE_COLS])
    chunks = compress_tier(floats, "1m", chunk_span="1d").drop("value_cols")
    return chunks.withColumn("day", _day("chunk_start")).withColumn("tier", F.lit("1m"))


def test_old_format_store_raises(spark, tok, tmp_path):
    """Chunks without a value_cols description raise ChunkFormatError,
    naming the table to re-seal: on a read, on a resume that cascades
    the coarse tiers from such 1m chunks, and on a chunks/ table that
    mixes one undescribed file with described ones, whichever file's
    footer gives the table its schema."""
    import shutil
    from pathlib import Path

    from logtrics_spark.operators.gorilla import ChunkFormatError

    rows = rollup(extract_points(tok, step_seconds=STEP), "1m").localCheckpoint()
    old = RollupJob(spark, str(tmp_path / "old"), tiers=["1m"])
    old.io.write_partitioned(_undescribed_chunks(rows), "chunks", ["tier", "day"])
    with pytest.raises(ChunkFormatError, match="chunks/tier=1m .*re-seal it from raw"):
        old.read_tier("1m")

    root = str(tmp_path / "store")
    job = RollupJob(spark, root, tiers=["1m"], step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r1")
    # Spark takes a parquet table's schema from the first file of its
    # first partition: the undescribed file's (no value_cols column, so
    # the read raises on the driver), or a described file's (its rows
    # then read a null description, so the decode task raises)
    stray = sorted(Path(old.io.path("chunks/tier=1m")).rglob("*.parquet"))[0]
    day = Path(job.io.path("chunks/tier=1m")) / stray.parent.name
    described = []
    for name in ("0-old.parquet", "z-old.parquet"):  # listed first, listed last
        shutil.copy(stray, day / name)
        described.append("value_cols" in job.io.read("chunks/tier=1m").columns)
        _raises_format_error(lambda: job.read_tier("1m").collect())
        (day / name).unlink()
    assert described == [False, True]

    # 1m sealed over undescribed chunks; the coarse tiers pending
    job.io.write_partitioned(_undescribed_chunks(rows), "chunks", ["tier", "day"])
    _raises_format_error(lambda: RollupJob(spark, root, step_seconds=STEP).run(run_id="r2"))


def test_read_tier_range_over_chunks_and_head(spark, tok, tmp_path):
    """A bounded read returns exactly the in-range rows of the sealed
    chunks and of the unsealed tiers/ head, its snapshot versions
    resolved latest-wins, every column bit for bit;
    a ``cols`` read equals the full read's projection; a tier with no
    rows, or an unknown tier, raises a named error."""
    import datetime as dt

    from logtrics_spark.operators.gorilla import DEFAULT_VALUE_COLS
    from logtrics_spark.plans.pipeline import _day

    job = RollupJob(spark, str(tmp_path / "store"), tiers=["1m"], step_seconds=STEP)
    with pytest.raises(ValueError, match=r"store .* has no tier=1m rows"):
        job.read_tier("1m")
    job.ingest_raw(tok)
    job.run(run_id="r")
    fine = rollup(extract_points(tok, step_seconds=STEP), "1m")
    later = F.expr("INTERVAL 2 DAYS")
    head = fine.withColumn("window_start", F.col("window_start") + later).withColumn(
        "last_ts", F.col("last_ts") + later
    )
    stale = head.withColumn("sum", F.col("sum") + 1).withColumn("flush_seq", F.lit(1))
    versions = stale.unionByName(head.withColumn("flush_seq", F.lit(2)))
    job.io.write_partitioned(
        versions.withColumn("day", _day("window_start")).withColumn("tier", F.lit("1m")),
        "tiers",
        ["tier", "day"],
    )
    assert len(job.io.list_partitions("tiers/tier=1m", "day")) == 2

    lo, hi = dt.datetime(2024, 1, 1, 20, 0), "2024-01-03 04:00:00"
    got = job.read_tier("1m", lo, hi)
    want = fine.unionByName(head).where(F.col("window_start").between(lo, hi))
    _identical(want.select(*got.columns), got)
    assert {r[0] for r in got.select(_day("window_start")).distinct().collect()} == {
        "2024-01-01", "2024-01-02", "2024-01-03"
    }
    cols = [*KEY, *DEFAULT_VALUE_COLS]
    _identical(job.read_tier("1m").select(*cols), job.read_tier("1m", cols=DEFAULT_VALUE_COLS))
    _identical(got.select(*cols), job.read_tier_from_chunks("1m", lo, hi))
    with pytest.raises(ValueError, match=r"store .* has no tier=2m rows"):
        job.read_tier("2m")


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
    days_1m = job.io.list_partitions("chunks/tier=1m", "day")
    assert len(days_1m) >= 2
    import datetime as dt

    # a day is dropped once its age exceeds the window: with the clock
    # one day past the last data day, a 1-day window keeps only the
    # last data day
    today = (dt.date.fromisoformat(max(days_1m)) + dt.timedelta(days=1)).isoformat()
    dropped = job.retention_tiers({"1m": 1, "5m": 1}, today=today)
    assert ("1m", min(days_1m)) in dropped
    left_1m = job.io.list_partitions("chunks/tier=1m", "day")
    assert min(days_1m) not in left_1m and max(days_1m) in left_1m
    # coarse tiers untouched
    assert set(job.io.list_partitions("chunks/tier=1h", "day")) == set(days_1m)
    assert job.io.list_partitions("chunks/tier=1d", "day")
    # remaining data still reads
    assert job.read_tier("1m").count() > 0
    assert job.read_tier("1h").count() > 0
    with pytest.raises(ValueError, match="unknown tier"):
        job.retention_tiers({"2m": 1}, today=today)


def test_chunks_archive_sum_sq_restores_stddev(spark, tok, tmp_path):
    """Chunks carry the sum_sq moment, so read_tier re-derives the timer
    stddev of a sealed day exactly as a direct rollup computes it —
    dropping fine rows never loses it."""
    job = _run_clean(spark, tok, str(tmp_path / "store"))
    direct = rollup(extract_points(tok, step_seconds=STEP), "5m")
    cols = [*KEY, "cnt", "sum", "sum_sq", "stddev"]
    _identical(direct.select(*cols), job.read_tier("5m").select(*cols))


def test_decompress_rejects_mismatched_value_cols(spark, tok, tmp_path):
    """A described chunk table needs no column names from the reader; an
    undescribed one raises ChunkFormatError instead of decoding streams
    by position."""
    from logtrics_spark.operators.gorilla import ChunkFormatError, compress_tier, decompress_chunks

    tiers = rollup(extract_points(tok, step_seconds=STEP), "1h")
    assert decompress_chunks(compress_tier(tiers, "1h")).count() == tiers.count()
    chunks = compress_tier(tiers, "1h").drop("value_cols")
    with pytest.raises(ChunkFormatError, match="re-seal it from raw"):
        decompress_chunks(chunks)


def test_compact_partition_heals_crashed_swap(spark, tok, tmp_path):
    """A crash inside the (non-atomic) directory swap leaves the target
    missing and data in ._compact_old — the next call must restore it."""
    import shutil
    from pathlib import Path

    job = RollupJob(spark, str(tmp_path / "store"), step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r")
    day = job.io.list_partitions("chunks/tier=1m", "day")[0]
    before = job.read_tier("1m").toPandas()
    target = Path(job.io.path("chunks/tier=1m")) / f"day={day}"
    # simulate the crash window: target renamed away, tmp left behind
    old = target.with_name(target.name + "._compact_old")
    tmp = target.with_name(target.name + "._compact_tmp")
    target.rename(old)
    tmp.mkdir()
    (tmp / "garbage.parquet").write_bytes(b"not parquet")
    assert not target.exists()
    job.io.compact_partition("chunks/tier=1m", day=day)
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
