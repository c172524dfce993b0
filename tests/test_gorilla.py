from __future__ import annotations

import numpy as np
import pytest

from logtrics_spark.operators.gorilla import (
    compress_chunk,
    compress_tier,
    decompress_chunk,
    decompress_chunks,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def _roundtrip(ts, cols):
    buf = compress_chunk(np.asarray(ts, dtype=np.int64), [np.asarray(c, dtype=np.float64) for c in cols])
    ts2, cols2 = decompress_chunk(buf)
    assert np.array_equal(np.asarray(ts, dtype=np.int64), ts2)
    for a, b in zip(cols, cols2):
        av = np.asarray(a, dtype=np.float64).view(np.uint64)
        bv = b.view(np.uint64)
        assert np.array_equal(av, bv), (a, b)
    return buf


def test_regular_grid_constant_values():
    ts = np.arange(0, 6000, 60)
    buf = _roundtrip(ts, [np.full(100, 3.25)])
    # dod==0 after first delta, xor==0 after first value -> ~1 bit/point
    assert len(buf) < 36 + 2 * 100 // 8 + 16


def test_irregular_ts_and_varying_values():
    rng = np.random.default_rng(42)
    ts = np.cumsum(rng.integers(1, 10**7, size=500)).astype(np.int64)
    vals = rng.normal(0, 1e6, size=500)
    _roundtrip(ts, [vals])


def test_special_floats_bit_identical():
    vals = np.array(
        [0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324, 1.7976931348623157e308, 1.0, -1.0],
    )
    # include a NaN with a payload (not the canonical quiet NaN)
    payload_nan = np.uint64(0x7FF8DEADBEEF0001).view(np.float64) if hasattr(np.uint64(1), "view") else np.nan
    vals = np.append(vals, np.array([payload_nan], dtype=np.float64))
    ts = np.arange(len(vals)) * 60
    _roundtrip(ts, [vals])


def test_single_point_and_empty():
    _roundtrip(np.array([1234567890]), [np.array([42.5])])
    buf = compress_chunk(np.empty(0, dtype=np.int64), [np.empty(0)])
    ts, cols = decompress_chunk(buf)
    assert len(ts) == 0 and len(cols) == 1 and len(cols[0]) == 0


def test_multi_column_shared_ts():
    ts = np.arange(0, 1440 * 60, 60)
    cols = [
        np.arange(1440, dtype=np.float64),
        np.sin(np.arange(1440) / 10.0),
        np.full(1440, 7.0),
    ]
    _roundtrip(ts, cols)


def test_duplicate_deltas_and_negative_dod():
    ts = np.array([0, 60, 120, 121, 122, 300, 301, 10**12], dtype=np.int64)
    _roundtrip(ts, [np.arange(8, dtype=np.float64)])


def test_compression_ratio_on_smooth_series():
    """Gorilla's raison d'etre: smooth series compress well below 16 B/pt."""
    ts = np.arange(0, 86400, 60, dtype=np.int64)
    vals = np.round(np.cumsum(np.ones(len(ts))), 0)  # integer-valued counter
    buf = compress_chunk(ts, [vals])
    assert len(buf) < 0.35 * (16 * len(ts))


if HAVE_HYP:

    @given(
        deltas=st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200),
        vals=st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            min_size=1,
            max_size=200,
        ),
    )
    @settings(max_examples=60, deadline=None)
    def test_property_roundtrip(deltas, vals):
        n = min(len(deltas), len(vals))
        ts = np.cumsum(np.asarray(deltas[:n], dtype=np.int64))
        _roundtrip(ts, [np.asarray(vals[:n], dtype=np.float64)])


def test_spark_roundtrip(spark, tmp_path):
    """Tier -> chunks -> parquet -> decompress == original tier rows."""
    from logtrics_spark.datagen import gen_tokseq
    from logtrics_spark.operators.extract import extract_points
    from logtrics_spark.operators.rollup import rollup

    tier = rollup(extract_points(gen_tokseq(spark, 2000, partitions=3)), "1m")
    chunks = compress_tier(tier, "1m", chunk_span="1h")
    path = str(tmp_path / "chunks")
    chunks.write.parquet(path)
    back = decompress_chunks(spark.read.parquet(path)).toPandas()
    orig = tier.toPandas()
    key = ["source", "metric", "kind", "window_start"]
    back = back.sort_values(key).reset_index(drop=True)
    orig = orig.sort_values(key).reset_index(drop=True)
    assert len(back) == len(orig)
    for c in ["cnt", "sum", "min", "max", "avg", "last"]:
        a = orig[c].to_numpy(dtype="float64")
        b = back[c].to_numpy(dtype="float64")
        assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), c
    # compression must actually compress: chunk bytes << 8B * points * cols
    import pyspark.sql.functions as F

    stats = chunks.agg(
        F.sum(F.length("chunk")).alias("bytes"), F.sum("n_points").alias("pts")
    ).collect()[0]
    assert stats.bytes < 0.8 * stats.pts * 8 * 7  # ts + 6 value cols raw


def test_vectorized_encoders_bit_identical_to_reference():
    """The numpy-packed encoders must emit byte-identical streams to the
    per-write reference encoders for adversarial inputs: dod bucket
    boundaries, 64-bit overflow dods, xor window resets, NaN/inf/-0.0."""
    from logtrics_spark.operators.gorilla import (
        _BitWriter,
        _encode_ts,
        _encode_ts_codes,
        _encode_vals,
        _encode_vals_codes,
    )

    rng = np.random.default_rng(11)
    # timestamps: regular run, bucket edges, sign flips, huge jumps
    base = 1_704_067_200
    ts_cases = [
        np.array([base], dtype=np.int64),
        base + np.arange(500, dtype=np.int64) * 60,
        base + np.cumsum(rng.integers(-3000, 3000, 400)),
        np.array([base, base + 1, base + 2, base + 2**40, base + 2**40 + 3], dtype=np.int64),
        base + np.cumsum(np.array([64, 128, -63, 65, 256, -255, 257, 2048, -2047, 2049, 0, 0])),
    ]
    for ts in ts_cases:
        w = _BitWriter()
        _encode_ts(w, ts)
        assert w.getvalue() == _encode_ts_codes(np.asarray(ts, dtype=np.int64)), ts[:5]

    val_cases = [
        np.array([1.5], dtype=np.float64),
        np.repeat(3.25, 300),
        rng.standard_normal(500),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 1e-310, 5.0, 5.0, 5.000001]),
        np.round(np.cumsum(rng.standard_normal(400)), 2),
    ]
    for vals in val_cases:
        view = np.ascontiguousarray(vals, dtype=np.float64).view(np.uint64)
        w = _BitWriter()
        _encode_vals(w, view)
        assert w.getvalue() == _encode_vals_codes(view, policy="greedy"), vals[:5]


def test_range_read_prunes_chunks_and_matches_filter(spark, tmp_path):
    """A narrow time-range read decompresses only the chunks whose
    [min_ts, max_ts] overlap the range (a strict subset), the prune
    predicate pushes to the parquet scan, and the rows are identical
    to decompress-everything-then-filter."""
    import pyspark.sql.functions as F

    from logtrics_spark.datagen import gen_tokseq
    from logtrics_spark.operators.extract import extract_points
    from logtrics_spark.operators.gorilla import decompress_chunks_range
    from logtrics_spark.operators.rollup import rollup

    tier = rollup(extract_points(gen_tokseq(spark, 4000, partitions=3)), "1m")
    chunks_df = compress_tier(tier, "1m", chunk_span="1h")
    path = str(tmp_path / "chunks")
    chunks_df.write.parquet(path)
    chunks = spark.read.parquet(path)

    # the synthesized tier spans ~2 one-hour chunk windows
    # (00:00-00:59 and 01:00-01:06); this range overlaps only the second
    lo, hi = "2024-01-01 01:00:00", "2024-01-01 01:30:00"
    # chunk-level pruning: the range touches a strict subset of chunks
    total = chunks.count()
    touched = chunks.where(
        (F.col("max_ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("min_ts") <= F.lit(hi).cast("timestamp"))
    ).count()
    assert 0 < touched < total, (touched, total)

    got = decompress_chunks_range(chunks, lo, hi).toPandas()
    # the min_ts/max_ts predicates reach the chunk scan as pushed filters
    plan = decompress_chunks_range(chunks, lo, hi)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "max_ts" in plan.split("PushedFilters")[1][:200]

    exp = (
        decompress_chunks(chunks)
        .where(
            (F.col("window_start") >= F.lit(lo).cast("timestamp"))
            & (F.col("window_start") <= F.lit(hi).cast("timestamp"))
        )
        .toPandas()
    )
    key = ["source", "metric", "kind", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp) and len(got) > 0
    for c in ["cnt", "sum", "min", "max", "avg", "last"]:
        a = got[c].to_numpy(dtype="float64")
        b = exp[c].to_numpy(dtype="float64")
        assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), c
    # open-ended bounds work too
    assert decompress_chunks_range(chunks, ts_from=lo).count() == decompress_chunks(
        chunks
    ).where(F.col("window_start") >= F.lit(lo).cast("timestamp")).count()


def test_compress_tier_arrow_batches_match_per_group_chunks(spark):
    """The one-pass Arrow encode equals per-group compress_chunk output
    byte for byte, with a tiny prime Arrow batch size so groups straddle
    batches (incl. single-point groups and one group far larger than a
    batch), and an empty input keeps the chunk schema."""
    import pandas as pd

    from logtrics_spark.operators.gorilla import CHUNK_SCHEMA, DEFAULT_VALUE_COLS

    rng = np.random.default_rng(7)
    t0 = pd.Timestamp("2024-01-01")
    frames = []
    # (tier, source, metric, n windows): skewed sizes, singletons, and a
    # series crossing a chunk (1h) boundary
    for tier, src, metric, n in [
        ("1m", "web", "a", 1), ("1m", "web", "b", 2), ("1m", "api", "a", 97),
        ("5m", "web", "a", 1), ("5m", "db", "c", 13), ("1m", "db", "c", 1),
    ]:
        step = 60 if tier == "1m" else 300
        ws = t0 + pd.to_timedelta(rng.permutation(n) * step + 30 * 60, unit="s")
        frames.append(
            pd.DataFrame(
                {
                    "tier": tier, "source": src, "metric": metric, "kind": "timer",
                    "window_start": ws,
                    "cnt": rng.integers(1, 9, n), "sum": rng.integers(-50, 50, n),
                    "min": rng.integers(-50, 0, n), "max": rng.integers(0, 50, n),
                    "avg": rng.normal(size=n), "last": rng.integers(-9, 9, n),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)

    want = {}
    pdf["chunk_start"] = pdf["window_start"].dt.floor("1h")
    for key, g in pdf.groupby(["tier", "source", "metric", "kind", "chunk_start"]):
        g = g.sort_values("window_start")
        ts = g["window_start"].astype("int64").to_numpy() // 10**9
        chunk = compress_chunk(ts, [g[c].to_numpy(dtype="float64") for c in DEFAULT_VALUE_COLS])
        want[key] = (len(g), g["window_start"].min(), g["window_start"].max(), chunk)
    assert max(n for n, *_ in want.values()) > 7 * 3

    df = spark.createDataFrame(pdf.drop(columns="chunk_start"))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = compress_tier(df, "1m", chunk_span="1h", extra_keys=["tier"]).collect()
    finally:
        spark.conf.set(conf, old)
    keys = ["tier", "source", "metric", "kind", "chunk_start"]
    got = {
        tuple(r[k] for k in keys): (r["n_points"], r["min_ts"], r["max_ts"], bytes(r["chunk"]))
        for r in got
    }
    assert got == want

    empty = compress_tier(df.limit(0).drop("tier"), "1m")
    assert empty.schema == CHUNK_SCHEMA and empty.count() == 0
