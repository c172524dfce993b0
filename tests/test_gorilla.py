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
    ts2, cols2, valid = decompress_chunk(buf)
    assert np.array_equal(np.asarray(ts, dtype=np.int64), ts2)
    assert valid == [None] * len(cols)
    for a, b in zip(cols, cols2):
        av = np.asarray(a, dtype=np.float64).view(np.uint64)
        assert np.array_equal(av, b), (a, b)
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
    ts, cols, _ = decompress_chunk(buf)
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


_B = 1_704_067_200
_PAYLOAD_NAN = np.uint64(0x7FF8DEADBEEF0001).view(np.float64)
# (ts, columns, validity, chunk bytes).  The three float64 chunks without
# nulls are byte-identical to the float-only layout that predates typed
# columns; "long" stores int64 bits and "nulls" adds the validity trailer.
GOLDEN = {
    "regular": (
        _B + np.arange(6) * 60,
        [np.array([3.25, 3.25, 3.5, 3.5, 3.75, 3.75])],
        None,
        "06000000010080009265000000000000000000000a4002000000bd80030000006d0748",
    ),
    "irregular": (
        np.array([_B, _B + 7, _B + 300, _B + 2**33, _B + 2**33 + 1, _B + 2**33 + 2049]),
        [np.array([1.0, 2.5, -3.0, 1e10, 1e-10, 1e-10])],
        None,
        "0600000001008000926500000000000000000000f03f17000000a3748ef80000000fffffed7fffffffff"
        "00000096f7ff0021000000c1b3ffa0000000000a00300000000005041540be4000030fdff677203e75ef6ec0",
    ),
    "special": (
        _B + np.arange(7) * 60,
        [np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, _PAYLOAD_NAN])],
        None,
        "0700000001008000926500000000000000000000000002000000bd8031000000c1bc00000000000005fff0"
        "00000000010004000000000050000000000000183ffff0000000000001c1bbffc6f56df77800",
    ),
    "long": (
        _B + np.arange(5) * 300,
        [np.array([2**53 + 1, -(2**63), 2**63 - 1, 0, 7], dtype=np.int64)],
        None,
        "0500000001008000926500000000010000000000200003000000e92b0023000000c1fc010000000000000d"
        "ffffffffffffffff3fffffffffffffffc000000000000000e0",
    ),
    "nulls": (
        _B + np.arange(5) * 60,
        [np.array([5, 0, 6, 0, 7], dtype=np.int64), np.array([np.nan, 1.0, -0.0, 2.0, np.inf])],
        [np.array([1, 0, 1, 0, 1], dtype=bool), None],
        "05000000020080009265000000000500000000000000000000000000f87f02000000bd8013000000ff0000"
        "0000160000000340000000680000000e0a000000c25c00e02effec008ffc0000a8",
    ),
}


def test_chunk_format_golden_bytes():
    """The chunk format is pinned byte for byte: the encoder emits these
    fixtures and the decoder restores every 64-bit pattern and null; a
    picked-column decode skips the other streams."""
    for name, (ts, cols, valid, hexed) in GOLDEN.items():
        buf = compress_chunk(ts, cols, valid)
        assert buf.hex() == hexed, name
        ts2, bits, valid2 = decompress_chunk(bytes.fromhex(hexed))
        assert np.array_equal(ts2, ts), name
        for c, b, ok, ok2 in zip(cols, bits, valid or [None] * len(cols), valid2):
            assert (ok is None and ok2 is None) or np.array_equal(ok, ok2), name
            keep = np.ones(len(c), dtype=bool) if ok is None else ok
            assert np.array_equal(np.ascontiguousarray(c).view(np.uint64)[keep], b[keep]), name
        last = len(cols) - 1
        _, (b,), (ok,) = decompress_chunk(buf, [last])
        assert np.array_equal(b, bits[last]) and ok is valid2[last], name


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
    (each column in its own 64-bit type) byte for byte, with a tiny
    prime Arrow batch size so groups straddle batches (incl.
    single-point groups and one group far larger than a batch), and an
    empty input keeps the chunk schema."""
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
        chunk = compress_chunk(ts, [g[c].to_numpy() for c in DEFAULT_VALUE_COLS])
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
    assert empty.schema.simpleString() == CHUNK_SCHEMA.simpleString() and empty.count() == 0
    desc = "cnt:bigint,sum:bigint,min:bigint,max:bigint,avg:double,last:bigint"
    assert empty.schema["value_cols"].metadata == {"value_cols": desc}
