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


def test_read_tier_range_plan_prunes_chunk_scan(spark, tmp_path):
    """``RollupJob.read_tier(tier, lo, hi)`` is the range read above on
    a store: the min_ts/max_ts zone-map filters reach the chunk parquet
    scan, and the plan has exactly one Python node, the decode."""
    from logtrics_spark.datagen import gen_tokseq
    from logtrics_spark.plans.pipeline import RollupJob

    job = RollupJob(spark, str(tmp_path / "store"), tiers=["1m"])
    job.ingest_raw(gen_tokseq(spark, 2000, partitions=2))
    job.run()
    df = job.read_tier("1m", "2024-01-01 00:10:00", "2024-01-01 00:20:00")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "max_ts" in pushed and "min_ts" in pushed, pushed
    markers = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "InPandas")
    python_nodes = [ln for ln in plan.splitlines() if any(m in ln for m in markers)]
    assert len(python_nodes) == 1, plan
    assert 0 < df.count() < job.read_tier("1m").count()


def test_decompress_without_field_metadata(spark, tmp_path):
    """A chunk table whose value_cols field carries no Spark metadata
    (an Iceberg table, or parquet written outside Spark) decodes every
    column in its own type from one job over the rows' descriptions; a
    null description among them raises ChunkFormatError."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logtrics_spark.datagen import gen_tokseq
    from logtrics_spark.operators.extract import extract_points
    from logtrics_spark.operators.gorilla import ChunkFormatError, TIER_VALUE_COLS
    from logtrics_spark.operators.rollup import rollup

    tier = rollup(extract_points(gen_tokseq(spark, 2000, partitions=2)), "1m")
    table = compress_tier(tier, "1m").toArrow()
    pq.write_table(table, tmp_path / "bare.parquet")
    bare = spark.read.parquet(str(tmp_path / "bare.parquet"))
    assert bare.schema["value_cols"].metadata == {}
    want = tier.select(*tier.columns[:4], *TIER_VALUE_COLS)
    got = decompress_chunks(bare, TIER_VALUE_COLS)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    descs = table.column("value_cols").to_pylist()
    descs[0] = None
    at = table.schema.get_field_index("value_cols")
    table = table.set_column(at, "value_cols", pa.array(descs))
    pq.write_table(table, tmp_path / "null.parquet")
    with pytest.raises(ChunkFormatError, match="null.parquet.*re-seal it from raw"):
        decompress_chunks(spark.read.parquet(str(tmp_path / "null.parquet")))


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


_SPECIAL = np.array(
    [0.0, -0.0, np.nan, _PAYLOAD_NAN, np.inf, -np.inf, 5e-324, -5e-324, 2.2250738585072e-308, 1.5]
)


def _random_tier_rows(rng, n_groups: int):
    """Sorted tier-like rows (chunk key, window_start, one int, one float
    and one timestamp column) as one Arrow table, and each group's start.
    Groups mix singletons and longer runs; window_start steps are
    regular, jittered (negative delta-of-deltas), repeated (duplicate
    deltas) or jumps too wide for every short bucket (64-bit codes);
    values cover int64 extremes, NaN payloads, ±0, denormals and nulls,
    including null timestamps and a group with no valid value."""
    import pyarrow as pa

    sizes = np.where(rng.random(n_groups) < 0.4, 1, rng.integers(2, 40, n_groups))
    n = int(sizes.sum())
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    group = np.repeat(np.arange(n_groups), sizes)
    steps = rng.choice([60, 300], n) + rng.choice([0, 0, 0, -7, 3, -60, 10**4, -(10**9)], n)
    ws = 1_704_067_200 + np.cumsum(steps) + group * 86_400
    ints = rng.choice(np.array([0, 1, 7, -3, 2**62, -(2**63), 2**63 - 1]), n)
    ints += rng.integers(0, 3, n)  # wraps past the int64 extremes
    floats = np.where(rng.random(n) < 0.5, rng.choice(_SPECIAL, n), rng.normal(0, 1e6, n))
    stamps = (ws - rng.integers(0, 60, n)) * 10**6 + rng.integers(0, 10**6, n)
    int_ok, stamp_ok = rng.random(n) < 0.8, rng.random(n) < 0.7
    stamp_ok[group == group[-1]] = False
    us = pa.timestamp("us", tz="UTC")
    table = pa.table(
        {
            "source": pa.array((group // 3).astype(str)),
            "metric": pa.array((group % 3).astype(str)),
            "chunk_start": pa.array(group * 86_400 * 10**6, us),
            "window_start": pa.array(ws * 10**6, us),
            "cnt": pa.array(ints, mask=~int_ok),
            "avg": pa.array(floats, mask=rng.random(n) < 0.1),
            "last_ts": pa.array(stamps, us, mask=~stamp_ok),
        }
    )
    return table, starts


def test_batch_encoder_matches_one_chunk_calls():
    """One ``_encode_chunks`` call over a random batch of many chunks is
    byte for byte the per-chunk ``compress_chunk`` calls, and every chunk
    decodes back to its rows, nulls included; ``_chunk_batches`` gives
    the same chunks however the rows are cut into Arrow batches (groups
    straddling batches, one-row batches)."""
    import pyarrow as pa

    from logtrics_spark.operators.gorilla import _chunk_batches, _column_bits, _encode_chunks

    rng = np.random.default_rng(11)
    keys, vcols = ["source", "metric", "chunk_start"], ["cnt", "avg", "last_ts"]
    names = [*keys, "n_points", "min_ts", "max_ts", "chunk", "value_cols"]
    for trial in range(30):
        table, starts = _random_tier_rows(rng, int(rng.integers(1, 60)))
        batch = table.combine_chunks().to_batches()[0]
        us = np.asarray(batch.column("window_start").cast(pa.int64()))
        ts = us // 10**6
        bits = [_column_bits(batch.column(c), us) for c in vcols]
        buf, offsets = _encode_chunks(ts, [v for v, _ in bits], [ok for _, ok in bits], starts)
        got = [buf[a:b].tobytes() for a, b in zip(offsets[:-1], offsets[1:])]
        bounds = np.append(starts, len(ts))
        for chunk, a, b in zip(got, bounds[:-1], bounds[1:]):
            valid = [None if ok is None else ok[a:b] for _, ok in bits]
            assert chunk == compress_chunk(ts[a:b], [v[a:b] for v, _ in bits], valid), trial
            ts2, bits2, valid2 = decompress_chunk(chunk)
            assert np.array_equal(ts2, ts[a:b]), trial
            for (v, _), ok, b2, ok2 in zip(bits, valid, bits2, valid2):
                keep = np.ones(b - a, bool) if ok is None else ok
                assert ok2 is None if keep.all() else np.array_equal(ok2, keep), trial
                assert np.array_equal(v[a:b][keep], b2[keep]) and not b2[~keep].any(), trial
        cuts = np.sort(rng.choice(np.arange(len(ts)), min(len(ts), 5), replace=False))
        if trial % 5 == 0:
            cuts = np.arange(len(ts))  # one row per batch
        # batches between the cuts, and an empty one at the end
        pieces = [batch.slice(a, b - a) for a, b in zip(cuts, np.append(cuts[1:], len(ts)))]
        pieces = [batch.slice(0, cuts[0]), *pieces, batch.slice(len(ts))]
        out = pa.Table.from_batches(list(_chunk_batches(iter(pieces), keys, vcols, "d", names)))
        assert out.column("chunk").to_pylist() == got, trial
        assert np.array_equal(out.column("n_points").to_numpy(), np.diff(bounds)), trial
