from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators.extract import POINT_SCHEMA, extract_points
from logtrics_spark.operators.rollup import rollup, rollup_stream


def test_meter_ewma_matches_oracle(spark):
    from logtrics_spark.operators.ewma import ewma_oracle, meter_ewma

    tier = rollup(extract_points(gen_tokseq(spark, 2000, partitions=2)), "1m")
    got = meter_ewma(tier, "1m").toPandas()
    src = tier.toPandas()
    one = src[(src.source == "web") & (src.kind == "meter")].sort_values("window_start")
    inst = one["cnt"].to_numpy(dtype="float64") / 60.0
    exp5 = ewma_oracle(inst, 60, 5)
    g = got[(got.source == "web") & (got.kind == "meter")].sort_values("window_start")
    assert np.allclose(g["rate_m5"].to_numpy(), exp5, rtol=1e-12)
    assert np.allclose(g["rate"].to_numpy(), inst, rtol=1e-12)


def test_streaming_rollup_equals_batch(spark, tmp_path):
    """availableNow file-stream through the windowed agg == batch rollup,
    column for column: the daemon appends rows of both into one
    ``tiers/`` table, so their schemas must match too."""
    pts = extract_points(gen_tokseq(spark, 2000, partitions=2))
    src_dir = str(tmp_path / "points")
    pts.write.parquet(src_dir)

    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src_dir)
    agg = rollup_stream(stream, "5m", watermark="1 minute")
    batch = rollup(pts, "5m")
    assert [(f.name, f.dataType) for f in agg.schema] == [
        (f.name, f.dataType) for f in batch.schema
    ]
    sink_rows = []
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, _bid: sink_rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = pd.DataFrame([r.asDict() for r in sink_rows])
    exp = batch.toPandas()
    # append mode only emits windows the final watermark closed: the
    # stream's last in-progress window (end > max_ts - delay) stays open
    max_ts = pts.agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta(minutes=1)
    exp = exp[exp["window_start"] + pd.Timedelta(minutes=5) <= wm]
    key = ["source", "metric", "kind", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp) and len(got) > 0
    for c in ["cnt", "sum", "min", "max", "avg", "last", "rate"]:
        a = got[c].to_numpy(dtype="float64")
        b = exp[c].to_numpy(dtype="float64")
        assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), c


def test_streaming_late_data_dropped_after_watermark(spark, tmp_path):
    """Two micro-batches; rows older than watermark-closed windows are
    dropped (bounded-lateness semantics the reference lacks entirely)."""
    src_dir = str(tmp_path / "pts")
    base = pd.Timestamp("2024-01-01 00:00:00")
    batch1 = pd.DataFrame(
        {
            "source": ["a"] * 3,
            "metric": ["m"] * 3,
            "kind": ["counter"] * 3,
            "ts": [base, base + pd.Timedelta(minutes=30), base + pd.Timedelta(minutes=60)],
            "value": [1, 2, 3],
        }
    )
    spark.createDataFrame(batch1, POINT_SCHEMA).write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src_dir)
    agg = rollup_stream(stream, "5m", watermark="1 minute")
    sink_rows = []

    def collect_sink(df, _bid):
        sink_rows.extend(df.collect())

    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(collect_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # deterministic core: windows the final watermark (00:59) closed MUST
    # be emitted exactly once with correct sums; the still-open 01:00
    # window may or may not flush depending on micro-batch splitting
    got = {(r["window_start"].minute + 60 * r["window_start"].hour): r["sum"] for r in sink_rows}
    assert got.get(0) == 1 and got.get(30) == 2
    assert set(got) <= {0, 30, 60}
    assert len(sink_rows) == len(got)  # no duplicate emissions

    # late arrival for the closed 00:00 window must NOT re-emit it
    late = pd.DataFrame(
        {
            "source": ["a"],
            "metric": ["m"],
            "kind": ["counter"],
            "ts": [base + pd.Timedelta(seconds=30)],
            "value": [99],
        }
    )
    spark.createDataFrame(late, POINT_SCHEMA).write.mode("append").parquet(src_dir)
    before = dict(got)
    q2 = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(collect_sink)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {(r["window_start"].minute + 60 * r["window_start"].hour): r["sum"] for r in sink_rows}
    assert got2.get(0) == before.get(0) == 1  # late row dropped, not merged
