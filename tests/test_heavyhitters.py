"""Misra-Gries heavy-hitter tiers (operators/heavyhitters.py): the MG
guarantee must hold through build + cascade — any item with true
frequency > n/(k+1) survives every merge, estimates sit within the
carried err bound, and total mass is conserved exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logtrics_spark.operators.heavyhitters import (
    _reduce,
    mg_cascade,
    mg_merge,
    mg_rollup,
    mg_topk,
)

BASE = pd.Timestamp("2024-01-01 00:00:00")


# ------------------------------------------------------------- core


def test_reduce_exact_when_under_capacity():
    items = np.array(["a", "b", "c"], dtype=object)
    counts = np.array([5, 9, 2], dtype=np.int64)
    i, c, delta = _reduce(items, counts, k=8)
    assert delta == 0
    assert list(i) == ["b", "a", "c"] and list(c) == [9, 5, 2]


def test_reduce_truncation_bound():
    items = np.array([f"i{j}" for j in range(10)], dtype=object)
    counts = np.arange(10, 0, -1).astype(np.int64)  # 10..1
    i, c, delta = _reduce(items, counts, k=3)
    assert delta == 7  # 4th largest
    assert list(i) == ["i0", "i1", "i2"] and list(c) == [3, 2, 1]


def test_merge_guarantee_randomized():
    """Split a skewed stream into chunks, summarize each at k, merge:
    every item with freq > n/(k+1) must be present, every estimate
    within err of truth, total mass exact."""
    rng = np.random.default_rng(13)
    stream = rng.zipf(1.6, 40_000) % 500  # skewed item ids
    k = 32
    chunks = np.array_split(stream, 17)
    summaries = []
    for ch in chunks:
        vals, cnts = np.unique(ch.astype(str), return_counts=True)
        i, c, delta = _reduce(vals.astype(object), cnts.astype(np.int64), k)
        summaries.append((list(i), [int(x) for x in c], delta, int(len(ch))))
    items, counts, err, total = mg_merge(summaries, k)
    assert total == len(stream)
    true = pd.Series(stream.astype(str)).value_counts()
    est = dict(zip(items, counts))
    n_over_k = len(stream) / (k + 1)
    for item, tc in true.items():
        e = est.get(item, 0)
        assert e <= tc, (item, e, tc)
        assert tc - e <= err, (item, e, tc, err)
        if tc > n_over_k * (len(chunks) + 1):
            # comfortably heavy across every merge level -> must survive
            assert item in est, item
    assert err <= len(stream)  # sanity on the bound's bookkeeping


# ------------------------------------------------------------- spark


def _points(spark):
    """60 minutes; user 7 is the constant heavy hitter (4/min), a
    rotating cast supplies the tail."""
    rows = []
    for m in range(60):
        for _ in range(4):
            rows.append(("web", "req", "counter", BASE + pd.Timedelta(minutes=m), 7))
        for j in range(6):
            rows.append(
                ("web", "req", "counter", BASE + pd.Timedelta(minutes=m), 100 + (m * 6 + j) % 120)
            )
    pdf = pd.DataFrame(rows, columns=["source", "metric", "kind", "ts", "user"])
    return spark.createDataFrame(pdf).repartition(4), pdf


def test_mg_rollup_cascade_and_topk(spark):
    df, pdf = _points(spark)
    fine = mg_rollup(df, "1m", "user", k=8)
    assert fine.count() == 60
    hour = mg_cascade(fine, "1m", "1h", k=8)
    rows = hour.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["total_n"] == len(pdf)  # exact mass conservation
    est = dict(zip(r["items"], r["counts"]))
    # user 7: true count 240 out of 600; n/(k+1) ~ 67 -> guaranteed in
    assert "7" in est
    assert est["7"] <= 240 and 240 - est["7"] <= r["err"]

    top = mg_topk(hour, n=1).collect()
    assert top[0]["item"] == "7" and top[0]["rank"] == 1


def test_mg_exact_when_cardinality_fits(spark):
    """k >= window cardinality: summaries stay exact (err 0) through
    the cascade and mg_topk equals the exact SQL top-k."""
    df, pdf = _points(spark)
    hour = mg_cascade(mg_rollup(df, "1m", "user", k=1024), "1m", "1h", k=1024)
    r = hour.collect()[0]
    assert r["err"] == 0
    true = pdf["user"].astype(str).value_counts()
    est = dict(zip(r["items"], r["counts"]))
    assert est == true.to_dict()


def test_mg_cascade_validation(spark):
    with pytest.raises(ValueError):
        mg_cascade(None, "1h", "1m")


def test_mg_cascade_matches_mg_merge_reference(spark):
    """The r7 pure-Catalyst cascade must be VALUE-IDENTICAL — items,
    item order, clipped counts, accumulated err, total_n — to the
    Python `mg_merge` test reference, on a
    workload where fine summaries are clipped (err > 0) and one fine
    window is emptied to exercise the posexplode_outer null-pos path
    for err/total_n accumulation."""
    rng = np.random.default_rng(11)
    rows = []
    for m in range(120):
        for _ in range(40):
            rows.append(("s", "m", "counter", BASE + pd.Timedelta(minutes=m), int(rng.zipf(1.3) % 500)))
    pdf = pd.DataFrame(rows, columns=["source", "metric", "kind", "ts", "user"])
    df = spark.createDataFrame(pdf).repartition(5)
    k = 6  # far below per-minute cardinality: every summary clips
    fine = mg_rollup(df, "1m", "user", k=k)
    # empty one window's summary (keep its err/total_n): the merge must
    # still count its mass even though it explodes to a null-item row
    fine = fine.withColumn(
        "_blank", F.minute("window_start") == 3
    ).select(
        "source", "metric", "kind", "window_start",
        F.when(F.col("_blank"), F.array().cast("array<string>")).otherwise(F.col("items")).alias("items"),
        F.when(F.col("_blank"), F.array().cast("array<long>")).otherwise(F.col("counts")).alias("counts"),
        F.when(F.col("_blank"), (F.col("err") + F.aggregate("counts", F.lit(0).cast("long"), lambda a, x: a + x))).otherwise(F.col("err")).alias("err"),
        "total_n",
    )
    got = {
        tuple(r[c] for c in ("source", "metric", "kind", "window_start")): r
        for r in mg_cascade(fine, "1m", "1h", k=k).collect()
    }
    # reference: group fine rows per coarse hour and fold with mg_merge
    fine_rows = fine.collect()
    by_hour: dict = {}
    for r in fine_rows:
        key = (r["source"], r["metric"], r["kind"], r["window_start"].replace(minute=0, second=0))
        by_hour.setdefault(key, []).append((r["items"], r["counts"], r["err"], r["total_n"]))
    assert set(got) == set(by_hour)
    for key, summaries in by_hour.items():
        items, counts, err, total = mg_merge(summaries, k)
        g = got[key]
        assert list(g["items"]) == list(items)
        assert list(g["counts"]) == list(counts)
        assert g["err"] == err
        assert g["total_n"] == total


def test_mg_presketch_high_cardinality_bounds(spark):
    """Window cardinality >> k (5,000 distinct items, k=64, one
    window): the PODS'12 guarantee holds (est <= true <= est + err,
    mass exact, heavy items survive)."""
    rng = np.random.default_rng(7)
    ids = (rng.zipf(1.5, 30_000) % 5000).astype(np.int64)
    pdf = pd.DataFrame(
        {
            "source": "web",
            "metric": "req",
            "kind": "counter",
            "ts": BASE,
            "user": ids,
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    k = 64
    rows = mg_rollup(df, "1h", "user", k=k).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["total_n"] == len(pdf)  # exact mass
    assert len(r["items"]) <= k
    true = pd.Series(ids.astype(str)).value_counts()
    est = dict(zip(r["items"], r["counts"]))
    for item, e in est.items():
        assert e <= true[item], (item, e, true[item])
    for item, tc in true.items():
        assert tc - est.get(item, 0) <= r["err"], (item, tc)
        if tc > r["err"]:
            assert item in est, (item, tc, r["err"])
    # err bookkeeping sane: bounded by total mass
    assert 0 < r["err"] <= len(pdf)


def test_mg_null_items_dropped_consistently(spark):
    """Null items (a null metric field cast to string) are dropped
    before counting: null = no observation, in the summary and in
    total_n."""
    pdf = pd.DataFrame(
        {
            "source": "web",
            "metric": "req",
            "kind": "counter",
            "ts": BASE,
            "user": pd.array([7, 7, None, 9, None], dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf)
    r = mg_rollup(df, "1h", "user", k=8).collect()
    assert len(r) == 1
    est = dict(zip(r[0]["items"], r[0]["counts"]))
    assert est == {"7": 2, "9": 1}
    assert r[0]["total_n"] == 3  # nulls are not observations
