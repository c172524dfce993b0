"""Count-Min sketch tiers: linearity (bit-identical merges), the CMS
error guarantee, pure-Catalyst cascade/query plans, geometry safety.

CMS is the one sketch family where merge order CANNOT change the
answer (tables sum elementwise), so these tests pin exact table
equality across cascade shapes — stronger than the
error envelopes t-digest/MG/HLL get.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators.countmin import (
    _scatter,
    cms_cascade,
    cms_error_bound,
    cms_query,
    cms_rollup,
    item_indices,
)
from logtrics_spark.operators.extract import extract_points


@pytest.fixture(scope="module")
def points(spark):
    return extract_points(gen_tokseq(spark, 4000, partitions=4)).cache()


def _tables_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    key = [c for c in a.columns if c != "table"]
    am = a.sort_values(key).reset_index(drop=True)
    bm = b.sort_values(key).reset_index(drop=True)
    return am[key].equals(bm[key]) and all(
        np.array_equal(x, y) for x, y in zip(am["table"], bm["table"])
    )


# ------------------------------------------------------------------ kernel
def test_hash_spec_stable():
    """The documented md5 double-hash spec — pinned values so stored
    sketches stay queryable across library versions."""
    assert item_indices("books", 4, 1024) == item_indices("books", 4, 1024)
    assert list(item_indices("books", 2, 8)) == [
        (int.from_bytes(__import__("hashlib").md5(b"books").digest()[:8], "little")
         + d * (int.from_bytes(__import__("hashlib").md5(b"books").digest()[8:], "little") | 1)
         ) % 8
        for d in range(2)
    ]


def test_scatter_linearity():
    items = np.array(["a", "b", "c", "a"], dtype=object)
    counts = np.array([3, 2, 5, 1], dtype=np.int64)
    whole = _scatter(items, counts, 4, 64)
    parts = _scatter(items[:2], counts[:2], 4, 64) + _scatter(
        items[2:], counts[2:], 4, 64
    )
    assert np.array_equal(whole, parts)
    assert whole.sum() == 4 * counts.sum()  # every row absorbs full mass


def test_point_estimate_never_underestimates():
    rng = np.random.default_rng(7)
    items = np.array([f"item{i}" for i in range(300)], dtype=object)
    counts = rng.integers(1, 100, size=300).astype(np.int64)
    depth, width = 4, 128  # deliberately tight -> collisions happen
    tab = _scatter(items, counts, depth, width)
    n = int(counts.sum())
    bound, _ = cms_error_bound(depth, width, n)
    over = []
    for it, c in zip(items, counts):
        est = min(tab[d * width + j] for d, j in enumerate(item_indices(it, depth, width)))
        assert est >= c  # the one-sided guarantee, always
        over.append(est - c)
    # the epsilon bound holds for the overwhelming majority (per-item
    # failure prob exp(-depth) ~ 1.8%); assert the measured p99
    assert np.quantile(over, 0.99) <= bound


# ------------------------------------------------------------- cascades
def test_cascade_equals_direct_bitwise(spark, points):
    fine = cms_rollup(points, "1m", "source", depth=4, width=256)
    casc = cms_cascade(fine, "1m", "1h").toPandas()
    direct = cms_rollup(points, "1h", "source", depth=4, width=256).toPandas()
    assert _tables_equal(casc, direct)


def test_same_window_consolidation(spark, points):
    """fine == coarse cascade merges duplicate contribution rows for
    the same window (the daemon replay shape)."""
    fine = cms_rollup(points, "1h", "source", depth=4, width=256)
    doubled = fine.unionByName(fine)
    merged = cms_cascade(doubled, "1h", "1h").toPandas()
    single = fine.toPandas()
    key = [c for c in single.columns if c != "table"]
    m = merged.sort_values([c for c in key if c != "total_n"]).reset_index(drop=True)
    s = single.sort_values([c for c in key if c != "total_n"]).reset_index(drop=True)
    assert (m["total_n"] == 2 * s["total_n"]).all()
    assert all(np.array_equal(x, 2 * y) for x, y in zip(m["table"], s["table"]))


def test_cascade_rejects_non_multiple(spark, points):
    fine = cms_rollup(points, "1h", "source")
    with pytest.raises(ValueError, match="not a multiple"):
        cms_cascade(fine, "1h", "5m")  # 300 % 3600 != 0


def test_null_items_dropped(spark):
    pdf = pd.DataFrame(
        {
            "source": ["a", "a", "a"],
            "metric": ["m", "m", "m"],
            "kind": ["counter"] * 3,
            "ts": pd.to_datetime(["2024-01-01 00:00:10"] * 3),
            "item": ["x", None, "x"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = cms_rollup(df, "1m", "item", depth=2, width=64).toPandas()
    assert len(out) == 1
    assert out["total_n"].iloc[0] == 2  # the null contributed nothing


# ------------------------------------------------------------------ query
def test_query_exact_in_collision_free_regime(spark, points):
    summ = cms_rollup(points, "1h", "source", depth=4, width=1024)
    srcs = [r[0] for r in points.select("source").distinct().collect()]
    est = cms_query(summ, srcs)
    true = (
        points.withColumn("window_start", F.date_trunc("hour", "ts"))
        .groupBy("source", "metric", "kind", "window_start")
        .count()
    )
    # each series' windows contain only their own source as item:
    # own-item estimates must be exact, foreign items estimate 0
    # (width 1024 vs a handful of items -> collision-free, verified here)
    j = est.join(true, ["source", "metric", "kind", "window_start"])
    own = j.where(F.col("item") == F.col("source"))
    assert own.where(F.col("est_count") != F.col("count")).count() == 0
    foreign = j.where(F.col("item") != F.col("source"))
    assert foreign.where(F.col("est_count") != 0).count() == 0


def test_query_rejects_mixed_geometry(spark, points):
    a = cms_rollup(points, "1h", "source", depth=4, width=256)
    b = cms_rollup(points, "1h", "source", depth=4, width=512)
    with pytest.raises(ValueError, match="mixed CMS geometries"):
        cms_query(a.unionByName(b), ["books"])


def test_mixed_geometry_rows_never_merge(spark, points):
    """depth/width ride in the cascade grouping key: rows with
    different geometries stay separate instead of zip-padding nulls."""
    a = cms_rollup(points, "1h", "source", depth=4, width=256)
    b = cms_rollup(points, "1h", "source", depth=4, width=512)
    merged = cms_cascade(a.unionByName(b), "1h", "1d").toPandas()
    assert set(merged["width"]) == {256, 512}
    assert merged["table"].map(lambda t: any(x is None for x in t)).sum() == 0


# ------------------------------------------------------------------- plans
def test_cascade_and_query_are_pure_catalyst(spark, points, tmp_path):
    """The merge (HOF aggregate/zip_with) and the probe (element_at +
    least) never leave the JVM — no Python eval stage in either plan.
    Summaries come from a parquet scan so the plan string covers ONLY
    the cascade/query operators, not the upstream build lineage."""
    cms_rollup(points, "1m", "source", depth=4, width=256).write.parquet(
        str(tmp_path / "sk")
    )
    fine = spark.read.parquet(str(tmp_path / "sk"))
    casc_plan = cms_cascade(fine, "1m", "1h")._jdf.queryExecution().executedPlan().toString()
    query_plan = cms_query(fine, ["books"])._jdf.queryExecution().executedPlan().toString()
    for plan in (casc_plan, query_plan):
        assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
