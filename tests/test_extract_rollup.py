from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from logtrics_spark.datagen import gen_tokseq, gen_tokseq_pandas
from logtrics_spark.operators.extract import extract_points, extract_points_arrow
from logtrics_spark.operators.rollup import (
    TIERS,
    cascade,
    cascade_tiers,
    rollup,
    timer_percentiles,
    with_cumulative,
)

from tests.oracle import (
    cumulative_oracle,
    percentiles_oracle,
    points_oracle,
    rollup_oracle,
)

N = 3_000
KEYCOLS = ["source", "metric", "kind", "window_start"]


def _norm(df: pd.DataFrame, keys=KEYCOLS) -> pd.DataFrame:
    df = df.sort_values(keys, kind="stable").reset_index(drop=True)
    return df[sorted(df.columns)]


def _assert_frame_equal(a: pd.DataFrame, b: pd.DataFrame):
    a, b = _norm(a), _norm(b)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            assert np.allclose(a[c], b[c], rtol=1e-12, atol=1e-12), c
        else:
            assert (a[c] == b[c]).all(), c


@pytest.fixture(scope="module")
def tok_pdf():
    return gen_tokseq_pandas(N)


@pytest.fixture(scope="module")
def tok_df(spark):
    return gen_tokseq(spark, N, partitions=5).cache()


@pytest.mark.parametrize("per_source", [False, True])
def test_extract_matches_oracle(spark, tok_df, tok_pdf, per_source):
    got = extract_points(tok_df, per_source=per_source).toPandas()
    exp = points_oracle(tok_pdf, per_source=per_source)
    key = ["source", "metric", "ts"]
    got = got.sort_values(key, kind="stable").reset_index(drop=True)
    exp = exp.sort_values(key, kind="stable").reset_index(drop=True)
    assert len(got) == len(exp) == 4 * N
    for c in ["source", "metric", "kind", "ts", "value"]:
        assert (got[c] == exp[c]).all(), c


def test_arrow_path_equals_native(spark, tok_df):
    a = extract_points(tok_df).toPandas()
    b = extract_points_arrow(tok_df).toPandas()
    key = ["source", "metric", "ts"]
    a = a.sort_values(key, kind="stable").reset_index(drop=True)
    b = b.sort_values(key, kind="stable").reset_index(drop=True)
    assert a.equals(b[a.columns])


def test_tokens_pruned_from_extract_plan(spark, tok_df, tmp_path):
    """Column pruning: the extraction scan must not read `tokens`.

    The huge payload column must be pruned out of the parquet ReadSchema
    — at 100 TB this is the difference between scanning ~100 TB and
    scanning the few GB of (doc_id, n_tok, source).
    """
    path = str(tmp_path / "tok")
    tok_df.write.parquet(path)
    plan = (
        extract_points(spark.read.parquet(path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    read_schema = scan[0].split("ReadSchema:")[1]
    assert "tokens" not in read_schema, read_schema
    assert "n_tok" in read_schema


@pytest.mark.parametrize("tier", ["1m", "5m", "1h"])
def test_rollup_matches_oracle(spark, tok_df, tok_pdf, tier):
    got = rollup(extract_points(tok_df), tier).toPandas()
    exp = rollup_oracle(points_oracle(tok_pdf), TIERS[tier])
    _assert_frame_equal(got, exp)


def test_stddev_moment_formula_properties(spark):
    """stddev_from_moments vs numpy two-pass sample stddev, including
    the adversarial regimes of the moment form: n=1 (must be 0, not
    NaN), constant series with a large offset (catastrophic
    cancellation -> variance clamped at 0, never sqrt(negative)), and
    random int series."""
    pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logtrics_spark.operators.rollup import stddev_from_moments
    from pyspark.sql import functions as F

    def spark_stddev(values: list[int]) -> float:
        df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="int64")}))
        row = df.agg(
            F.count("v").alias("c"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
        ).select(
            stddev_from_moments("c", "s", "ss").alias("std")
        ).collect()[0]
        return row["std"]

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=50)
    )
    def check(values):
        got = spark_stddev(values)
        exp = float(np.std(np.array(values, dtype="float64"), ddof=1)) if len(values) > 1 else 0.0
        assert got >= 0.0 and np.isfinite(got)
        assert abs(got - exp) <= 1e-6 * max(1.0, exp), (values, got, exp)

    check()
    # constant series with a huge offset: two-pass gives 0; the moment
    # form's subtraction can go slightly negative -> must clamp to 0
    assert spark_stddev([10**9] * 7) == 0.0
    assert spark_stddev([42]) == 0.0  # n=1


def test_cascade_equals_direct(spark, tok_df):
    """Associativity: raw->1h directly == raw->1m->1h (SURVEY.md §5.3),
    through the engine's one cascade (``cascade_tiers``)."""
    pts = extract_points(tok_df)
    tiers = cascade_tiers(rollup(pts, "1m"), "1m", ["5m", "1h", "1d"])
    for t in ("1h", "1d"):
        cascaded = tiers.where(f"tier = '{t}'").drop("tier").toPandas()
        _assert_frame_equal(rollup(pts, t).toPandas(), cascaded)


def _daemon_fine_rows(spark):
    """Finest-tier rows shaped like the daemon's live store: api Engine
    points (counter inc/dec, gauge, timer, meter) rolled to 1m, written
    as two snapshot versions, resolved latest-wins (resolve_latest's
    column order)."""
    from pyspark.sql import functions as F

    from logtrics_spark.api import Engine
    from logtrics_spark.plans.pipeline import resolve_latest

    rng = np.random.default_rng(3)
    n = 3000
    vs, ws = rng.integers(-99, 99, n), rng.integers(0, 9, n)
    pdf = pd.DataFrame(
        {
            "source": rng.choice(["web", "db"], n),
            "line": [f"v={v} w={w}" for v, w in zip(vs, ws)],
            "ts": pd.Timestamp("2024-01-01 22:00")
            + pd.to_timedelta(np.sort(rng.integers(0, 4 * 3600, n)), unit="s"),
        }
    )

    def handler(caps, m):
        v = caps["v"].astype("int64")
        m.counter("up").inc(v.clip(lower=0))
        m.counter("down").dec(v.clip(upper=0).abs())
        m.gauge("g").update(v)
        m.timer("t").update(caps["w"].astype("int64"))
        m.meter("hits").mark(1)

    eng = Engine()
    eng.rule("v", r"v=(?P<v>-?\d+) w=(?P<w>\d+)", handler)
    fine = rollup(eng.run(spark.createDataFrame(pdf)), "1m")
    stale = fine.withColumn("sum", F.col("sum") + 1).withColumn("flush_seq", F.lit(1))
    return resolve_latest(stale.unionByName(fine.withColumn("flush_seq", F.lit(2))))


def test_cascade_tiers_bit_identical_to_chain(spark, tok_df):
    """One aggregate for every coarse tier == the chained 1m->5m->1h->1d
    cascade, bit for bit on every column, for token-table tiers and for
    daemon-shaped fine rows."""
    for fine in (rollup(extract_points(tok_df), "1m"), _daemon_fine_rows(spark)):
        fine = fine.localCheckpoint()
        one = cascade_tiers(fine, "1m", ["5m", "1h", "1d"]).localCheckpoint()
        prev = fine
        for fine_t, tier in (("1m", "5m"), ("5m", "1h"), ("1h", "1d")):
            prev = cascade(prev, fine_t, tier)
            want = _norm(prev.toPandas())
            got = _norm(one.where(one.tier == tier).drop("tier").toPandas())
            assert list(got.columns) == list(want.columns) and len(got) == len(want) > 0
            for c in want.columns:
                a, b = want[c].to_numpy(), got[c].to_numpy()
                if a.dtype.kind == "f":
                    assert np.array_equal(a.view(np.uint64), b.view(np.uint64)), (tier, c)
                else:
                    assert (a == b).all(), (tier, c)
    with pytest.raises(ValueError, match="not a multiple"):
        cascade_tiers(fine, "1h", ["1d", "5m"])


def test_timer_percentiles_exact(spark, tok_df, tok_pdf):
    got = timer_percentiles(extract_points(tok_df), "1h", exact=True).toPandas()
    exp = percentiles_oracle(points_oracle(tok_pdf), TIERS["1h"])
    _assert_frame_equal(got, exp)


def test_cumulative_counter_view(spark, tok_df, tok_pdf):
    got = with_cumulative(rollup(extract_points(tok_df), "5m")).toPandas()
    exp = cumulative_oracle(rollup_oracle(points_oracle(tok_pdf), TIERS["5m"]))
    _assert_frame_equal(got, exp)


def test_token_passthrough_invariant(spark, tok_df, tok_pdf):
    """BASELINE.json:15 — per-row token-array equality through the pipeline.

    The raw table that coexists with the extraction output must carry
    bit-identical token arrays per doc_id.
    """
    back = tok_df.select("doc_id", "tokens").toPandas().set_index("doc_id")["tokens"]
    exp = tok_pdf.set_index("doc_id")["tokens"]
    assert len(back) == len(exp)
    for did in exp.index:
        assert np.array_equal(np.asarray(back[did]), np.asarray(exp[did])), did


def test_set_cardinality_exact_and_approx(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from logtrics_spark.operators.rollup import set_cardinality

    # 3 users in hour 0 (one repeated), 1 user in hour 1.
    rows = [
        ("s", "m", "set", datetime(2024, 1, 1, 0, 5), 101.0),
        ("s", "m", "set", datetime(2024, 1, 1, 0, 10), 102.0),
        ("s", "m", "set", datetime(2024, 1, 1, 0, 20), 101.0),
        ("s", "m", "set", datetime(2024, 1, 1, 0, 40), 103.0),
        ("s", "m", "set", datetime(2024, 1, 1, 1, 5), 101.0),
    ]
    pts = spark.createDataFrame(
        rows, "source string, metric string, kind string, ts timestamp, value double"
    )
    got = {
        r["window_start"].hour: r["cnt_distinct"]
        for r in set_cardinality(pts, "1h", id_col="value").collect()
    }
    assert got == {0: 3, 1: 1}
    # HLL path: exact at tiny cardinality, same schema.
    approx = set_cardinality(pts, "1h", id_col="value", exact=False)
    assert {r["window_start"].hour: r["cnt_distinct"] for r in approx.collect()} == got


def test_set_cardinality_exact_plan_has_no_single_buffer_agg(spark):
    """The exact path must be distinct-then-count (two partial-agg
    shuffles on the widened key), never a per-group collect_set."""
    from datetime import datetime

    from logtrics_spark.operators.rollup import set_cardinality

    pts = spark.createDataFrame(
        [("s", "m", "set", datetime(2024, 1, 1), 1.0)],
        "source string, metric string, kind string, ts timestamp, value double",
    )
    plan = (
        set_cardinality(pts, "1h", id_col="value")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_set" not in plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_set_sketch_cascade_matches_direct_coarse_sketch(spark):
    """HLL set tiers must REAGGREGATE: union of per-1m sketches at 1h ==
    building the 1h sketch from raw ids directly, and both within the
    sketch's error envelope of the exact count."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from logtrics_spark.operators.rollup import (
        set_sketch_cascade,
        set_sketch_estimate,
        set_sketch_rollup,
    )

    base = datetime(2024, 1, 1)
    rows = [
        ("s", "m", "set", base + timedelta(seconds=17 * i % 7200), (i * 13) % 900)
        for i in range(4000)
    ]
    pts = spark.createDataFrame(
        rows, "source string, metric string, kind string, ts timestamp, value long"
    )
    fine = set_sketch_rollup(pts, "1m", id_col="value")
    cascaded = set_sketch_estimate(set_sketch_cascade(fine, "1m", "1h"))
    direct = set_sketch_estimate(set_sketch_rollup(pts, "1h", id_col="value"))

    got = {r["window_start"]: r["cnt_distinct"] for r in cascaded.collect()}
    exp = {r["window_start"]: r["cnt_distinct"] for r in direct.collect()}
    # union drops the HIP estimator history, so cascaded != direct
    # bit-for-bit; both must sit inside the sketch's error envelope.
    assert got.keys() == exp.keys()

    exact = {
        r["window_start"]: r["cnt"]
        for r in pts.groupBy(
            F.date_trunc("hour", "ts").alias("window_start")
        ).agg(F.countDistinct("value").alias("cnt")).collect()
    }
    for ws in exact:
        assert abs(got[ws] - exact[ws]) <= 0.05 * exact[ws], (ws, got[ws], exact[ws])
        assert abs(exp[ws] - exact[ws]) <= 0.05 * exact[ws], (ws, exp[ws], exact[ws])
