"""Physical-plan regression tests (SURVEY.md §4): the plans that make
this engine viable at 100 TB must not silently regress.
"""

from __future__ import annotations

import pytest

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators.extract import extract_points
from logtrics_spark.operators.rollup import cascade, rollup


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "raw")
    gen_tokseq(spark, 2000, partitions=2).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rollup_plan_single_exchange_partial_agg(spark, raw):
    plan = _plan(rollup(extract_points(raw), "1m"))
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan and "partial_max_by" in plan, plan


def test_filter_pushdown_reaches_scan(spark, raw):
    plan = _plan(rollup(extract_points(raw.where("source = 'web'")), "1m"))
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln or "FileScan" in ln]
    assert any("EqualTo(source,web)" in ln for ln in scan), plan


def test_token_column_never_scanned(spark, raw):
    plan = _plan(rollup(extract_points(raw), "1h"))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read, read


def test_cascade_adds_one_exchange_on_tiny_data(spark, raw):
    fine = rollup(extract_points(raw), "1m")
    plan = _plan(cascade(fine, "1m", "5m"))
    # raw->1m exchange + 1m->5m exchange, nothing more
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan


def test_gapfill_join_is_not_cartesian(spark, raw):
    from logtrics_spark.operators.gapfill import dense_spine

    plan = _plan(dense_spine(rollup(extract_points(raw), "1h"), "1h"))
    assert "CartesianProduct" not in plan
    assert "Join" in plan or "join" in plan


def test_no_python_udfs_in_native_path(spark, raw):
    """The hot path (extract native + rollup + cascade) must stay JVM-side:
    no BatchEvalPython / ArrowEvalPython / MapInPandas / MapInArrow nodes."""
    tiers = cascade(rollup(extract_points(raw), "1m"), "1m", "5m")
    plan = _plan(tiers)
    for marker in [
        "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    ]:
        assert marker not in plan, marker


def test_graphite_lines_stay_jvm_side(spark, raw):
    """K2 formatting is pure Catalyst string expressions — a Python UDF
    here would serialize every tier row through Arrow just to printf."""
    from logtrics_spark.sinks.graphite import to_graphite_lines

    plan = _plan(to_graphite_lines(rollup(extract_points(raw), "1h"), "1h"))
    for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"]:
        assert marker not in plan, marker
    assert "format_string" in plan.lower() or "Generate" in plan


def test_minhash_band_join_carries_no_signatures(spark, raw):
    """The LSH self-join shuffle must move (id, band, bucket) only —
    round 1 shipped both 64-long signature arrays through the join."""
    from logtrics_spark.operators.dedup import minhash_lsh_dupes

    docs = raw.select(raw.doc_id, raw.source.alias("text"))
    plan = _plan(minhash_lsh_dupes(docs, include_est=False))
    assert "CartesianProduct" not in plan
    # the join output schema is just the two ids; sig arrays appear only
    # upstream of the band explode
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines, plan
    assert all("sig" not in ln for ln in join_lines), join_lines


def test_pack_sequences_windows_by_composite_key(spark, raw):
    """The packing prefix-sum must partition its Window by (source, day),
    never bare source — a hot source as the only key funnels ~40% of the
    corpus through ONE sort task at scale."""
    from pyspark.sql import functions as F

    from logtrics_spark.operators.extract import with_ts
    from logtrics_spark.operators.tokens import pack_sequences

    tok = with_ts(raw, step_seconds=60).withColumn(
        "day", F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    )
    plan = _plan(pack_sequences(tok, budget=2048, by=["source", "day"]))
    spec_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert spec_lines, plan
    assert all("day" in ln for ln in spec_lines), spec_lines


def test_paragraph_dedup_winner_selection_is_fingerprint_keyed(spark, raw):
    """dedup_paragraphs (r7, VERDICT r6 top item): the first-occurrence
    winner groupBy and the winner join back onto occurrence rows must
    be keyed on the 8-byte xxhash64 fingerprint, not the raw paragraph
    string — the only string-keyed aggregation allowed in the plan is
    the (empty-in-practice) collision fallback, and the only stage that
    must carry paragraph text through a shuffle is the document
    rebuild."""
    import pandas as pd

    from logtrics_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["shared para\n\nalpha", "shared para\n\nbeta"]}
        )
    )
    plan = _plan(dedup_paragraphs(docs))
    assert "xxhash64" in plan, plan
    # the winner aggregation groups on fp (plus the string-keyed
    # collision fallback); the r6 shape had NO fp-keyed aggregate
    agg_keys = [
        ln for ln in plan.splitlines() if "HashAggregate(keys=[fp#" in ln
        or "SortAggregate(key=[fp#" in ln
    ]
    assert agg_keys, plan
    # and the winner join is fp-keyed: at least one join on fp columns
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "HashJoin [" in ln or "SortMergeJoin [" in ln or "HashJoin(" in ln
    ]
    assert any("[fp#" in ln for ln in join_lines), join_lines


def test_verification_jaccard_attaches_sets_not_shingle_rows(spark, raw):
    """ngram_jaccard_pairs (r7 shape): the pair joins attach ONE
    aggregated gram set per doc side and intersect it inside the pair
    row — the plan must NOT fan each pair out per shingle through a
    (id, sh)-keyed join, which at sf1.0 pushed ~800M rows into an
    exchange (the r6 shape; 26 s verify for the 4.0M-pair simhash
    candidate set vs 7 s with set attachment).  Pinned invariants:
    array_intersect present, and no join keyed on the shingle column.
    """
    import pandas as pd

    from logtrics_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e f", "a b c d e g"]})
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    plan = _plan(ngram_jaccard_pairs(docs, pairs, n=3))
    assert "array_intersect" in plan.lower(), plan
    # no (id, sh)-keyed pair join: shingle rows only exist below the
    # per-doc collect_set aggregation, never as a join key
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines, plan
    assert all("sh#" not in ln for ln in join_lines), join_lines


def test_verification_min_jaccard_prunes_by_size_ratio(spark, raw):
    """min_jaccard= must (a) apply the exact size-ratio bound BEFORE the
    gram-set joins and (b) return the identical pair set as post-hoc
    filtering of the unpruned output — the bound is a proof
    (J <= min/max), not a heuristic."""
    import pandas as pd

    from pyspark.sql import functions as F

    from logtrics_spark.operators.dedup import ngram_jaccard_pairs

    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g i",        # near-dup of 1
        3: "a b",                     # far smaller: size bound kills pair (1,3)
        4: "x y z w q r s t u v",     # disjoint, same size class as 1
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 1, 1], "id_b": [2, 3, 4]})
    )
    full = ngram_jaccard_pairs(docs, pairs, n=3).where(F.col("jaccard") >= 0.5)
    pruned = ngram_jaccard_pairs(docs, pairs, n=3, min_jaccard=0.5)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, pruned.collect()))
    plan = _plan(pruned)
    # the size-ratio filter must appear (greatest/least over the sizes)
    assert "least" in plan.lower() and "greatest" in plan.lower(), plan


def test_topk_series_broadcasts_winners(spark, raw):
    """topk_series: the registry-sized winner set must come back as a
    broadcast left-semi join — tier rows never shuffle for the filter."""
    from logtrics_spark.operators.series import topk_series

    tier = rollup(extract_points(raw), "1h")
    plan = _plan(topk_series(tier, k=3, value_col="sum", by="sum"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chained_series_windows_share_one_exchange(spark, raw):
    """moving_average then zscore on the same series key: ONE window
    partitioning exchange on top of the rollup's agg exchange — the
    second transform must reuse the first's partitioning."""
    import re

    from logtrics_spark.operators.series import moving_average, zscore

    tier = rollup(extract_points(raw), "1m")
    chain = zscore(
        moving_average(tier, "avg", 3600, out_col="m"), "avg", 3600, out_col="z"
    )
    plan = _plan(chain)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
