"""Plan-invariant sweep over EVERY driver query (VERDICT r3 #7).

test_plan_quality.py locks detailed plan shapes for the headline
queries; this sweep asserts the coarse scale rules for all 50
__spark_entry__ queries so a regression anywhere (a Python UDF sneaking
into a native path, an accidental cross join) fails CI, not the 100 TB
run:

- no CartesianProduct, ever;
- BroadcastNestedLoopJoin only in the one declared brute-force
  baseline (similarity_topk broadcasts the query side by design — the
  scale path is similarity_ivf/_store);
- no row-at-a-time BatchEvalPython, ever (Arrow or nothing);
- Arrow/grouped-map Python stages only in the declared sequential-fold
  / vector operators — everything else stays whole-JVM.
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"

# queries whose semantics REQUIRE a Python stage (sequential folds,
# vector math) — all Arrow-batched; adding a query here is a design
# decision, not a fix
PY_ALLOWED = {
    "meter_ewma_1h": {"FlatMapGroupsInPandas"},  # EWMA recurrence fold
    "similarity_ivf": {"ArrowEvalPython"},  # centroid-assign pandas_udf
    "similarity_ivf_append": {"ArrowEvalPython"},  # delta assignment + probe
    # hyperplane-signature matmul + r7 per-bucket cosine verify (one
    # chunked numpy matmul per (band, bucket) group — batch-vectorized
    # grouped-map, replaces the 14M-pair enumerate+dedup+interpreted-dot)
    "embedding_dupes": {"ArrowEvalPython", "FlatMapGroupsInPandas"},
    # codec: mapInArrow encode per partition + mapInPandas decode
    "gorilla_roundtrip": {"MapInArrow", "MapInPandas"},
    "multimodal_features": {"MapInPandas"},  # decode seam
    "holtwinters_1h": {"FlatMapGroupsInPandas"},  # seasonal fold
    "lttb_1m": {"FlatMapGroupsInPandas"},  # bucket selection fold
    # merged entry: the 'arrow' part is the declared Arrow extractor
    "tokseq_tiers": {"MapInPandas", "ArrowEvalPython"},
    # sketch pipelines: collect_list shuffle + Arrow
    # build/merge/stats passes — no grouped-map, no per-group pandas
    "tdigest_1h": {"ArrowEvalPython"},
    "freq_sketch_1h": {"ArrowEvalPython"},  # incl. cms build; cascade+probe pure JVM
}
NLJ_ALLOWED = {"similarity_topk"}

PY_MARKERS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandasWithState",
)


def _plans(spark):
    import __spark_entry__ as entrymod

    for name, fn in entrymod.queries().items():
        yield name, fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_all_driver_queries_hold_plan_invariants(spark):
    violations = []
    seen = 0
    for name, plan in _plans(spark):
        seen += 1
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in NLJ_ALLOWED:
            violations.append(f"{name}: BroadcastNestedLoopJoin (undeclared)")
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: row-at-a-time BatchEvalPython")
        py = {m for m in PY_MARKERS if m in plan}
        extra = py - PY_ALLOWED.get(name, set())
        if extra:
            violations.append(f"{name}: undeclared Python stages {sorted(extra)}")
    assert seen >= 50, f"query registry shrank to {seen}"
    assert not violations, "\n".join(violations)


def test_curation_plan_holds_invariants(spark):
    """curate() — the composed LLM-data pipeline — joins the sweep: no
    cartesian product, no undeclared NLJ, no row-at-a-time Python, and
    no Python stages at all (every curation stage is JVM-side: text
    scoring is Catalyst expressions, dedup is hash/banded joins,
    sampling is md5 buckets)."""
    from logtrics_spark.plans.curation import curate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept, _ = curate(
        docs,
        min_quality=0.0,
        near_dup=True,
        jaccard_threshold=0.6,
        sample_rate=0.9,
        collect_stats=False,
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert not {m for m in PY_MARKERS if m in plan}, plan
