"""First-class sketch tiers in the batch RollupJob (``sketches=``):
run() builds mergeable tdigest/MG/HLL/CMS tier tables from the same pruned
points, cascades them by MERGING, and they follow the same pending-unit
resume + retention discipline as the scalar tiers — the engine-API form
of the manual composition test_sketch_store.py pins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logtrics_spark.datagen import gen_tokseq
from logtrics_spark.operators import tdigest as td
from logtrics_spark.operators.extract import extract_points
from logtrics_spark.operators.heavyhitters import mg_topk
from logtrics_spark.operators.rollup import set_sketch_estimate
from logtrics_spark.plans.pipeline import RollupJob

N = 4_000
STEP = 30  # ~33h of derived ts -> 2 days
TINY = 300  # docs: ~2.5 h of one day, for the crash-point runs
SK = {"enabled": ["tdigest", "mg", "hll", "cms"], "item_col": "value"}


@pytest.fixture()
def tok(spark):
    return gen_tokseq(spark, N, partitions=4)


def _truth(tok):
    """Exact per-(source, metric, 1d-window) stats of the point values."""
    pts = extract_points(tok, step_seconds=STEP).toPandas()
    pts["w"] = pts["ts"].dt.floor("1D")
    return pts


def test_sketch_tiers_built_and_answer(spark, tok, tmp_path):
    job = RollupJob(spark, str(tmp_path / "s"), step_seconds=STEP, sketches=SK)
    job.ingest_raw(tok)
    job.run(run_id="r1")
    for k in ("tdigest", "mg", "hll", "cms"):
        for t in job.tiers:
            assert job.io.exists(f"sk_{k}/tier={t}"), (k, t)

    truth = _truth(tok)
    grp = truth.groupby(["source", "metric", "kind", "w"])
    day_td = td.tdigest_stats(job.read_sketch_tier("tdigest", "1d"))
    for r in day_td.collect():
        g = grp.get_group((r["source"], r["metric"], r["kind"], pd.Timestamp(r["window_start"])))
        assert r["cnt"] == len(g)  # exact mass conservation through cascade
        assert r["min"] == g["value"].min() and r["max"] == g["value"].max()

    # quantile estimate within the rank envelope for the heaviest series
    # with real spread (constant-valued series — meter rates — make rank
    # checks degenerate: every estimate sits at rank 0 or 1)
    varied = [k for k, g in grp if g["value"].nunique() > 10]
    src, met, kind, w = max(varied, key=lambda key: len(grp.get_group(key)))
    vals = np.sort(grp.get_group((src, met, kind, w))["value"].to_numpy())
    row = (
        td.tdigest_quantiles(job.read_sketch_tier("tdigest", "1d"), [0.9])
        .where((F.col("source") == src) & (F.col("metric") == met))
        .where(F.col("window_start") == pd.Timestamp(w))
        .collect()[0]
    )
    rank = np.searchsorted(vals, row["p90"]) / len(vals)
    assert abs(rank - 0.9) <= 0.02

    # MG top-1 == exact mode of the window's values; HLL within 5%
    top = {
        (r["source"], r["metric"], r["kind"], pd.Timestamp(r["window_start"])): r
        for r in mg_topk(job.read_sketch_tier("mg", "1d"), n=1).collect()
    }
    est = {
        (r["source"], r["metric"], r["kind"], pd.Timestamp(r["window_start"])): r
        for r in set_sketch_estimate(job.read_sketch_tier("hll", "1d")).collect()
    }
    for key, g in grp:
        svals = g["value"].astype(str)
        r = top[key]
        assert r["total_n"] == len(g)
        # exact regime guarantee only when within capacity; mode is the
        # heaviest item regardless
        mode_count = svals.value_counts().iloc[0]
        assert r["est_count"] <= mode_count
        true_d = svals.nunique()
        assert abs(est[key]["cnt_distinct"] - true_d) / true_d <= 0.05

    # CMS point frequencies: exact mass, never-underestimate, and the
    # epsilon overestimate bound (3x slack absorbs the per-probe
    # exp(-depth) failure probability across all windows probed)
    from logtrics_spark.operators.countmin import item_indices

    cms_rows = {
        (r["source"], r["metric"], r["kind"], pd.Timestamp(r["window_start"])): r
        for r in job.read_sketch_tier("cms", "1d").collect()
    }
    for key, g in grp:
        r = cms_rows[key]
        assert r["total_n"] == len(g)
        svals = g["value"].astype(str)
        vc = svals.value_counts()
        tab = np.asarray(r["table"], dtype=np.int64)
        depth, width = r["depth"], r["width"]
        for item, true_c in ((vc.index[0], vc.iloc[0]),
                             (vc.index[len(vc) // 2], vc.iloc[len(vc) // 2])):
            est = min(
                tab[d * width + j]
                for d, j in enumerate(item_indices(item, depth, width))
            )
            assert est >= true_c
            assert est - true_c <= 3 * np.e / width * r["total_n"]


def _state(job):
    """Chunk bytes, sealed units and per-tier digest stats of a store."""
    chunks = job.io.read("chunks").toPandas()
    chunks["chunk"] = chunks["chunk"].map(bytes)
    key = ["tier", "source", "metric", "kind", "chunk_start"]
    digests = [
        td.tdigest_stats(job.read_sketch_tier("tdigest", t))
        .select("source", "metric", "window_start", "cnt", "min", "max")
        .orderBy("source", "metric", "window_start")
        .toPandas()
        for t in ("1m", "1d")
    ]
    units = sorted(tuple(r) for r in job.io.sealed_units().collect())
    return chunks.sort_values(key).reset_index(drop=True), units, digests


def test_sketch_kill_resume_completes(spark, tmp_path, crash_after):
    """A crash after each store write of the seal (chunk write, sketch
    writes, lineage append): the resume leaves the same chunk bytes,
    sealed units and sketch estimates as a never-killed run."""
    tok = gen_tokseq(spark, TINY, partitions=2)
    clean = RollupJob(spark, str(tmp_path / "clean"), step_seconds=STEP, sketches=SK)
    clean.ingest_raw(tok)
    clean.run(run_id="c")
    chunks, units, digests = _state(clean)

    for point in ("chunks", "sketches", "lineage"):
        killed = RollupJob(spark, str(tmp_path / point), step_seconds=STEP, sketches=SK)
        killed.ingest_raw(tok)
        with crash_after(point):
            killed.run(run_id="r1")
        killed.run(run_id="r2")
        got_chunks, got_units, got_digests = _state(killed)
        assert got_chunks.equals(chunks) and got_units == units, point
        for a, b in zip(digests, got_digests):
            pd.testing.assert_frame_equal(a, b)


def test_sketch_retention_coarse_survives(spark, tok, tmp_path):
    """retention_tiers drops the fine sketch partitions with the fine
    scalar tiers; the coarse sketch tiers still answer."""
    job = RollupJob(spark, str(tmp_path / "s"), step_seconds=STEP, sketches=SK)
    job.ingest_raw(tok)
    job.run(run_id="r")
    total_before = (
        td.tdigest_stats(job.read_sketch_tier("tdigest", "1d"))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    dropped = job.retention_tiers({"1m": 0, "5m": 0}, today="2099-01-01")
    assert dropped  # fine tiers gone
    assert not job.io.exists("sk_tdigest/tier=1m") or not job.io.list_partitions(
        "sk_tdigest/tier=1m", "day"
    )
    total_after = (
        td.tdigest_stats(job.read_sketch_tier("tdigest", "1d"))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    assert total_after == total_before


def test_no_sketches_is_noop(spark, tok, tmp_path):
    job = RollupJob(spark, str(tmp_path / "s"), step_seconds=STEP)
    job.ingest_raw(tok)
    job.run(run_id="r")
    for k in ("tdigest", "mg", "hll", "cms"):
        assert not job.io.exists(f"sk_{k}")


def test_enable_sketches_mid_history_resumes(spark, tok, tmp_path):
    """Sketches turned on AFTER a scalar-only run that sealed just the 1m
    tier: the coarser tiers' sketch rows build directly from
    raw for their pending days instead of asserting on the missing fine
    sketch history."""
    job0 = RollupJob(spark, str(tmp_path / "s"), tiers=["1m"], step_seconds=STEP)
    job0.ingest_raw(tok)
    job0.run(run_id="r1")

    job = RollupJob(spark, str(tmp_path / "s"), step_seconds=STEP, sketches=SK)
    stats = job.run(run_id="r2")
    assert stats["1m"] == 0 and stats["5m"] > 0
    # coarser sketch tiers exist and conserve mass for their days
    truth = _truth(tok)
    total = (
        td.tdigest_stats(job.read_sketch_tier("tdigest", "1d"))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    assert total == len(truth)
    # fine sketch history stays absent for the already-sealed days (the
    # documented cost of a mid-history enable)
    assert not job.io.exists("sk_tdigest/tier=1m")


def test_retention_auto_detects_sketch_tables(spark, tok, tmp_path):
    """A RollupJob constructed WITHOUT sketches= (e.g. a bare
    `rollup` CLI run) must still age out sk_* day partitions written by
    an earlier sketch-enabled job — retention auto-detects existing
    sketch tables instead of keying off the configured list (mirrors
    the daemon's _sketch_kinds_effective)."""
    store = str(tmp_path / "s")
    job = RollupJob(spark, store, step_seconds=STEP, sketches=SK)
    job.ingest_raw(tok)
    job.run(run_id="r")
    assert job.io.list_partitions("sk_tdigest/tier=1m", "day")

    bare = RollupJob(spark, store, step_seconds=STEP)  # no sketches=
    dropped = bare.retention_tiers({"1m": 0, "5m": 0}, today="2099-01-01")
    assert dropped
    for k in ("tdigest", "mg", "hll", "cms"):
        for t in ("1m", "5m"):
            assert not bare.io.exists(f"sk_{k}/tier={t}") or not bare.io.list_partitions(
                f"sk_{k}/tier={t}", "day"
            ), (k, t)
    # coarse sketch history untouched
    assert bare.io.list_partitions("sk_tdigest/tier=1d", "day")
