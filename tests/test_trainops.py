"""Tests for training-data ops: dedup, similarity, text analysis, multimodal."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# ------------------------------------------------------------------ dedup
def test_exact_dedup_with_planted_dupes(spark, docs):
    from logtrics_spark.operators.dedup import exact_dedup, exact_dup_groups

    # plant exact duplicates: copy 10 docs with new ids
    dup = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    groups = exact_dedup(both)
    assert groups.agg(F.sum("dup_count")).collect()[0][0] == docs.count() + 10
    dupes = exact_dup_groups(both).toPandas()
    assert len(dupes) == 10
    assert (dupes["dup_count"] == 2).all()
    # representative is the min id (the original)
    assert (dupes["keep_id"] < 100000).all()


def test_minhash_lsh_finds_near_dupes(spark, docs):
    from logtrics_spark.operators.dedup import minhash_lsh_dupes

    # near-dup: append one word to 5 docs
    near = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    both = docs.unionByName(near)
    pairs = minhash_lsh_dupes(both, threshold=0.5).toPandas()
    planted = pairs[(pairs.id_b - pairs.id_a) == 200000]
    assert len(planted) == 5, pairs
    assert (planted["est_jaccard"] > 0.6).all()


def test_minhash_estimates_jaccard(spark):
    """est_jaccard approximates true word-shingle Jaccard."""
    from logtrics_spark.operators.dedup import minhash_lsh_dupes, ngram_jaccard_pairs

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2], "text": [a, b]}))
    pairs = minhash_lsh_dupes(df, num_hashes=128, bands=32, shingle_k=3)
    exact = ngram_jaccard_pairs(df, pairs.select("id_a", "id_b"), n=3).collect()[0]
    est = pairs.collect()[0]["est_jaccard"]
    assert abs(est - exact["jaccard"]) < 0.2


def test_simhash_near_dupes(spark, docs):
    from logtrics_spark.operators.dedup import simhash_dupes

    near = (
        docs.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 300000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    )
    both = docs.unionByName(near)
    # radius-7 recall needs 8-bit bands — explicit opt-in (default is 16)
    pairs = simhash_dupes(both, band_bits=8).where("hamming <= 6").toPandas()
    planted = pairs[(pairs.id_b - pairs.id_a) == 300000]
    assert len(planted) == 3
    # identical docs -> hamming 0 (found at the 16-bit default too)
    same = simhash_dupes(docs.unionByName(docs.limit(2).withColumn("doc_id", F.col("doc_id") + 400000)))
    assert same.where("hamming = 0").count() >= 2


def test_simhash_default_is_manku_operating_point(spark):
    """The DEFAULT banding must be scale-safe: >= 2^16 bucket values per
    band (band_bits >= 16) so a clustered corpus can't pair up
    quadratically inside a band, and guaranteed recall at hamming <= 3
    on the adversarial one-flip-per-16-bit-band layout."""
    import inspect

    from logtrics_spark.operators.dedup import simhash_band_pairs, simhash_dupes

    for fn in (simhash_dupes, simhash_band_pairs):
        default = inspect.signature(fn).parameters["band_bits"].default
        assert default >= 16, f"{fn.__name__} default band space < 2^16"
    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    for i in range(1, 5):
        v = base
        for j in range(i):
            v ^= 1 << (j * 16)  # one flip per 16-bit band
        rows.append((i, v))
    sims = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "simhash"]))
    got = simhash_band_pairs(sims).where("id_a = 0").toPandas()
    found = set(got["id_b"])
    assert {1, 2, 3} <= found  # pigeonhole radius B-1 = 3
    assert 4 not in found  # one flip in every band -> no shared band


def test_simhash_band_guarantee(spark):
    """Pigeonhole recall: B bands of 64/B bits find every pair at
    hamming <= B-1 — checked on crafted simhash values where the
    differing bits are spread adversarially, one per band."""
    from logtrics_spark.operators.dedup import simhash_band_pairs

    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    # doc i differs from base in exactly i bits, each in a DIFFERENT
    # 8-bit band (bit j*8 for j < i) — worst case for banding
    for i in range(1, 9):
        v = base
        for j in range(i):
            v ^= 1 << (j * 8)
        rows.append((i, v))
    sims = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "simhash"]))
    got = simhash_band_pairs(sims, band_bits=8).where("id_a = 0").toPandas()
    found = set(got["id_b"])
    # hamming 1..7 must all be candidates; hamming 8 (one flip in every
    # band) must NOT collide with base on any band
    assert {1, 2, 3, 4, 5, 6, 7} <= found
    assert 8 not in found
    assert (got.set_index("id_b")["hamming"].loc[list(range(1, 8))] == range(1, 8)).all()
    # 16-bit bands only guarantee hamming <= 3 on this adversarial layout
    got16 = simhash_band_pairs(sims, band_bits=16).where("id_a = 0").toPandas()
    assert {1, 2, 3} <= set(got16["id_b"])


def test_dedup_groups_transitive_closure(spark):
    """Chains, stars, singleton edges, and disjoint components all
    collapse to min-member groups; pairwise-only dedup would keep both
    ends of the A-B-C chain."""
    from logtrics_spark.operators.dedup import dedup_groups

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # chain 1-2-3-4, star 10<-{11,12,13}, pair (20,21)
                "id_a": [1, 2, 3, 10, 10, 10, 20],
                "id_b": [2, 3, 4, 11, 12, 13, 21],
            }
        )
    )
    got = dedup_groups(pairs).toPandas().set_index("id")["group_id"].to_dict()
    assert {k: got[k] for k in (1, 2, 3, 4)} == {1: 1, 2: 1, 3: 1, 4: 1}
    assert {k: got[k] for k in (10, 11, 12, 13)} == {10: 10, 11: 10, 12: 10, 13: 10}
    assert got[20] == 20 and got[21] == 20
    keepers = {k for k, v in got.items() if k == v}
    assert keepers == {1, 10, 20}


def test_embedding_cosine_dupes(spark, embs):
    from logtrics_spark.operators.dedup import embedding_cosine_dupes

    # plant: one exact copy of vec 0 (identical vector -> identical LSH
    # signature -> guaranteed candidate at any banding)
    copy = embs.limit(1).withColumn("vec_id", F.lit(999999).cast("long"))
    both = embs.unionByName(copy)
    pairs = embedding_cosine_dupes(both, threshold=0.99).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == 999999)).any()
    assert np.isclose(pairs[(pairs.id_b == 999999)]["cosine"].iloc[0], 1.0)


def test_embedding_lsh_recall_and_plan(spark):
    """Banded hyperplane LSH: >=0.95 recall on planted near-dups at
    threshold 0.9, and the candidate join is keyed on (band, bucket) —
    never a cartesian/nested-loop all-pairs plan."""
    import pandas as pd

    from logtrics_spark.operators.dedup import embedding_cosine_dupes

    rng = np.random.default_rng(7)
    dim, n_base, n_planted = 64, 200, 40
    base = rng.standard_normal((n_base, dim))
    rows = [(i, base[i].astype(np.float32).tolist()) for i in range(n_base)]
    # planted near-dups: controlled perturbation -> cosine in ~[0.92, 0.99]
    expected = []
    for j in range(n_planted):
        eps = 0.15 + 0.25 * rng.random()
        noisy = base[j] + eps * rng.standard_normal(dim)
        c = float(base[j] @ noisy / (np.linalg.norm(base[j]) * np.linalg.norm(noisy)))
        if c >= 0.91:  # keep only pairs safely above the 0.9 threshold
            rows.append((10_000 + j, noisy.astype(np.float32).tolist()))
            expected.append((j, 10_000 + j))
    assert len(expected) >= 25
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    out = embedding_cosine_dupes(df, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    recall = sum(1 for p in expected if p in got) / len(expected)
    assert recall >= 0.95, f"recall {recall} over {len(expected)} planted pairs"

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bucket" in plan


# ------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, embs):
    from logtrics_spark.operators.similarity import cosine_topk

    queries = embs.where("vec_id < 3")
    got = cosine_topk(embs, queries, k=5).toPandas()
    pdf = embs.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    for qid in [0, 1, 2]:
        qi = np.where(ids == qid)[0][0]
        cos = mat @ mat[qi]
        cos[qi] = -np.inf
        exp_top = set(ids[np.argsort(-cos)[:5]])
        got_top = set(got[got.query_id == qid]["id"])
        assert got_top == exp_top, qid


def test_ivf_topk_recall(spark, embs):
    """Measured recall ladder via the distributed ann_recall helper:
    more probes never lose neighbors, full probe is exact, and the
    curve is documented in BENCH/NOTES.md.  The synthetic embeddings
    are clusterless Gaussians — IVF's worst case — so absolute recall
    at low nprobe is structurally modest; real embedding corpora
    cluster and probe far better at the same nprobe/C."""
    from logtrics_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_topk,
        train_centroids,
    )

    queries = embs.where("vec_id < 20")
    exact = cosine_topk(embs, queries, k=10).cache()
    cents = train_centroids(embs, 16)
    ladder = {
        nprobe: ann_recall(
            ivf_topk(embs, queries, k=10, n_centroids=16,
                     nprobe=nprobe, centroids=cents),
            exact,
        )
        for nprobe in (1, 4, 8, 16)
    }
    assert ladder[16] == 1.0  # probing every list IS brute force
    assert ladder[1] <= ladder[4] <= ladder[8] <= ladder[16]
    assert ladder[8] >= 0.7  # measured 0.79 on this seeded corpus
    assert ladder[4] >= 0.4  # measured 0.545


def test_ivf_topk_reuses_precomputed_assignment(spark, embs):
    """assign_corpus(...).persist() passed via assigned= must give the
    same results as the one-shot path (the multi-batch reuse contract)."""
    from logtrics_spark.operators.similarity import (
        assign_corpus,
        ivf_topk,
        train_centroids,
    )

    cents = train_centroids(embs, 8)
    assigned = assign_corpus(embs, cents).persist()
    try:
        one_shot = ivf_topk(
            embs, embs.where("vec_id < 5"), k=5, nprobe=4, centroids=cents
        ).toPandas()
        reused = ivf_topk(
            embs, embs.where("vec_id < 5"), k=5, nprobe=4,
            centroids=cents, assigned=assigned,
        ).toPandas()
        key = ["query_id", "rank"]
        assert one_shot.sort_values(key).reset_index(drop=True)[["query_id", "id", "rank"]].equals(
            reused.sort_values(key).reset_index(drop=True)[["query_id", "id", "rank"]]
        )
        with pytest.raises(ValueError, match="centroids"):
            ivf_topk(embs, embs.limit(1), assigned=assigned)
    finally:
        assigned.unpersist()


def test_ivf_assignment_scales_to_many_centroids(spark):
    """C=256 / dim=64: assignment must be one pandas_udf (numpy matmul
    per batch), never O(C*dim) Catalyst literal nodes — the plan stays
    small at index sizes where the round-1 literal form blew up."""
    import pandas as pd

    from logtrics_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((16, 64)) * 5.0
    rows = [
        (i, (centers[i % 16] + 0.3 * rng.standard_normal(64)).astype(np.float32).tolist())
        for i in range(800)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    queries = df.where("vec_id < 8")
    exact = cosine_topk(df, queries, k=5).toPandas()
    approx = ivf_topk(df, queries, k=5, n_centroids=256, nprobe=64)
    # the whole plan (centroid assignment included) must stay compact:
    # 256 centroids x 64 dims as literals would be >1 MB of plan text
    assert len(approx._jdf.queryExecution().analyzed().toString()) < 100_000
    apdf = approx.toPandas()
    hits = 0
    for qid in range(8):
        e = set(exact[exact.query_id == qid]["id"])
        a = set(apdf[apdf.query_id == qid]["id"])
        hits += len(e & a)
    assert hits / 40 >= 0.7, hits


# ------------------------------------------------------------------ text
def test_text_profile_columns(spark, docs):
    from logtrics_spark.operators.text import text_profile

    prof = text_profile(docs).toPandas()
    assert (prof["n_ws_tokens"] > 0).all()
    assert (prof["n_bpe_tokens"] >= prof["n_ws_tokens"]).all()
    assert prof["punct_ratio"].between(0, 1).all()
    assert prof["quality"].between(0, 1).all()
    assert (prof["lang_id"] == "en").mean() > 0.5  # corpus text is English-ish
    assert prof["fp64"].nunique() == len(prof)  # distinct docs -> distinct fp


def test_token_count_vs_duckdb(spark, docs):
    import duckdb

    from logtrics_spark.operators.text import whitespace_token_count

    got = (
        docs.select("doc_id", whitespace_token_count("text").alias("n"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = duckdb.sql(
        f"""SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
            FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"""
    ).df()
    assert (got["n"].to_numpy() == exp["n"].to_numpy()).all()


def test_language_id_known_samples(spark):
    from logtrics_spark.operators.text import language_id

    pdf = pd.DataFrame(
        {
            "text": [
                "the cat and the dog went to the park",
                "der Hund ist nicht ein Katze mit der Maus",
                "le chat est dans la maison et les jardins",
                "xyzzy qwerty plugh",
            ]
        }
    )
    got = spark.createDataFrame(pdf).select(language_id("text").alias("lang")).toPandas()
    assert list(got["lang"]) == ["en", "de", "fr", "und"]


def test_language_keys_above_und_sentinel_raise():
    """The 'und' fallback needs every language key to sort below 'und';
    the import-time check raises (not an assert, so python -O keeps it)."""
    from logtrics_spark.operators.text import STOPWORDS, _check_language_keys

    _check_language_keys(STOPWORDS)
    with pytest.raises(ValueError, match=r"\['vi', 'zh'\].*'und' sentinel"):
        _check_language_keys({**STOPWORDS, "zh": ["的"], "vi": ["và"]})
    with pytest.raises(ValueError, match="und"):
        _check_language_keys({"und": []})


# ------------------------------------------------------------ multimodal
def test_multimodal_features(spark):
    from logtrics_spark.operators.multimodal import extract_features, gen_media

    media = gen_media(spark, 60)
    feats = extract_features(media, dim=16).toPandas()
    assert len(feats) == 60
    assert all(len(f) == 16 for f in feats["feature"])
    # deterministic: same payload -> same feature
    again = extract_features(gen_media(spark, 60), dim=16).toPandas()
    a = np.array(feats.sort_values("media_id")["feature"].tolist())
    b = np.array(again.sort_values("media_id")["feature"].tolist())
    assert np.array_equal(a, b)


def test_multimodal_real_decode_is_stubbed(spark):
    from logtrics_spark.operators.multimodal import extract_features, gen_media

    media = gen_media(spark, 6)
    with pytest.raises(Exception, match="NotImplementedError|decoding requires"):
        extract_features(media, fake_decode=False).collect()


def test_frame_sampling_plan(spark):
    from logtrics_spark.operators.multimodal import frame_sample, gen_media

    media = gen_media(spark, 30)
    frames = frame_sample(media, every_ms=1000).toPandas()
    vids = media.where("modality='video'").select("media_id", "meta.duration_ms").toPandas()
    exp = int(sum(np.ceil(d / 1000) for d in vids["duration_ms"]))
    assert len(frames) == exp
    assert (frames.groupby("media_id")["frame_ms"].min() == 0).all()


def test_ivf_persistent_index_prunes_partitions(spark, embs, tmp_path):
    """Materialized IVF: probes become partition filters on the index
    scan (file-level I/O reduction), and nprobe=C equals brute force."""
    from logtrics_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        query_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(embs, path, n_centroids=8)
    queries = embs.where("vec_id < 5")

    out = query_ivf_index(spark, path, queries, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and any("cid IN" in ln or "cid#" in ln for ln in scan), plan
    got = out.toPandas()
    assert set(got["query_id"]) == set(range(5))
    assert (got.groupby("query_id").size() == 5).all()

    # probing every list degenerates to the exact answer
    exact = cosine_topk(embs, queries, k=5).toPandas()
    full = query_ivf_index(spark, path, queries, k=5, nprobe=8).toPandas()
    key = ["query_id", "rank"]
    assert (
        full.sort_values(key)["id"].to_numpy()
        == exact.sort_values(key)["id"].to_numpy()
    ).all()


def test_cosine_topk_ignores_nan_and_zero_vectors(spark):
    """A NaN-poisoned vector must not rank first in every query's top-k
    (Spark sorts NaN above all numbers under desc); a zero-norm vector
    yields null cosine and is dropped, not ranked."""
    import math

    import pandas as pd

    from logtrics_spark.operators.similarity import cosine_topk

    corpus = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3, 4],
        "embedding": [
            [1.0, 0.0],
            [0.9, 0.1],
            [float("nan"), 1.0],
            [0.0, 0.0],
        ],
    }))
    queries = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1], "embedding": [[1.0, 0.0]],
    }))
    got = cosine_topk(corpus, queries, k=2).orderBy("rank").collect()
    assert [r["id"] for r in got] == [2, 4] or [r["id"] for r in got] == [2]
    # id=3 (NaN) must never appear, and no returned cosine is NaN
    assert all(r["id"] != 3 and not math.isnan(r["cosine"]) for r in got)


def test_dedup_groups_raises_when_unconverged(spark):
    """ADVICE r3: exiting the label-propagation loop while labels are
    still moving must be an error, not silently-wrong group ids."""
    import pytest as _pytest

    from logtrics_spark.operators.dedup import dedup_groups

    # a 5-node chain needs ~4 propagation rounds; cap at 1
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 4], "id_b": [2, 3, 4, 5]})
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_groups(pairs, max_iter=1)


def test_train_centroids_samples_across_partitions(spark):
    """ADVICE r3: the centroid training sample must be a seeded sample
    over ALL partitions, not limit()'s first-partition slice — two
    well-separated clusters living in different partitions must both
    be represented."""
    import numpy as np

    from logtrics_spark.operators.similarity import train_centroids

    # partition 0: tight cluster at +10, partition 1: tight cluster at -10
    rng = np.random.default_rng(7)
    a = rng.normal(10.0, 0.1, size=(400, 4))
    b = rng.normal(-10.0, 0.1, size=(400, 4))
    pdf = pd.DataFrame({"embedding": [list(v) for v in np.vstack([a, b])]})
    # force the two clusters into separate partitions deterministically
    df = spark.createDataFrame(pdf.iloc[:400]).coalesce(1).unionAll(
        spark.createDataFrame(pdf.iloc[400:]).coalesce(1)
    )
    cents = train_centroids(df, n_centroids=2, sample_rows=100, seed=3)
    signs = sorted(np.sign(cents.mean(axis=1)))
    assert signs == [-1.0, 1.0], f"both clusters must be sampled, got {cents.mean(axis=1)}"


def test_train_centroids_distributed_kmeans_parallel(spark, embs):
    """k-means|| path (MLlib): centroids come back as (C, dim) numpy
    without the corpus ever hitting the driver, and they drop into the
    same IVF query path as the sampled trainer."""
    from logtrics_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_centroids_distributed,
    )

    dim = len(embs.select("embedding").first()[0])
    cent = train_centroids_distributed(embs, n_centroids=64, iters=3, seed=7)
    assert cent.shape == (64, dim)
    assert np.isfinite(cent).all()

    q = embs.limit(3)
    # nprobe = C degenerates to exact: must match brute force
    approx = ivf_topk(embs, q, k=5, nprobe=64, centroids=cent).toPandas()
    exact = cosine_topk(embs, q, k=5).toPandas()
    key = ["query_id", "rank"]
    a = approx.sort_values(key).reset_index(drop=True)
    e = exact.sort_values(key).reset_index(drop=True)
    assert (a["id"] == e["id"]).all()


# ------------------------------------------------------------ curation
def test_curation_pipeline_end_to_end(spark, docs):
    """plans/curation.py: the composed annotate -> filter -> exact dedup
    -> near-dedup -> sample plan drops planted exact dupes, collapses a
    planted near-dup CHAIN to one representative, and reports monotone
    per-stage survivor counts."""
    from logtrics_spark.plans.curation import curate

    base = docs.limit(40).select("doc_id", "text", "source")
    # exact dupes: copies of 5 docs under new ids
    exact = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    # near-dup chain off doc 0: A(original) ~ B(+word) ~ C(+2 words)
    b = (
        base.limit(1)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat("text", F.lit(" extraword")))
    )
    c = (
        base.limit(1)
        .withColumn("doc_id", F.col("doc_id") + 300000)
        .withColumn("text", F.concat("text", F.lit(" extraword twomore")))
    )
    corpus = base.unionByName(exact).unionByName(b).unionByName(c)

    kept, stats = curate(
        corpus, min_quality=None, near_dup=True, jaccard_threshold=0.5
    )
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert stats["input"] == 47
    assert stats["exact_dedup"] == 42  # 5 exact copies dropped
    assert not any(i >= 100000 for i in ids)  # copies AND chain members gone
    assert 0 in ids  # the chain representative (min id) survives
    # the planted chain (2 rows) is gone; the synthetic corpus may
    # contain a few naturally-similar base docs that also collapse
    assert 38 <= stats["near_dedup"] <= 40
    # survivor counts are monotone through the stages
    vals = [stats[s] for s in ("input", "exact_dedup", "near_dedup")]
    assert vals == sorted(vals, reverse=True)
    assert {"quality", "lang"} <= set(kept.columns)

    # filters + deterministic sampling compose; stats lazy-off works
    kept2, stats2 = curate(
        corpus,
        min_quality=0.0,
        langs=["en"],
        near_dup=False,
        sample_rates={"web": 1.0},
        sample_by="source",
        collect_stats=False,
    )
    assert stats2 == {}
    got = kept2.count()
    again = curate(
        corpus, min_quality=0.0, langs=["en"], near_dup=False,
        sample_rates={"web": 1.0}, sample_by="source", collect_stats=False,
    )[0].count()
    assert got == again  # rerun-stable (md5-bucket sampling, no rand())


def test_curation_decontam_stage(spark, docs):
    """curate(benchmark=...) drops exactly the docs sharing an n-gram
    with the benchmark set and records the stage count; no benchmark
    -> no 'decontam' stat and nothing dropped."""
    from logtrics_spark.plans.curation import curate

    base = docs.where(F.col("doc_id") < 30).select("doc_id", "text", "source")
    # benchmark = two specific corpus docs verbatim -> those two
    # (already unique in the corpus after exact dedup) must be dropped
    bench = base.where(F.col("doc_id").isin(0, 1)).select("doc_id", "text")
    kept, stats = curate(
        base, min_quality=None, near_dup=False, benchmark=bench, decontam_n=8
    )
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert {0, 1} & ids == set()
    assert stats["decontam"] <= stats["exact_dedup"] - 2
    no_bench, stats2 = curate(base, min_quality=None, near_dup=False)
    assert "decontam" not in stats2
    assert no_bench.count() == stats["exact_dedup"]


# ------------------------------------------- LSH oversized-bucket guard
def test_lsh_oversized_bucket_guard_minhash(spark, caplog):
    """10k identical docs (one pathological LSH bucket per band): the
    guard star-collapses the bucket — O(N) candidate pairs through the
    min-id representative instead of an O(N^2) within-bucket join —
    logs the collapse, and the connected-components closure still
    recovers the full duplicate cluster."""
    import logging

    from logtrics_spark.operators.dedup import dedup_groups, minhash_lsh_dupes

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog every day").alias(
            "text"
        ),
    )
    with caplog.at_level(logging.WARNING, logger="logtrics_spark.dedup"):
        pairs = minhash_lsh_dupes(
            docs, include_est=False, max_bucket_size=500
        ).toPandas()
    # the collapse is reported, not silent
    assert any("max_bucket_size" in r.message for r in caplog.records)
    # star shape: every pair goes through the representative (id 0),
    # so exactly N-1 pairs — a quadratic join would give ~50M
    assert len(pairs) == n - 1
    assert (pairs["id_a"] == 0).all()
    assert set(pairs["id_b"]) == set(range(1, n))
    # closure over the star recovers ONE duplicate cluster of size N
    groups = dedup_groups(spark.createDataFrame(pairs[["id_a", "id_b"]]))
    gp = groups.toPandas()
    assert len(gp) == n
    assert (gp["group_id"] == 0).all()


def test_lsh_oversized_bucket_guard_preserves_small_buckets(spark, docs):
    """Buckets under the cap keep the exact quadratic-join semantics:
    with a cap far above any real bucket, results are identical to the
    unguarded operator."""
    from logtrics_spark.operators.dedup import minhash_lsh_dupes

    near = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    both = docs.unionByName(near)
    guarded = minhash_lsh_dupes(both, threshold=0.5, max_bucket_size=4096).toPandas()
    unguarded = minhash_lsh_dupes(both, threshold=0.5, max_bucket_size=None).toPandas()
    key = ["id_a", "id_b"]
    assert (
        guarded.sort_values(key)[key].to_numpy()
        == unguarded.sort_values(key)[key].to_numpy()
    ).all()


def test_lsh_oversized_bucket_guard_simhash(spark, caplog):
    """Simhash variant: identical docs share one simhash, the star
    pairs carry hamming=0 and the hamming cut still applies."""
    import logging

    from logtrics_spark.operators.dedup import simhash_dupes

    n = 3_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical content for every single row in this table").alias("text"),
    )
    with caplog.at_level(logging.WARNING, logger="logtrics_spark.dedup"):
        pairs = simhash_dupes(docs, max_bucket_size=200).toPandas()
    assert any("simhash_band_pairs" in r.message for r in caplog.records)
    assert len(pairs) == n - 1
    assert (pairs["id_a"] == 0).all()
    assert (pairs["hamming"] == 0).all()


def test_persisted_sigs_attribute_is_deprecated(spark, docs):
    import warnings

    from logtrics_spark.operators.dedup import minhash_lsh_dupes

    out = minhash_lsh_dupes(docs.limit(50))
    with pytest.warns(DeprecationWarning, match="persisted_sigs is deprecated"):
        out.persisted_sigs.unpersist()


# ------------------------------------------------- incremental IVF index
def test_ivf_append_matches_full_rebuild(spark, embs, tmp_path):
    """append_to_ivf_index(delta) + query == build_ivf_index(full corpus)
    on the SAME centroids + query — appends only add list rows."""
    from logtrics_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        train_centroids,
    )

    cents = train_centroids(embs, 8)
    base, delta = embs.where("vec_id < 250"), embs.where("vec_id >= 250")
    queries = embs.where("vec_id < 5")

    inc_path = str(tmp_path / "ivf_inc")
    build_ivf_index(base, inc_path, centroids=cents)
    used = append_to_ivf_index(delta, inc_path)
    assert np.allclose(used, cents)

    full_path = str(tmp_path / "ivf_full")
    build_ivf_index(embs, full_path, centroids=cents)

    key = ["query_id", "rank"]
    inc = query_ivf_index(spark, inc_path, queries, k=5, nprobe=3).toPandas()
    full = query_ivf_index(spark, full_path, queries, k=5, nprobe=3).toPandas()
    assert (
        inc.sort_values(key)["id"].to_numpy() == full.sort_values(key)["id"].to_numpy()
    ).all()


def test_ivf_drift_flags_shifted_distribution(spark, embs, tmp_path):
    """Drift metric: appending in-distribution rows keeps the ratio ~1;
    appending a shifted distribution pushes it over the retrain bar."""
    from logtrics_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_drift,
    )

    path = str(tmp_path / "ivf_drift")
    build_ivf_index(embs, path, n_centroids=8)
    d0 = ivf_drift(spark, path)
    assert d0["n"] == 500
    assert abs(d0["ratio"] - 1.0) < 1e-9 and not d0["retrain"]

    # in-distribution delta: same vectors under new ids
    same = embs.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), F.col("embedding")
    )
    append_to_ivf_index(same, path)
    d1 = ivf_drift(spark, path)
    assert d1["n"] == 1000
    assert abs(d1["ratio"] - 1.0) < 1e-6 and not d1["retrain"]

    # shifted delta: constant offset moves every vector away from the
    # trained centroids -> mean distance inflates -> retrain signal
    shifted = embs.select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(25.0)).alias("embedding"),
    )
    append_to_ivf_index(shifted, path)
    d2 = ivf_drift(spark, path)
    assert d2["ratio"] > 1.5 and d2["retrain"]


def test_maintain_ivf_index_auto_retrains(spark, embs, tmp_path):
    """The full maintenance loop: in-distribution appends keep the
    index as-is; a drifted delta trips the threshold, the index
    retrains IN PLACE from its own lists, and the post-retrain drift
    baseline resets to ~1."""
    from logtrics_spark.operators.similarity import (
        build_ivf_index,
        maintain_ivf_index,
    )

    path = str(tmp_path / "ivf_m")
    build_ivf_index(embs.where("vec_id < 400"), path, n_centroids=8)

    same = embs.where("vec_id >= 400").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    d1 = maintain_ivf_index(same, path)
    assert not d1["retrained"] and d1["ratio"] < 1.2

    shifted = embs.select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(25.0)).alias("embedding"),
    )
    d2 = maintain_ivf_index(shifted, path)
    assert d2["retrain"] and d2["retrained"]
    assert abs(d2["after"]["ratio"] - 1.0) < 1e-9
    # the retrained index still holds every vector exactly once
    # (400 base + 100 in-distribution delta + 500 shifted delta)
    lists = spark.read.parquet(path + "/lists")
    assert lists.count() == 400 + 100 + 500
    assert lists.select("id").distinct().count() == 1000


def test_curation_all_stages_compose(spark, docs):
    """Every opt-in stage ON at once (redact -> gopher -> exact ->
    near-dup -> decontam -> sample): the plan builds, runs, and each
    stage's audit count appears in order and monotone (redact is a
    row-preserving transform; its audit key counts docs hit)."""
    from logtrics_spark.plans.curation import curate

    base = docs.limit(30).select("doc_id", "text", "source")
    corpus = base.withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 5 == 0, F.lit(" reach me at a@b.io")).otherwise(
                F.lit("")
            ),
        ),
    )
    bench = docs.where("doc_id >= 400").select("doc_id", "text", "source")
    kept, stats = curate(
        corpus,
        min_quality=None,
        redact=True,
        gopher=True,
        gopher_opts={"min_words": 5, "min_stop_hits": 0},
        gopher_top_ns={2: 0.9},
        gopher_dup_ns={},
        near_dup=True,
        jaccard_threshold=0.5,
        benchmark=bench,
        decontam_n=8,
        sample_rate=0.9,
    )
    order = [
        "redact_docs_hit", "input", "gopher_filter", "gopher_repetition",
        "exact_dedup", "near_dedup", "decontam", "sample",
    ]
    assert [k for k in stats] == order
    assert stats["redact_docs_hit"] == 6  # doc_id % 5 == 0 among 0..29
    flow = [stats[k] for k in order[1:]]
    assert flow == sorted(flow, reverse=True)
    assert stats["sample"] == kept.count()
    # no raw PII survives into the kept output
    assert kept.where(F.col("text").contains("@")).count() == 0


def test_ensure_parallel_skips_already_spread_checkpointed_frames(spark, docs):
    """_ensure_parallel must not re-shuffle a corpus that already spans
    the target parallelism: a checkpointed mid-pipeline frame (zero
    inputFiles) with >= defaultParallelism partitions passes through
    untouched — curate() localCheckpoints the annotated corpus across
    the full shuffle width, and the r6 heuristic re-repartitioned every
    document body once per signature/gram scan on top of that.  A
    genuinely narrow local frame still gets spread."""
    from logtrics_spark.operators.dedup import _ensure_parallel

    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target, F.col("doc_id")).localCheckpoint()
    assert wide.inputFiles() == []
    assert _ensure_parallel(wide, "doc_id") is wide

    narrow = docs.coalesce(1).localCheckpoint()
    spread = _ensure_parallel(narrow, "doc_id")
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() >= target
