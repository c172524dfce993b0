"""Mergeable heavy-hitter tiers — Misra-Gries summaries (Misra & Gries
1982; mergeability per Agarwal et al., "Mergeable Summaries", PODS'12).

WHY: "top sources/users per window" is the third aggregate family that
does not compose: the exact `topk_series` answers one tier from its
rows, but the top-k of an hour is NOT derivable from the top-k of its
minutes once the tails were dropped — same trap as percentiles and
distinct counts.  This completes the mergeable-sketch trio alongside
`set_sketch_rollup` (HLL, distinct counts) and `tdigest_rollup`
(quantiles): each fine window stores a bounded (item, count) summary
plus an error bound, coarser tiers MERGE summaries, and any item with
true frequency > n/(k+1) is GUARANTEED to survive every merge.

Summary semantics (per window): up to k items with clipped counts and
a scalar ``err`` such that for every item,

    true_count - err <= est_count(+0 if absent) <= true_count

``total_n`` carries the exact window mass (conserved through merges —
the hash-exact invariant a driver oracle can check).  Merge = sum
counts coordinate-wise, add errs, then if over capacity subtract the
(k+1)-th largest count from all, clip at 0, and fold the subtracted
amount into ``err`` (the PODS'12 reduction).

Execution shape: per-window item counts via a plain JVM two-key
groupBy (partial+final native agg — the raw shuffle carries (window,
item) longs), then the PODS'12 reduction in pure Catalyst over one
collect_list per window (see `mg_rollup`).  The collect_list funnels a
window's whole DISTINCT-ITEM set through one task, so a window with
millions of distinct items is bounded by one task's memory; that
regime is scale-out work.  Cascades merge summaries with the same
reduction, also in Catalyst (`mg_cascade`); the Python `mg_merge` is
the reference that tests pin `mg_cascade` against.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

def _reduce(items: np.ndarray, counts: np.ndarray, k: int):
    """PODS'12 reduction to capacity k; returns (items, counts, delta).
    Part of the `mg_merge` test reference.

    Deterministic: ties in the (k+1)-th count are resolved by the
    (-count, item) sort, so the same inputs always keep the same items.
    """
    if len(items) <= k:
        order = np.lexsort((items, -counts))
        return items[order], counts[order], 0
    order = np.lexsort((items, -counts))
    items, counts = items[order], counts[order]
    delta = int(counts[k])  # (k+1)-th largest
    counts = counts - delta
    keep = counts > 0
    keep[k:] = False  # ties at the boundary all clipped to <= 0 anyway
    return items[keep], counts[keep], delta


def mg_merge(summaries, k: int):
    """Merge (items, counts, err, total_n) summaries at capacity k.

    The Python reference of the PODS'12 merge: no engine path calls it;
    tests pin `mg_cascade` value-identical to it."""
    bag: dict[str, int] = {}
    err = 0
    total = 0
    for it, cn, e, n in summaries:
        err += int(e)
        total += int(n)
        for i, c in zip(it, cn):
            bag[i] = bag.get(i, 0) + int(c)
    if not bag:
        return [], [], err, total
    items = np.array(list(bag.keys()), dtype=object)
    counts = np.array(list(bag.values()), dtype=np.int64)
    items, counts, delta = _reduce(items, counts, k)
    return list(items), [int(c) for c in counts], err + delta, total


def mg_rollup(
    points: DataFrame,
    tier: str,
    item_col: str,
    key: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """One MG summary per series-window over ``item_col``.

    Exact item counting (two-key native groupBy), then the summary
    truncates to capacity k with the MG guarantee; err == 0 whenever
    the window's item cardinality <= k (the summary is then exact).
    """
    key = key or KEY
    gcols = [*key, "window_start"]
    # null items are dropped (no observation) before counting, so
    # total_n counts only the items a summary can hold
    pts = (
        points.withColumn("window_start", window_start(F.col("ts"), tier))
        .select(*gcols, F.col(item_col).cast("string").alias("_item"))
        .where(F.col("_item").isNotNull())
    )
    # The PODS'12 reduction runs in PURE Catalyst: the
    # summary is a per-group sorted (-count, item) struct array, the
    # (k+1)-th count is the clip delta, and the kept prefix is a
    # filter+transform over the first k entries.  The r6 shape shipped
    # every window's (items, counts) arrays through Arrow into a
    # per-ROW pandas loop (one np.lexsort per summary) — at sf1.0 the
    # 1m fine tier has 214k windows and that Python stage dominated the
    # whole mg arm (~10 s); this formulation is value-identical
    # (lexsort over unique (item) keys == sort_array over unique
    # (-count, item) structs, same clip, same kept-prefix order) and
    # never leaves the JVM.
    summ = (
        pts.groupBy(*gcols, "_item")
        .agg(F.count("*").alias("_cnt"))
        .groupBy(*gcols)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("_cnt")).alias("nc"), F.col("_item").alias("it"))
                )
            ).alias("_s"),
            F.sum("_cnt").alias("total_n"),
        )
    )
    delta = (
        F.when(F.size("_s") <= k, F.lit(0).cast("long"))
        .otherwise(-F.element_at("_s", k + 1)["nc"])
    )
    staged = summ.select(
        *gcols,
        delta.alias("_d"),
        F.slice("_s", 1, k).alias("_top"),
        "total_n",
    ).select(
        *gcols,
        F.filter(
            "_top", lambda s: (F.lit(0).cast("long") - s["nc"] - F.col("_d")) > 0
        ).alias("_kept"),
        "_d",
        "total_n",
    )
    return staged.select(
        *gcols,
        F.transform("_kept", lambda s: s["it"]).alias("items"),
        F.transform(
            "_kept", lambda s: (F.lit(0).cast("long") - s["nc"] - F.col("_d")).cast("long")
        ).alias("counts"),
        F.col("_d").cast("long").alias("err"),
        "total_n",
    )


def mg_cascade(fine: DataFrame, fine_tier: str, coarse_tier: str, k: int = 256) -> DataFrame:
    """Merge fine windows' summaries into the coarse window — pure
    Catalyst (r7): explode each summary's (item, count) pairs, bag-sum
    per (group, item) with map-side partial aggregation, then run the
    SAME PODS'12 reduction `mg_rollup` uses (sorted
    (-count, item) struct array, (k+1)-th count as the clip delta,
    kept prefix where count - delta > 0).

    Value-identical to the former Arrow `mg_merge` pass: the bag is a
    per-item sum either way, `np.lexsort((items, -counts))` over unique
    items orders exactly like `sort_array` over unique (-count, item)
    structs, the clip delta and kept prefix are the same arithmetic,
    and the merged err = sum(input errs) + delta.  Each fine row's
    scalar err/total_n is contributed ONCE via its pos==0 explode row
    (posexplode_outer keeps empty summaries as a null-pos row, so their
    err/total_n still count).  The r6 shape shipped every group's
    summaries through Arrow into a per-row Python dict merge — the one
    remaining Python stage in the mg tier ladder."""
    if tier_seconds(coarse_tier) % tier_seconds(fine_tier) != 0:
        raise ValueError(f"{coarse_tier} is not a multiple of {fine_tier}")
    key = [
        c
        for c in fine.columns
        if c not in ("window_start", "items", "counts", "err", "total_n")
    ]
    gcols = [*key, "window_start"]
    first = F.col("_pos").isNull() | (F.col("_pos") == 0)
    ex = (
        fine.withColumn("window_start", window_start(F.col("window_start"), coarse_tier))
        .select(
            *gcols,
            "err",
            "total_n",
            F.posexplode_outer(F.arrays_zip("items", "counts")).alias("_pos", "_p"),
        )
        .select(
            *gcols,
            F.col("_p.items").alias("_item"),
            F.col("_p.counts").alias("_cnt"),
            F.when(first, F.col("err")).otherwise(F.lit(0)).cast("long").alias("_er"),
            F.when(first, F.col("total_n")).otherwise(F.lit(0)).cast("long").alias("_tn"),
        )
    )
    summ = (
        ex.groupBy(*gcols, "_item")
        .agg(
            F.sum("_cnt").alias("_cnt"),
            F.sum("_er").alias("_er"),
            F.sum("_tn").alias("_tn"),
        )
        .groupBy(*gcols)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_item").isNotNull(),
                        F.struct((-F.col("_cnt")).alias("nc"), F.col("_item").alias("it")),
                    )
                )
            ).alias("_s"),
            F.sum("_er").alias("_be"),
            F.sum("_tn").alias("total_n"),
        )
    )
    delta = (
        F.when(F.size("_s") <= k, F.lit(0).cast("long"))
        .otherwise(-F.element_at("_s", k + 1)["nc"])
    )
    staged = summ.select(
        *gcols,
        delta.alias("_d"),
        F.slice("_s", 1, k).alias("_top"),
        "_be",
        "total_n",
    ).select(
        *gcols,
        F.filter(
            "_top", lambda s: (F.lit(0).cast("long") - s["nc"] - F.col("_d")) > 0
        ).alias("_kept"),
        "_d",
        "_be",
        "total_n",
    )
    return staged.select(
        *gcols,
        F.transform("_kept", lambda s: s["it"]).alias("items"),
        F.transform(
            "_kept", lambda s: (F.lit(0).cast("long") - s["nc"] - F.col("_d")).cast("long")
        ).alias("counts"),
        (F.col("_be") + F.col("_d")).cast("long").alias("err"),
        "total_n",
    )


def mg_topk(summary_df: DataFrame, n: int = 10) -> DataFrame:
    """Explode the top-n of each summary: (key..., window_start, item,
    est_count, err, total_n, rank).  Summaries store items pre-sorted
    by (-count, item), so rank = array position — no re-sort, and the
    tie order is engine-reproducible (the driver oracle relies on it).
    """
    pre = summary_df.withColumn("_ti", F.slice("items", 1, n)).withColumn(
        "_tc", F.slice("counts", 1, n)
    )
    keep = [c for c in summary_df.columns if c not in ("items", "counts")]
    ex = pre.select(
        *keep, F.posexplode(F.arrays_zip("_ti", "_tc")).alias("_pos", "_pair")
    )
    return ex.select(
        *keep,
        F.col("_pair._ti").alias("item"),
        F.col("_pair._tc").alias("est_count"),
        (F.col("_pos") + 1).alias("rank"),
    )
