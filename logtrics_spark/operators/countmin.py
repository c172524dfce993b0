"""Mergeable point-frequency tiers — Count-Min sketch (Cormode &
Muthukrishnan, "An improved data stream summary: the count-min sketch
and its applications", J. Algorithms 2005).

WHY: the fourth aggregate family that does not compose from scalar
tier rows.  `mg_rollup` (Misra-Gries) answers "WHICH items are
frequent" but its summary drops the tail — "how often did THIS
specific item occur in that hour" is unanswerable once the item fell
out of the top-k and the raw points were retention-dropped.  A CMS
row per window answers point-frequency for ANY item, forever, in
O(depth) array reads.  Completes the mergeable set alongside
`set_sketch_rollup` (HLL, distinct), `tdigest_rollup` (quantiles) and
`mg_rollup` (heavy hitters).

Summary per window: ``table`` — a flat row-major array<long> of
``depth x width`` counters — plus exact ``total_n``, and the ``depth``
/ ``width`` parameters carried AS COLUMNS so rows are self-describing
(and rows with different geometries can never merge: the params ride
in the grouping key everywhere, same trick as the tier column).

    est(item) = min_d table[d*width + h_d(item)]
    true_count <= est <= true_count + (e/width) * total_n
                                    with prob >= 1 - exp(-depth)

**CMS is LINEAR** — the table of a union is the elementwise SUM of the
tables — so unlike the other three families (t-digest centroid drift,
MG clipping, HLL HIP history), EVERY cascade order yields the
bit-identical table: a build from raw == any cascade shape.  Tests
pin table equality, not an error envelope, and the driver oracle
checks point estimates exactly in the collision-free regime.

Hashing (engine-independent, stable forever — stored sketches must
outlive library versions): ``md5(utf8(item))`` split into two 64-bit
halves ``h1, h2``; row ``d`` probes column ``(h1 + d*h2) mod width``
(Kirsch & Mitzenmacher, "Less hashing, same performance", 2006).
Python big-int arithmetic, no word overflow.

Execution shape: exact (window, item) counts via a native two-key
groupBy, then collect_list + ONE Arrow scatter pass (np.add.at).  The
raw shuffle carries (window, item, count) rows.

The cascade is PURE Catalyst: collect_list of tables folded with
``aggregate``/``zip_with`` higher-order functions — elementwise long
sums never leave the JVM.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

# everything else in a summary row is grouping key — incl. depth/width
VAL_COLS = ["table", "total_n"]


@lru_cache(maxsize=65536)
def item_indices(item: str, depth: int, width: int) -> tuple[int, ...]:
    """The ``depth`` probe columns for one item (documented hash spec).

    Cached per executor: a batch of sparse windows re-hashes the same
    hot items thousands of times; the cache is bounded so unbounded
    item cardinality cannot grow executor memory, and the cached value
    is a tuple so no caller can mutate a shared entry.
    """
    dig = hashlib.md5(str(item).encode("utf-8")).digest()
    h1 = int.from_bytes(dig[:8], "little")
    h2 = int.from_bytes(dig[8:], "little") | 1
    return tuple((h1 + d * h2) % width for d in range(depth))


def _scatter(items, counts, depth: int, width: int) -> np.ndarray:
    """(items, counts) -> flat depth*width table (one np.add.at per row)."""
    tab = np.zeros(depth * width, dtype=np.int64)
    if len(items) == 0:
        return tab
    idx = np.empty((len(items), depth), dtype=np.int64)
    for n, it in enumerate(items):
        idx[n] = item_indices(it, depth, width)
    cn = np.asarray(counts, dtype=np.int64)
    for d in range(depth):
        np.add.at(tab, d * width + idx[:, d], cn)
    return tab


def cms_rollup(
    points: DataFrame,
    tier: str,
    item_col: str,
    key: list[str] | None = None,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """One CMS row per series-window over ``item_col``:
    (key..., window_start, depth, width, table, total_n).

    Null items are dropped (no observation) before counting, matching
    `mg_rollup`.

    **Pick the fine tier by window DENSITY**: a CMS row costs a fixed
    ``depth*width`` longs regardless of content, so building tables for
    windows holding a handful of items makes the sketch LARGER than the
    exact item list and the per-window table allocation dominates
    (measured: 1m-fine over ~1.5-item windows at sf0.1 cost ~7x a
    1h-fine build of the same data).  Rule of thumb: choose the finest
    tier where expected distinct items per window approaches ``width``;
    sparser grains are better served by MG's (item, count) rows, which
    are exact below capacity anyway — the families complement, not
    compete.
    """
    key = key or KEY
    gcols = [*key, "window_start"]
    pts = (
        points.withColumn("window_start", window_start(F.col("ts"), tier))
        .select(*gcols, F.col(item_col).cast("string").alias("_item"))
        .where(F.col("_item").isNotNull())
    )
    counts = (
        pts.groupBy(*gcols, "_item")
        .agg(F.count("*").alias("_cnt"))
        .groupBy(*gcols)
        .agg(
            F.collect_list("_item").alias("_items"),
            F.collect_list("_cnt").alias("_cnts"),
        )
    )

    @F.pandas_udf("depth int, width int, table array<long>, total_n long")
    def build(it: pd.Series, cn: pd.Series) -> pd.DataFrame:
        rows = []
        for items, cnts in zip(it, cn):
            tab = _scatter(
                np.asarray(items, dtype=object), np.asarray(cnts, dtype=np.int64),
                depth, width,
            )
            rows.append((depth, width, [int(x) for x in tab], int(np.sum(cnts))))
        return pd.DataFrame(rows, columns=["depth", "width", "table", "total_n"])

    return counts.withColumn("_s", build("_items", "_cnts")).select(
        *gcols, "_s.depth", "_s.width", "_s.table", "_s.total_n"
    )


def _merge_tables(df: DataFrame, gcols: list[str]) -> DataFrame:
    """Elementwise-sum tables sharing a group — pure Catalyst HOFs
    (collect_list -> aggregate/zip_with), no Python stage."""
    agg = df.groupBy(*gcols).agg(
        F.collect_list("table").alias("_ts"), F.sum("total_n").alias("total_n")
    )
    zero = F.transform(F.element_at("_ts", 1), lambda _: F.lit(0).cast("long"))
    merged = F.aggregate(
        "_ts", zero, lambda acc, t: F.zip_with(acc, t, lambda a, b: a + b)
    )
    return agg.select(*gcols, merged.alias("table"), "total_n")


def cms_cascade(fine: DataFrame, fine_tier: str, coarse_tier: str) -> DataFrame:
    """Merge fine windows' tables into the coarse window.  depth/width
    ride in the grouping key (self-describing rows), so differing
    geometries can never silently zip together; linearity makes the
    result bit-identical to building the coarse tier from raw."""
    if tier_seconds(coarse_tier) % tier_seconds(fine_tier) != 0:
        raise ValueError(f"{coarse_tier} is not a multiple of {fine_tier}")
    key = [c for c in fine.columns if c not in ("window_start", *VAL_COLS)]
    relabeled = fine.withColumn(
        "window_start", window_start(F.col("window_start"), coarse_tier)
    )
    return _merge_tables(relabeled, [*key, "window_start"])


def cms_query(summary_df: DataFrame, items: list[str]) -> DataFrame:
    """Point-frequency estimates for literal probe items — pure
    Catalyst: the probe indices are computed driver-side from the hash
    spec, the per-row estimate is ``least(element_at(table, ...))``.

    Returns (key..., window_start, item, est_count, total_n), one row
    per summary row per probe item.  Requires a single (depth, width)
    geometry across the frame (one store, one config) — mixed
    geometries raise rather than hash against the wrong width.
    """
    if not items:
        raise ValueError("cms_query needs at least one probe item")
    geo = summary_df.select("depth", "width").distinct().collect()
    if len(geo) != 1:
        raise ValueError(
            f"mixed CMS geometries {sorted((r.depth, r.width) for r in geo)}; "
            "query each geometry separately"
        )
    depth, width = geo[0].depth, geo[0].width
    probes = []
    for it in items:
        cells = [
            F.element_at("table", int(d * width + j) + 1)
            for d, j in enumerate(item_indices(it, depth, width))
        ]
        est = F.least(*cells) if len(cells) > 1 else cells[0]
        probes.append(
            F.struct(
                F.lit(str(it)).alias("item"), est.cast("long").alias("est_count")
            )
        )
    keep = [c for c in summary_df.columns if c not in ("table",)]
    return summary_df.select(
        *keep, F.explode(F.array(*probes)).alias("_p")
    ).select(*keep, "_p.item", "_p.est_count").drop("depth", "width")


def cms_error_bound(depth: int, width: int, total_n: int) -> tuple[float, float]:
    """(max overestimate, failure probability) from the CMS guarantee:
    overestimate <= (e/width)*total_n with prob >= 1 - exp(-depth)."""
    return (np.e / width) * total_n, float(np.exp(-depth))
