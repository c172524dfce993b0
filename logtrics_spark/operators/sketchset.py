"""SketchSet — one handle over the mergeable-summary families.

The engine carries four summary families whose tier rows MERGE instead
of recomputing from raw (the property scalar aggregates lack for
quantiles / top-k / distinct):

    tdigest  quantiles        operators/tdigest.py   (Dunning & Ertl)
    mg       heavy hitters    operators/heavyhitters.py (Misra-Gries, PODS'12)
    hll      distinct         operators/rollup.py    (DataSketches HLL)
    cms      point frequency  operators/countmin.py  (Cormode & Muthukrishnan)

Both sketch-tier producers — the live daemon (plans/daemon.py
``[sketches]`` config) and the batch RollupJob (plans/pipeline.py
``sketches=``) — need the same dispatch: build finest-tier rows from
points, merge rows tier-to-tier, know each kind's value columns.  This
class is that dispatch, so the two paths cannot drift.

Per-kind notes:
- ``cascade(name, df, t, t)`` (fine == coarse) consolidates multiple
  contribution rows for the SAME window — all three summaries are
  mergeable, so same-window merge is just a degenerate cascade.
- cms rows carry their (depth, width) geometry as ordinary columns,
  which therefore ride in every grouping key: rows with different
  geometries can never silently merge.
- hll items sketch their STRING form: ``hll_sketch_agg`` accepts
  int/long/string/binary only (a double item column — the point
  schema's value — fails analysis), and casting keeps identity
  consistent across every build and merge.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtrics_spark.config import ConfigError

# sketch-kind -> its summary value columns (everything else is key)
KIND_VALS = {
    "tdigest": ["tdigest"],
    "mg": ["items", "counts", "err", "total_n"],
    "hll": ["hll"],
    # depth/width travel with the row: through the daemon's
    # latest-wins resolve they ride the atomic value struct (every
    # column from the same winning row), and cms_cascade then groups
    # by them, so mixed geometries still never merge
    "cms": ["depth", "width", "table", "total_n"],
}

# the accepted ``[sketches]`` table keys (see `SketchSet.from_config`)
CONFIG_KEYS = {
    "enabled", "item_col", "mg_k", "compression", "lg_config_k", "cms_depth", "cms_width",
}


class SketchSet:
    def __init__(
        self,
        enabled: list[str],
        item_col: str = "value",
        mg_k: int = 256,
        compression: float = 200.0,
        lg_config_k: int = 12,
        cms_depth: int = 4,
        cms_width: int = 1024,
    ) -> None:
        bad = set(enabled) - set(KIND_VALS)
        if bad:
            raise ValueError(
                f"unknown sketch kinds {sorted(bad)}; pick from {sorted(KIND_VALS)}"
            )
        self.enabled = list(enabled)
        self.item_col = item_col
        self.mg_k = int(mg_k)
        self.compression = float(compression)
        self.lg_config_k = int(lg_config_k)
        self.cms_depth = int(cms_depth)
        self.cms_width = int(cms_width)

    @classmethod
    def from_config(cls, conf: dict | None) -> "SketchSet":
        """Build from a ``[sketches]`` config table (daemon TOML shape);
        an empty/missing table yields an empty set (no-op).  Unknown
        keys raise ``ConfigError``, like the strict config merge."""
        sk = conf or {}
        unknown = set(sk) - CONFIG_KEYS
        if unknown:
            raise ConfigError(
                f"unknown [sketches] keys {sorted(unknown)}; "
                f"pick from {sorted(CONFIG_KEYS)}"
            )
        return cls(
            enabled=list(sk.get("enabled", []) or []),
            item_col=sk.get("item_col", "value"),
            mg_k=int(sk.get("mg_k", 256)),
            compression=float(sk.get("compression", 200.0)),
            lg_config_k=int(sk.get("lg_config_k", 12)),
            cms_depth=int(sk.get("cms_depth", 4)),
            cms_width=int(sk.get("cms_width", 1024)),
        )

    def __bool__(self) -> bool:
        return bool(self.enabled)

    def kinds_with_stored(self, io) -> list[str]:
        """Configured kinds ∪ the kinds with an ``sk_<kind>`` table in
        ``io``'s store — what compact, archive and retention cover, so a
        kind left by an earlier config is never stranded."""
        return [k for k in KIND_VALS if k in self.enabled or io.exists(f"sk_{k}")]

    def rollup(self, points: DataFrame, tier: str, name: str) -> DataFrame:
        """Finest-tier sketch rows for one kind from raw points."""
        from logtrics_spark.operators.countmin import cms_rollup
        from logtrics_spark.operators.heavyhitters import mg_rollup
        from logtrics_spark.operators.rollup import set_sketch_rollup
        from logtrics_spark.operators.tdigest import tdigest_rollup

        if name == "tdigest":
            return tdigest_rollup(points, tier, compression=self.compression)
        if name == "mg":
            return mg_rollup(points, tier, self.item_col, k=self.mg_k)
        if name == "cms":
            return cms_rollup(
                points, tier, self.item_col, depth=self.cms_depth, width=self.cms_width
            )
        pts = points.withColumn(self.item_col, F.col(self.item_col).cast("string"))
        return set_sketch_rollup(pts, tier, self.item_col, lg_config_k=self.lg_config_k)

    def cascade(
        self, name: str, df: DataFrame, fine_tier: str, coarse_tier: str
    ) -> DataFrame:
        """Merge sketch rows tier-to-tier (fine == coarse consolidates
        same-window contributions)."""
        from logtrics_spark.operators.countmin import cms_cascade
        from logtrics_spark.operators.heavyhitters import mg_cascade
        from logtrics_spark.operators.rollup import set_sketch_cascade
        from logtrics_spark.operators.tdigest import tdigest_cascade

        if name == "tdigest":
            return tdigest_cascade(df, fine_tier, coarse_tier)
        if name == "mg":
            return mg_cascade(df, fine_tier, coarse_tier, k=self.mg_k)
        if name == "cms":
            return cms_cascade(df, fine_tier, coarse_tier)
        return set_sketch_cascade(df, fine_tier, coarse_tier)

    def ladder(self, name: str, fine: DataFrame, tiers: list[str]) -> DataFrame:
        """``fine`` (rows at ``tiers[0]``) and each coarser tier of
        ``tiers`` merged from the tier before it, in one frame with a
        ``tier`` column: sketches cascade, never rebuilt from raw."""
        frames, prev = [fine.withColumn("tier", F.lit(tiers[0]))], fine
        for lo, hi in zip(tiers, tiers[1:]):
            prev = self.cascade(name, prev, lo, hi)
            frames.append(prev.withColumn("tier", F.lit(hi)))
        return reduce(DataFrame.unionByName, frames)
