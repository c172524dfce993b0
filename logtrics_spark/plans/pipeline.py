"""N8/N9 — the end-to-end resumable rollup job with lineage + retention.

Pipeline:  raw token table -> extract points -> 1m rollup -> every
coarse tier (5m/1h/1d) in ONE aggregate over the cached 1m frame ->
Gorilla chunks for all tiers in one Arrow pass -> one lineage append ->
retention.  The chunks are the sealed tiers' only copy; ``read_tier``,
the one tier read, decodes them (zone-map pruned to its time range).

Checkpoint/resume semantics (north rule): the unit of progress is a
*seal unit* = (tier, source, day).  A run:

  1. enumerates units present in the raw table,
  2. anti-joins them against the sealed set from the lineage log,
  3. recomputes ONLY pending days (raw scan partition-pruned via a
     broadcast semi-join; a pending day is recomputed for all sources —
     determinism makes re-materializing sealed sources a byte-level
     no-op, and day-level granularity keeps tier tables at (tier, day)
     partitioning: ~sources-times fewer files to commit); coarse tiers
     re-aggregate (stored ∪ fresh) 1m rows of their pending days, the
     stored ones decoded from the 1m chunks of just those days,
  4. seals through ``_seal`` — shared with ``seal_from_fine`` — which
     writes ALL tiers' Gorilla chunks in one clustered dynamic-overwrite
     job (idempotent: a replayed partition overwrites itself with
     identical bytes),
  5. appends every tier's sealed lineage rows in ONE append, strictly
     after the data lands.

Kill the job anywhere and rerun: sealed units are skipped, unsealed
units are recomputed onto the same partitions, and the final tables are
identical to a never-killed run.  tests/test_crash_matrix.py crashes
``run``, ``seal_from_fine`` and ``Daemon.archive_closed_days`` after each
store write of the seal by wrapping the store's ``ParquetTableIO`` — the
job itself carries no crash hook.

Retention: a raw (source, day) partition is dropped once EVERY tier has
a sealed unit covering it — the Iceberg analog is `DELETE WHERE`, the
parquet fallback removes the partition directory.

Skew (N10): the heavy shuffle is the 1m groupBy, which Spark executes
as partial+final native aggregation — the hot "web" source is spread by
(source, metric, kind, window_start) grouping, whose cardinality scales
with time, not rows.  The only Python stage (the Gorilla encode) runs
on tier-sized data clustered by (tier, series, chunk day).  AQE handles
residual shuffle skew; `operators/skew.py` provides explicit salting
for custom grouped-map stages over raw-sized data.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logtrics_spark.operators.extract import extract_points
from logtrics_spark.operators import gorilla
from logtrics_spark.operators.rollup import TIER_ORDER, cascade_tiers, rollup, tier_seconds
from logtrics_spark.operators.sketchset import KIND_VALS, SketchSet
from logtrics_spark.storage.tableio import ParquetTableIO

DAY_FMT = "yyyy-MM-dd"


def _day(col):
    return F.date_format(col, DAY_FMT)


def _day_str(ts) -> str:
    return ts.strftime("%Y-%m-%d")


def _tier_counts(df: DataFrame) -> dict[str, int]:
    """Rows per ``tier`` of a frame, in one aggregate."""
    return {r["tier"]: r["count"] for r in df.groupBy("tier").count().collect()}


def _prune(df: DataFrame, days: DataFrame | None) -> DataFrame:
    """Rows of ``df`` whose ``day`` is in ``days`` (None: all rows)."""
    if days is None:
        return df
    return df.join(F.broadcast(days), ["day"], "left_semi")


def _pick_latest(df: DataFrame, vals: list[str], by: tuple[str, ...] = ()) -> DataFrame:
    """One row per ``by`` + series + window: the ``vals`` of the row with
    the highest ``flush_seq`` — the one latest-wins pick of every
    snapshot read and compaction.

    ONE max_by over a struct of all value columns: flush_seq is stamped
    per process as max(seq+1, epoch_micros), so a live daemon and a CLI
    compact can tie on the same microsecond — independent per-column
    max_by calls could then mix columns from different rows (e.g. MG
    'items' from one version, 'counts' from another).  The struct pick
    is atomic: every value column comes from the same winning row.
    """
    keys = [c for c in ("source", "metric", "kind", "window_start") if c in df.columns]
    return (
        df.groupBy(*by, *keys)
        .agg(F.max_by(F.struct(*vals), "flush_seq").alias("_v"))
        .select(*keys, *[F.col(f"_v.{c}").alias(c) for c in vals])
    )


def _resolve_sketch_versions(df: DataFrame, val_cols: list[str]) -> DataFrame:
    """Collapse a sketch table's stored versions to one contribution row
    per (series, window, contribution):

    - snapshot rows (``origin`` drain/cascade — cumulative re-emissions,
      like the scalar tiers): latest-wins per series+window by
      ``flush_seq``;
    - stream rows (append-only per-micro-batch partials): dedupe
      at-least-once replays per (batch_seq, series, window) — a retried
      foreachBatch re-appends the same partial under the same batch id.

    The survivors are CONTRIBUTIONS, not final rows: merge them per
    window afterwards (same-tier cascade) — drain snapshots and stream
    partials cover disjoint underlying line sources, so merging is the
    union of disjoint event sets.
    """
    snap = _pick_latest(df.where(F.col("origin") != "stream"), val_cols)
    stream = _pick_latest(df.where(F.col("origin") == "stream"), val_cols, by=("batch_seq",))
    return snap.unionByName(stream)


def resolve_latest(tier_df: DataFrame) -> DataFrame:
    """Latest-wins view of a snapshot-flush (daemon) tier table: one row
    per series+window, each value taken from the highest ``flush_seq``,
    which the view drops."""
    keys = ("source", "metric", "kind", "window_start", "flush_seq")
    return _pick_latest(tier_df, [c for c in tier_df.columns if c not in keys])


class RollupJob:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tiers: list[str] | None = None,
        per_source_ts: bool = False,
        step_seconds: int = 1,
        sketches=None,
    ) -> None:
        """``sketches`` (a ``SketchSet`` or its config-dict shape, e.g.
        ``{"enabled": ["tdigest", "mg", "hll"], "item_col": "value"}``)
        turns on MERGEABLE sketch tiers alongside the scalar tiers:
        run() builds finest-tier tdigest/MG/HLL rows from the same
        pruned points, cascades them up the tier ladder by MERGING
        (never re-reading raw), and lands them as write-once
        ``sk_<kind>`` tables under the same (tier, day) layout and
        pending-unit resume discipline — so quantiles / top-k /
        distinct stay answerable after retention drops raw and the fine
        tiers, without the manual composition test_sketch_store.py
        shows.  Sketch partitions rewrite idempotently on resume
        (dynamic day overwrite; contents equivalent, not byte-pinned —
        digest bytes depend on partition order, their estimates don't).
        """
        self.spark = spark
        self.io = ParquetTableIO(spark, root)
        self.tiers = tiers or TIER_ORDER
        self.per_source_ts = per_source_ts
        self.step_seconds = step_seconds
        if sketches is None or isinstance(sketches, SketchSet):
            self.sketchset = sketches or SketchSet([])
        else:
            self.sketchset = SketchSet.from_config(sketches)

    # ------------------------------------------------------------ ingest
    def ingest_raw(self, df: DataFrame, mode: str = "overwrite_partitions") -> None:
        """Write the raw token table partitioned by (source, day).

        day derives from the doc_id-ordered timestamp, so retention can
        drop raw data at day granularity.  tokens pass through untouched
        (BASELINE.json per-row token-array equality invariant).

        mode='overwrite_partitions' (default): idempotent full/partition
        loads — re-ingesting the same batch replaces, never duplicates.
        mode='append': incremental feeds whose batches share partitions
        with earlier ingests (an overwrite here would silently DROP the
        earlier rows of any day both batches touch).
        """
        if mode not in ("overwrite_partitions", "append"):
            raise ValueError(f"unknown ingest mode {mode!r}")
        from logtrics_spark.operators.extract import with_ts

        raw = with_ts(df, per_source=self.per_source_ts, step_seconds=self.step_seconds)
        raw = raw.withColumn("day", _day("ts"))
        # cluster=False: raw is the big table — collapsing each (source,
        # day) to one file would serialize the hot source through one
        # task (skew) and produce multi-GB files at scale
        self.io.write_partitioned(
            raw,
            "raw",
            ["source", "day"],
            overwrite_dynamic=(mode == "overwrite_partitions"),
            cluster=False,
        )

    def read_raw(self) -> DataFrame:
        return self.io.read("raw")

    # ------------------------------------------------------------- units
    def _all_units(self, raw: DataFrame) -> DataFrame:
        return raw.select("source", "day").distinct()

    def pending_units(
        self, raw: DataFrame, tier: str, seal_before: str | None = None
    ) -> DataFrame:
        sealed = (
            self.io.sealed_units()
            .where(F.col("tier") == tier)
            .select("source", _day("window_start").alias("day"))
        )
        units = self._all_units(raw)
        if seal_before is not None:
            # watermark: never seal a day that may still receive data —
            # sealed units are immutable, so sealing a partial day would
            # silently drop its late arrivals on the next run
            units = units.where(F.col("day") < seal_before)
        return units.join(sealed, ["source", "day"], "left_anti")

    # --------------------------------------------------------------- run
    def run(self, run_id: str | None = None, seal_before: str | None = None) -> dict:
        """Compute and seal pending units for every tier; returns what
        ``_seal`` returns (per-tier sealed units, and the sketch rows
        written when sketches are on).

        ``seal_before`` ('yyyy-MM-dd'): only seal days strictly before
        this watermark, so an in-progress ingest day is never frozen.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        raw = self.read_raw()
        fine_tier = self.tiers[0]

        # Phase 1 — pending work per tier: {tier: (units, days)}.  A store
        # with no lineage has nothing sealed, so every unit is pending
        # (units=None: seal all; days=None: every day) and the per-tier
        # anti-join + collect is skipped.  Recompute granularity is the
        # DAY: a day with any pending (source, day) unit is recomputed
        # for every source (deterministic pipeline -> already-sealed
        # sources overwrite with identical bytes), so tier/chunk tables
        # partition by (tier, day) and the day-level dynamic overwrite
        # stays exactly unit-aligned.
        pending: dict[str, tuple[set | None, DataFrame | None]] = {}
        fresh = not self.io.exists("lineage")
        if fresh:
            days = None
            if seal_before is not None:
                days = (
                    self._all_units(raw).where(F.col("day") < seal_before).select("day").distinct()
                )
            pending = {t: (None, days) for t in self.tiers}
        else:
            for tier in self.tiers:
                units = {
                    (r["source"], r["day"])
                    for r in self.pending_units(raw, tier, seal_before=seal_before).collect()
                }
                if units:
                    pending[tier] = (units, self._days({d for _, d in units}))
        stats: dict[str, int] = {t: 0 for t in self.tiers}
        if not pending:
            return stats

        cached: list[DataFrame] = []
        try:
            # Phase 2 — one frame of every pending tier's rows (tier +
            # day columns), read once by the chunk encode.  The finest
            # tier is the only one read from raw (partition-pruned to its
            # pending days); it is cached, as it is both encoded and the
            # input of the one-aggregate cascade to every pending coarse
            # tier.
            points = fine = None
            if fine_tier in pending:
                points = extract_points(
                    _prune(raw, pending[fine_tier][1]),
                    per_source=self.per_source_ts,
                    step_seconds=self.step_seconds,
                )
                fine = rollup(points, fine_tier).withColumn("day", _day("window_start")).persist()
                cached.append(fine)

            frames = [] if fine is None else [fine.withColumn("tier", F.lit(fine_tier))]
            coarse = [t for t in self.tiers[1:] if t in pending]
            if coarse:
                frames.append(self._coarse(fine, coarse, None if fresh else pending))
            all_tiers = reduce(DataFrame.unionByName, frames)
            sketches = self._sketch_frames(raw, points, pending, fresh)
            cached += [f for _k, _t, f in sketches]

            # Phase 3 — land and seal (shared with seal_from_fine)
            return self._seal(
                all_tiers,
                {t: pending[t][0] for t in self.tiers if t in pending},
                lambda src: [f"raw/source={src}"],
                run_id,
                sketches=[(k, f.withColumn("tier", F.lit(t))) for k, t, f in sketches],
            )
        finally:
            for df in cached:
                df.unpersist()

    def _days(self, days: set) -> DataFrame:
        return self.spark.createDataFrame([(d,) for d in sorted(days)], "day string")

    def _stored(self, table: str) -> DataFrame | None:
        return self.io.read(table) if self.io.exists(table) else None

    def _coarse(self, fine: DataFrame | None, coarse: list[str], pending) -> DataFrame:
        """Every pending coarse tier in one aggregate over the finest tier
        (``cascade_tiers``), with ``tier`` and ``day`` columns.

        ``pending`` is None on the fresh path (``fine`` covers every day
        to seal).  On resume the cascade input for the coarse pending
        days is (stored fine rows outside the fine-pending days, decoded
        from just those days' fine chunks) ∪ (freshly computed fine
        rows) — storage alone is stale until the writes land — and each
        tier is then cut to its own pending days.
        """
        fine_tier = self.tiers[0]
        if pending is not None:
            days = {d for t in coarse for _, d in pending[t][0]}
            recomputed = {d for _, d in pending[fine_tier][0]} if fine is not None else set()
            src = None
            table = f"chunks/tier={fine_tier}"
            if days - recomputed and self.io.exists(table):
                stored = self.io.read(table).where(F.col("day").isin(sorted(days - recomputed)))
                src = gorilla.decompress_chunks(stored.drop("day"), gorilla.TIER_VALUE_COLS)
            if fine is not None:
                fine = _prune(fine, self._days(days))
                src = fine if src is None else src.unionByName(fine.select(*src.columns))
            if src is None:
                raise RuntimeError(
                    f"cannot cascade {coarse}: no {fine_tier} rows are stored or pending "
                    "for their days"
                )
            fine = src
        out = cascade_tiers(fine, fine_tier, coarse).withColumn("day", _day("window_start"))
        if pending is not None:
            want = self.spark.createDataFrame(
                sorted({(t, d) for t in coarse for _, d in pending[t][0]}),
                "tier string, day string",
            )
            out = out.join(F.broadcast(want), ["tier", "day"], "left_semi")
        return out

    def _sketch_frames(self, raw, points, pending, fresh) -> list[tuple[str, str, DataFrame]]:
        """Cached (kind, tier, rows) for every enabled sketch kind and
        pending tier.  Sketch tiers keep the chained MERGE cascade and
        mirror the scalar resume discipline: the input of tier i is
        (stored tier i-1 outside its pending days) ∪ (fresh tier i-1)."""
        out = []
        for k in self.sketchset.enabled:
            prev = None  # tier i-1 covering ALL days
            for i, tier in enumerate(self.tiers):
                if tier not in pending:
                    prev = self._stored(f"sk_{k}/tier={tier}")
                    continue
                days = pending[tier][1]
                if i == 0:
                    cur = self.sketchset.rollup(points, tier, k)
                elif prev is None:
                    # sketches enabled on a store whose finer sketch
                    # history doesn't exist (turned on mid-history, or
                    # resume across the enable): build THIS tier directly
                    # from raw points for its pending days — a sketch tier
                    # is valid at any granularity, this just pays the scan
                    # instead of the cheap merge
                    pts = extract_points(
                        _prune(raw, days),
                        per_source=self.per_source_ts,
                        step_seconds=self.step_seconds,
                    )
                    cur = self.sketchset.rollup(pts, tier, k)
                else:
                    cur = self.sketchset.cascade(
                        k, _prune(prev, days).drop("day"), self.tiers[i - 1], tier
                    )
                cur = cur.withColumn("day", _day("window_start")).persist()
                out.append((k, tier, cur))
                stored = None if fresh else self._stored(f"sk_{k}/tier={tier}")
                if stored is None:
                    prev = cur
                else:
                    prev = stored.join(F.broadcast(days), ["day"], "left_anti").unionByName(cur)
        return out

    def _seal(
        self,
        all_tiers: DataFrame,
        units: dict[str, set | None],
        inputs: Callable[[str], list[str]],
        run_id: str,
        sketches=(),
    ) -> dict[str, int]:
        """Land tier rows (``tier`` + ``day`` columns) as Gorilla chunks
        and seal them — the one place sealed rows land.

        The chunks are the sealed tiers' only copy.  ONE clustered write
        lands every tier's chunks: partitionBy(tier, day) produces the
        chunks/tier=X/day=Y layout (source stays a data column) — each
        partitioned write costs seconds of commit/listing overhead
        regardless of size.  Compression runs as one pass over the union
        (tier joins the chunk key).  ``sketches`` — (kind, rows with
        ``tier`` + ``day``) pairs — land next, one ``sk_<kind>`` write per
        kind.  Then ONE lineage append seals every tier: a crash anywhere before it leaves the whole seal pending,
        and the next run rewrites the same partitions with identical
        bytes.  ``units[tier]`` None seals every unit of the tier, else
        only those (source, day) units — a whole-day recompute may cover
        already-sealed sources.  ``inputs(source)`` names the lineage
        input partitions.  Returns {tier: sealed (source, day) units} and
        {"sk_<kind>:<tier>": sketch rows written}.
        """
        chunks = gorilla.compress_tier(
            all_tiers.drop("day"), self.tiers[0], chunk_span="1d", extra_keys=["tier"]
        )
        chunks = chunks.withColumn("day", _day("chunk_start")).persist()
        by_kind: dict[str, list[DataFrame]] = {}
        for k, rows in sketches:
            by_kind.setdefault(k, []).append(rows)
        cached, written = [chunks], {}
        try:
            self.io.write_partitioned(chunks, "chunks", ["tier", "day"])
            for k, frames in by_kind.items():
                # persisted for its one row count per tier, which the
                # write then reads; a kind with no rows writes nothing
                rows = reduce(DataFrame.unionByName, frames).persist()
                cached.append(rows)
                counts = _tier_counts(rows)
                if counts:
                    self.io.write_partitioned(rows, f"sk_{k}", ["tier", "day"])
                written.update({f"sk_{k}:{t}": n for t, n in counts.items()})
            lin = (
                chunks.groupBy("tier", "source", "chunk_start")
                .agg(F.count("*").alias("row_count"), F.sum("n_points").alias("point_count"))
                .collect()
            )
        finally:
            for df in cached:
                df.unpersist()
        rows = []
        for r in lin:
            pset = units.get(r["tier"], ())
            if pset is None or (r["source"], _day_str(r["chunk_start"])) in pset:
                rows.append(r)
        self.io.append_lineage(
            [
                {
                    "tier": r["tier"],
                    "source": r["source"],
                    "window_start": r["chunk_start"],
                    "input_partitions": inputs(r["source"]),
                    "row_count": r["row_count"],
                    "point_count": r["point_count"],
                    "sealed": True,
                    "run_id": run_id,
                }
                for r in rows
            ]
        )
        stats: dict[str, int] = {t: 0 for t in self.tiers}
        for tier, _src, _d in {(r["tier"], r["source"], _day_str(r["chunk_start"])) for r in rows}:
            stats[tier] += 1
        return {**stats, **written}

    def seal_from_fine(
        self, fine: DataFrame, run_id: str | None = None, sketches=()
    ) -> dict[str, int]:
        """Archive externally-computed finest-tier rows (the daemon's
        closed days, ``Daemon.archive_closed_days``): every coarser
        configured tier in one aggregate over them, then the shared
        ``_seal`` (one chunk write, one write per sketch kind, one
        lineage append).

        ``fine`` must carry finest-tier rollup rows (KEY + window_start
        + the aggregate columns).  ``sketches`` are (kind, rows) pairs
        whose rows carry a ``tier`` column and cover every tier to seal —
        the caller cascades them (``SketchSet.ladder``) with its own merge
        parameters.  Idempotent like run(): a replay overwrites the same
        (tier, day) partitions with identical bytes and the duplicate
        lineage rows resolve latest-wins.  Returns what ``_seal`` returns.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        fine = fine.withColumn("day", _day("window_start")).persist()
        all_tiers = fine.withColumn("tier", F.lit(self.tiers[0]))
        if len(self.tiers) > 1:
            all_tiers = all_tiers.unionByName(self._coarse(fine, self.tiers[1:], None))
        try:
            return self._seal(
                all_tiers,
                {t: None for t in self.tiers},
                lambda _src: ["daemon-live-store"],
                run_id,
                sketches=[(k, rows.withColumn("day", _day("window_start"))) for k, rows in sketches],
            )
        finally:
            fine.unpersist()

    # --------------------------------------------------------- retention
    def retention(self) -> list[tuple[str, str]]:
        """Drop raw (source, day) partitions covered by seals in ALL tiers."""
        sealed = self.io.sealed_units().select(
            "tier", "source", _day("window_start").alias("day")
        )
        n_tiers = len(self.tiers)
        covered = (
            sealed.where(F.col("tier").isin(self.tiers))
            .groupBy("source", "day")
            .agg(F.countDistinct("tier").alias("n"))
            .where(F.col("n") == n_tiers)
            .collect()
        )
        dropped = []
        for r in covered:
            if self.io.drop_partition("raw", source=r["source"], day=r["day"]):
                dropped.append((r["source"], r["day"]))
        return dropped

    def retention_tiers(self, max_age_days: dict[str, int], today: str) -> list[tuple[str, str]]:
        """Tiered downsampling retention: drop FINE tiers' day partitions
        (chunks, sketches and any ``tiers/`` head rows) older than their
        policy window, keeping the coarser tiers as the permanent history
        (the whole point of cascading rollups: 1m for a week, 1h for a
        year, 1d forever).

        ``max_age_days`` maps tier -> days kept (tiers absent from the
        map are kept forever); ``today`` is 'yyyy-MM-dd'.  Day-partition
        drops are pure directory removals (Iceberg: DELETE WHERE day <
        cutoff) — no data rewrite.  Returns [(tier, day)] of the dropped
        chunk partitions.
        """
        import datetime as _dt

        t0 = _dt.date.fromisoformat(today)
        dropped: list[tuple[str, str]] = []
        sk_kinds = self.sketchset.kinds_with_stored(self.io)
        for tier, days in max_age_days.items():
            if tier not in self.tiers:
                raise ValueError(f"unknown tier {tier!r}")
            cutoff = (t0 - _dt.timedelta(days=days)).isoformat()
            sk_tables = [
                f"sk_{k}/tier={tier}" for k in sk_kinds if self.io.exists(f"sk_{k}/tier={tier}")
            ]
            for table in (f"chunks/tier={tier}", f"tiers/tier={tier}", *sk_tables):
                for day in self.io.list_partitions(table, "day"):
                    if day < cutoff and self.io.drop_partition(table, day=day):
                        if table.startswith("chunks"):
                            dropped.append((tier, day))
        return dropped

    # ------------------------------------------------------------- reads
    def read_tier(self, tier: str, ts_from=None, ts_to=None, cols=None) -> DataFrame:
        """A tier's rows with ``window_start`` in the inclusive [ts_from,
        ts_to] (None: open), one row per series and window, from either
        kind of store: the sealed days decoded from their Gorilla chunks,
        pruned on the chunks' min_ts/max_ts zone map before any decode
        (``gorilla.decompress_chunks_range``), and the unsealed ``tiers/``
        head of a daemon's live store, cut to the range and resolved
        latest-wins over its snapshot versions (no ``flush_seq`` leaves
        the read).  ``cols=None`` returns every stored column in its own
        type, with a chunk's ``rate`` and ``stddev`` re-derived as
        rollup/cascade derive them: bit-identical to the sealed rows.  A
        ``cols`` list returns the series key, ``window_start`` and those
        columns, decoding only their streams.  A tier with no rows
        raises."""
        from logtrics_spark.operators.rollup import KEY, stddev_from_moments

        sealed = self.io.list_partitions(f"chunks/tier={tier}", "day")
        has_head = self.io.exists(f"tiers/tier={tier}")
        if not sealed and not has_head:
            raise ValueError(f"store {self.io.path()!r} has no tier={tier} rows")
        parts = []
        if sealed:
            chunks = self.io.read(f"chunks/tier={tier}").drop("day")
            out = gorilla.decompress_chunks_range(
                chunks, ts_from, ts_to, cols or gorilla.TIER_VALUE_COLS
            )
            if cols is None:
                secs = F.lit(float(tier_seconds(tier)))
                out = out.withColumn("rate", F.col("cnt").cast("double") / secs)
                out = out.withColumn("stddev", stddev_from_moments("cnt", "sum", "sum_sq"))
            parts.append(out)
        if has_head:
            head = self.io.read(f"tiers/tier={tier}").drop("day")
            head = resolve_latest(gorilla.in_range(head, ts_from, ts_to))
            parts.append(head if cols is None else head.select(*KEY, "window_start", *cols))
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def read_sketch_tier(self, name: str, tier: str) -> DataFrame:
        """A sketch tier's rows, one per series and window (estimate with
        tdigest_quantiles / mg_topk / set_sketch_estimate / cms_query).
        A daemon's live ``sk_<kind>`` table (its rows carry ``origin``)
        has its stored versions resolved and its contributions merged
        with this job's ``SketchSet``; a sealed table holds final rows
        and is returned as stored.  This is the post-retention answer
        path for quantiles / top-k / distinct: coarse sketch tiers remain
        after ``retention_tiers`` drops the fine ones."""
        if name not in KIND_VALS:
            raise ValueError(f"unknown sketch kind {name!r}; pick from {sorted(KIND_VALS)}")
        table = f"sk_{name}/tier={tier}"
        if not self.io.exists(table):
            raise ValueError(f"store {self.io.path()!r} has no sk_{name} tier={tier} rows yet")
        df = self.io.read(table).drop("day")
        if "origin" not in df.columns:
            return df
        resolved = _resolve_sketch_versions(df, KIND_VALS[name])
        return self.sketchset.cascade(name, resolved, tier, tier)

    def read_tier_from_chunks(self, tier: str, ts_from=None, ts_to=None) -> DataFrame:
        """``read_tier`` with the gorilla.DEFAULT_VALUE_COLS columns."""
        return self.read_tier(tier, ts_from, ts_to, cols=gorilla.DEFAULT_VALUE_COLS)
