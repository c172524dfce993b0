"""Daemon run mode — the reference's primary entry point, composed.

The reference process (cmd/logtrics/main.go:97-121, app.go:74-94) wires
config -> readers (console/udp/tcp per ``modes``) -> rules -> the
go-metrics registry -> the Graphite flusher ticking every
``graphite.interval`` seconds.  The Spark-first composition of the same
deployment:

    modes -> line sources        sources/readers.py
          -> Engine.run          api.py   (one Arrow pass, all rules)
          -> rollup_stream       operators/rollup.py (finest tier)
          -> foreachBatch sink   tier store append + Graphite lines

Streaming modes (``file``/``tcp``) become Structured Streaming queries
triggered at the flush interval; driver-side modes (``console`` lines,
the ``udp`` datagram harness) drain through the SAME batch path
(`Daemon.process_lines`), so every mode lands in one store layout and
one Graphite format.  ``graphite.debug`` (K3) and ``graphite.interval``
from the TOML are honored per batch.

Flush semantics = the reference's, not the batch pipeline's: the
reference pushes the CURRENT registry snapshot every tick — open
windows re-emit with running values (graphite/graphite.go:84-98).  The
Spark analog is ``update`` output mode: every trigger emits each
changed window's aggregate-so-far (streaming state holds the complete
aggregate, so the LAST emission per window is the closed value).  The
store therefore appends snapshot versions stamped with a monotonic
``flush_seq``; ``RollupJob.read_tier`` and ``read_sketch_tier`` resolve
latest-wins per series+window, so every reader (the daemon's own
housekeeping and each CLI command) gets one row per window.  (The batch
pipeline's sealed, write-once Gorilla chunk tables remain the archival
path, in a store of their own; a daemon store is the live head.)

Production posture at scale is unchanged: file/tcp streams are the real
sources; console/udp are the dev harness the reference also treats as
such (reader/readers.go:73-147).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logtrics_spark.api import Engine
from logtrics_spark.operators.rollup import rollup, rollup_stream
from logtrics_spark.operators.sketchset import KIND_VALS, SketchSet
from logtrics_spark.plans.pipeline import RollupJob, _day, _pick_latest, _tier_counts
from logtrics_spark.sinks.graphite import send_graphite_tcp, to_graphite_lines
from logtrics_spark.sources.readers import (
    UDPLineCollector,
    lines_df,
    stream_lines,
    stream_socket,
)

logger = logging.getLogger("logtrics_spark.daemon")


def load_rules(spec: str) -> Engine:
    """Resolve ``<module-or-file.py>:<attr>`` to an Engine.

    The attr may be an Engine instance or a zero-arg callable returning
    one — the Python analog of the reference's scriptfile Lua loading
    (app.go:96-111), with eager validation instead of runtime surprise.
    """
    import importlib
    import importlib.util

    path, sep, attr = spec.rpartition(":")
    if not sep or not path:
        raise ValueError(f"rules spec {spec!r} must be '<module|file.py>:<attr>'")
    if path.endswith(".py"):
        mod_spec = importlib.util.spec_from_file_location("logtrics_rules", path)
        if mod_spec is None or mod_spec.loader is None:
            raise ValueError(f"cannot load rules file {path!r}")
        module = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(module)
    else:
        module = importlib.import_module(path)
    if not hasattr(module, attr):
        raise ValueError(f"rules spec {spec!r}: module defines no attribute {attr!r}")
    obj = getattr(module, attr)
    engine = obj() if callable(obj) and not isinstance(obj, Engine) else obj
    if not isinstance(engine, Engine):
        raise ValueError(f"{spec!r} resolved to {type(obj).__name__}, not an Engine")
    if not engine.rules:
        raise ValueError(f"{spec!r} has no rules registered")
    return engine


def load_rules_from_config(conf: dict[str, Any]) -> Engine:
    """The reference's scripts() resolution (app.go:96-111): scriptfile
    wins; otherwise walk scriptdir for rule modules; error when none.

    Python mapping: ``scriptfile = "rules.py"`` (attr defaults to
    ``engine``; append ``:attr`` to override), ``scriptdir`` walks for
    ``*.py`` files each exposing an ``engine`` and merges every module's
    rules into one fan-out set (the reference also runs all scripts
    against every event, script.go:55-63).
    """
    import pathlib

    sf = conf.get("scriptfile")
    if sf:
        return load_rules(sf if ":" in pathlib.Path(sf).name else f"{sf}:engine")
    sd = conf.get("scriptdir")
    if sd:
        # underscore-prefixed files (__init__.py, _helpers.py) are
        # support modules, not rule scripts — the .lua suffix filter
        # plays this role in the reference's walk (app.go:102)
        files = sorted(
            p for p in pathlib.Path(sd).rglob("*.py") if not p.name.startswith("_")
        )
        engines = [load_rules(f"{p}:engine") for p in files]
        if not engines:
            raise ValueError(f"no scripts found in scriptdir {sd!r}")  # app.go:107
        merged = Engine()
        for e in engines:
            merged.rules.extend(e.rules)
        return merged
    raise ValueError("config has neither scriptfile nor scriptdir (and no --rules)")


@dataclass
class Daemon:
    """One configured deployment: sources -> rules -> tiers -> graphite."""

    spark: SparkSession
    conf: dict[str, Any]
    engine: Engine
    store_root: str
    file_dir: str | None = None
    checkpoint_root: str | None = None
    queries: list = field(default_factory=list, init=False)
    udp: UDPLineCollector | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        g = self.conf.get("graphite", {})
        tiers = g.get("tiers") or ["1m"]
        self.tier = tiers[0]  # finest tier; coarser tiers cascade offline
        self.interval = int(g.get("interval", 30))
        self._flush_seq = 0
        self._flush_floor_loaded = False
        self.compact_every = int(g.get("compact_every", 0) or 0)
        self._flushes_since_compact = 0
        # mergeable sketch tiers alongside the scalar tiers (config
        # [sketches] enabled = ["tdigest", "mg", "hll"]): the live store
        # then answers post-retention percentiles / top-k / distinct
        # the way the batch path's sketch tables do (test_sketch_store)
        self.sketchset = SketchSet.from_config(self.conf.get("sketches"))
        self.sketch_kinds = self.sketchset.enabled
        # the live store's one read (latest-wins over the snapshot
        # versions, sketch contributions merged with this SketchSet)
        self.live = RollupJob(self.spark, self.store_root, tiers=tiers, sketches=self.sketchset)
        self.io = self.live.io
        # cron-scheduled housekeeping (config [schedule] — the
        # reference's TODO.md:6 "Scheduler APIs"): job name -> cron
        # string, polled once per flush tick by run_scheduled().  The
        # schedulable builtins are the idempotent store sweeps; errors
        # at parse time surface here, before any stream starts.
        # [prometheus] exposition surface (sinks/prometheus.py — the
        # reference's TODO.md:4 "Prometheus APIs"): textfile = path for
        # the node-exporter textfile collector, port/host for a live
        # /metrics endpoint.  The snapshot refreshes per flush tick from
        # the store's LATEST view (a scrape must reflect every live
        # series, not just the windows this micro-batch changed).
        p = self.conf.get("prometheus") or {}
        self.prom_textfile = p.get("textfile")
        self.prom_port = int(p.get("port", 0) or 0)
        self.prom_host = p.get("host", "127.0.0.1")
        self.prom_prefix = p.get("prefix", "logtrics")
        self._prom_enabled = bool(self.prom_textfile) or self.prom_port > 0
        self._prom_payload = {"payload": ""}
        self._prom_server = None
        from logtrics_spark.plans.schedule import scheduler_from_config

        self.scheduler = scheduler_from_config(
            self.conf,
            builtins={
                "compact": lambda: self.compact(),
                "cascade": lambda: self.cascade_tiers(),
            },
        )
        import threading

        self._seq_lock = threading.Lock()
        self._store_lock = threading.Lock()

    def _store_guard(self):
        """Serialize store mutations across threads AND processes.

        ``_store_lock`` covers this process's streaming flushes; the
        flock on ``<store_root>/.store.lock`` extends the exclusion to a
        second Daemon constructed by the CLI ``compact``/``archive``
        subcommands against a live daemon's store (otherwise their
        read-then-dynamic-overwrite of a day partition can drop a
        concurrent flush's files).  flock only applies to local store
        paths; for remote stores (hdfs://, s3a://) the lock degrades to
        in-process and multi-process exclusion is the deployment's job
        (run compaction from the daemon itself via compact_every).
        """
        import contextlib
        import os

        @contextlib.contextmanager
        def guard():
            with self._store_lock:
                fh = None
                root = self.store_root
                scheme = root.split("://", 1)[0] if "://" in root else ""
                if scheme in ("", "file"):
                    path = root.split("://", 1)[-1]
                    try:
                        import fcntl

                        os.makedirs(path, exist_ok=True)
                        fh = open(os.path.join(path, ".store.lock"), "a+")
                        fcntl.flock(fh, fcntl.LOCK_EX)
                    except OSError:
                        # unwritable root: degrade to in-process only
                        if fh is not None:
                            fh.close()
                        fh = None
                try:
                    yield
                finally:
                    if fh is not None:
                        import fcntl

                        fcntl.flock(fh, fcntl.LOCK_UN)
                        fh.close()

        return guard()

    def _next_flush_seq(self) -> int:
        """Monotonic snapshot stamp across all queries + driver drains.

        The first call folds in max(flush_seq) already in the store —
        over ``tiers/`` and every ``sk_*`` table, whose snapshots a drain
        stamps after its tier rows (mirroring
        ParquetTableIO._next_seal_seq): a daemon restart on a clock that
        stepped backwards must never stamp below rows already written, or
        the latest-wins reads would resurrect stale snapshots.
        """
        import time

        with self._seq_lock:
            if not self._flush_floor_loaded:
                self._flush_floor_loaded = True
                for table in ("tiers", *(f"sk_{k}" for k in KIND_VALS)):
                    if self.io.exists(table):
                        t = self.io.read(table)
                        if "flush_seq" in t.columns:
                            stored = t.agg(F.max("flush_seq")).collect()[0][0] or 0
                            self._flush_seq = max(self._flush_seq, stored)
            self._flush_seq = max(self._flush_seq + 1, int(time.time() * 1_000_000))
            return self._flush_seq

    # ------------------------------------------------------------- sink
    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        """Streaming ``foreachBatch`` flush: tier rows -> ``_flush``.

        The frame is persisted for the flush: up to four actions consume
        it (isEmpty probe, store write, debug snapshot, Graphite send),
        and an unpersisted foreachBatch frame re-runs the micro-batch
        aggregation per action.
        """
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            self._flush(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _flush(self, rows: DataFrame, batch_id: int) -> None:
        """One flush of non-empty, materialized tier rows: store append,
        then Graphite lines, then the Prometheus refresh.

        A Graphite outage (any ``OSError`` from the send) is logged and
        skipped: the rows are already in the store, and the next flush
        re-sends every changed window's snapshot — the go-metrics-graphite
        reporter likewise logs a failed flush and retries on the next
        tick.  Raising here would end a streaming query.
        """
        # store writes serialize across concurrently-flushing
        # streaming queries so compaction's read-then-rewrite can
        # never race an append into a lost update.  The flush_seq is
        # stamped INSIDE the lock: a compact() that beat this flush
        # to the lock restamps the pre-flush snapshot with a seq
        # drawn earlier than ours, so our rows still win latest-wins
        # (stamping before the lock inverted that ordering).
        with self._store_guard():
            out = (
                rows.withColumn("day", _day("window_start"))
                .withColumn("tier", F.lit(self.tier))
                .withColumn("flush_seq", F.lit(self._next_flush_seq()))
            )
            self.io.write_partitioned(
                out, "tiers", ["tier", "day"], overwrite_dynamic=False
            )
            self._flushes_since_compact += 1
            due = (
                self.compact_every > 0
                and self._flushes_since_compact >= self.compact_every
            )
        if due:
            self.compact()
        g = self.conf.get("graphite", {})
        lines = to_graphite_lines(rows, self.tier, prefix=g.get("prefix", "logtrics"))
        if g.get("debug"):  # K3: log the registry snapshot per flush
            for r in lines.limit(50).collect():
                logger.debug("graphite batch=%s %s", batch_id, r["line"])
        host, port = g.get("host"), g.get("port")
        if host and port:
            try:
                send_graphite_tcp(lines, str(host), int(port))
            except OSError as e:
                logger.warning(
                    "graphite flush to %s:%s failed (%s); the next flush re-sends",
                    host, port, e,
                )
        if self._prom_enabled:
            self.refresh_prometheus()

    def refresh_prometheus(self) -> str:
        """Re-render the exposition snapshot from the store's latest
        view and push it to the configured textfile / live endpoint.
        Bounded by series cardinality (one sample per live series) —
        the same per-tick bound as the reference's registry walk."""
        from logtrics_spark.sinks.prometheus import (
            render_exposition,
            to_prometheus_samples,
            write_textfile,
        )

        try:
            latest = self.live.read_tier(self.tier)
        except ValueError:  # store has no rows yet: empty scrape
            payload = ""
        else:
            samples = to_prometheus_samples(
                latest, self.tier, prefix=self.prom_prefix, timestamps=False
            )
            payload = render_exposition(samples)
        self._prom_payload["payload"] = payload
        if self.prom_textfile:
            write_textfile(payload, self.prom_textfile)
        return payload

    # -------------------------------------------------- streaming modes
    def _start_stream(self, lines: DataFrame, name: str, once: bool):
        points = self.engine.run(lines)
        # update mode: each trigger re-emits changed windows' running
        # aggregates — the reference's snapshot-per-tick flush.  The
        # watermark only bounds state for genuinely late data.
        agg = rollup_stream(points, self.tier, watermark="10 minutes")
        ckpt = f"{self.checkpoint_root or self.store_root + '/_checkpoints'}/{name}"
        writer = (
            agg.writeStream.outputMode("update")
            .queryName(f"logtrics-{name}")
            .option("checkpointLocation", ckpt)
            .foreachBatch(self._sink)
        )
        if once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.interval} seconds")
        q = writer.start()
        self.queries.append(q)
        if self.sketch_kinds:
            # sketches need the raw POINTS (a t-digest cannot be built
            # from scalar tier rows), so they get their own stateless
            # append stream writing per-batch partials.  Only replayable
            # sources support a second consumer: a socket source would
            # split its lines between the two queries.
            if name == "file":
                sk_writer = (
                    points.writeStream.outputMode("append")
                    .queryName(f"logtrics-{name}-sketches")
                    .option("checkpointLocation", f"{ckpt}_sketches")
                    .foreachBatch(self._sketch_sink)
                )
                if once:
                    sk_writer = sk_writer.trigger(availableNow=True)
                else:
                    sk_writer = sk_writer.trigger(
                        processingTime=f"{self.interval} seconds"
                    )
                self.queries.append(sk_writer.start())
            else:
                logger.warning(
                    "sketch tiers are not collected from the %s stream "
                    "(non-replayable source); use file mode or the drain "
                    "paths for sketch coverage",
                    name,
                )
        return q

    # ------------------------------------------------ driver-side modes
    def process_lines(self, lines: DataFrame) -> int:
        """Batch drain path (console/udp): lines -> points -> tier rows
        -> the same flush as the streaming sink.  Returns the number of
        tier rows flushed.

        The rule engine (the drain's one Python stage) and the rollup
        run under one lazy ``localCheckpoint`` of the tier rows, which
        the one ``count`` materializes; the flush then reads the
        checkpoint.  The points are checkpointed on their own only when
        sketch tiers read them a second time.

        The udp collector drains CUMULATIVELY (all datagrams so far), so
        repeated drains are snapshot versions exactly like streaming
        update emissions — latest-wins resolves them (sketch rows from
        this path carry origin='drain' and resolve the same way).
        """
        points = self.engine.run(lines)
        if self.sketch_kinds:
            points = points.localCheckpoint()
        tier_rows = rollup(points, self.tier).localCheckpoint(eager=False)
        n = tier_rows.count()
        if n:
            self._flush(tier_rows, batch_id=-1)
            if self.sketch_kinds:
                self._write_sketches(points, origin="drain")
        return n

    # --------------------------------------------------- sketch tiers
    def _write_sketch_rows(
        self, name: str, rows: DataFrame, origin: str, batch_seq: int = -1
    ) -> None:
        """One append of sketch rows (with a ``tier`` column) to
        ``sk_<name>``, stamped with one flush_seq."""
        with self._store_guard():
            out = (
                rows.withColumn("day", _day("window_start"))
                .withColumn("origin", F.lit(origin))
                .withColumn("batch_seq", F.lit(int(batch_seq)))
                .withColumn("flush_seq", F.lit(self._next_flush_seq()))
            )
            self.io.write_partitioned(
                out, f"sk_{name}", ["tier", "day"], overwrite_dynamic=False
            )

    def _write_sketches(
        self, points: DataFrame, origin: str, batch_seq: int = -1
    ) -> None:
        """Build + append finest-tier sketch rows for every enabled kind.

        ``origin='drain'`` rows are cumulative snapshots (latest-wins,
        like the scalar flush path); ``origin='stream'`` rows are
        per-micro-batch partials deduped by ``batch_seq`` and merged on
        read — partial sketches are exactly what makes the mergeable
        trio safe to append without streaming state.
        """
        for name in self.sketch_kinds:
            rows = self.sketchset.rollup(points, self.tier, name).withColumn("tier", F.lit(self.tier))
            self._write_sketch_rows(name, rows, origin, batch_seq)

    def _sketch_sink(self, points_batch: DataFrame, batch_id: int) -> None:
        points_batch = points_batch.persist()
        try:
            if points_batch.isEmpty():
                return
            self._write_sketches(points_batch, origin="stream", batch_seq=batch_id)
        finally:
            points_batch.unpersist()

    def _sketch_kinds_effective(self) -> list[str]:
        """The sketch kinds housekeeping covers: configured ∪ stored
        (``SketchSet.kinds_with_stored``, as in ``retention_tiers``).  An
        unconfigured kind merges with default parameters — pass the
        deployment's config to the CLI when it customizes mg_k/compression."""
        return self.sketchset.kinds_with_stored(self.io)

    # ------------------------------------------------------ housekeeping
    def compact(self, tiers: list[str] | None = None) -> dict[str, int]:
        """Rewrite each tier's day partitions to latest-wins rows only,
        dropping superseded snapshot versions (the live-store analog of
        the batch pipeline's compaction: without it a long-running
        daemon accumulates one full snapshot of every still-open window
        per flush tick, unbounded).

        Each tier becomes one dynamic-partition-overwrite job: the
        latest-wins rows are restamped with ONE fresh flush_seq and
        replace every day partition they cover (every stored day has at
        least one surviving row, so no partition is orphaned).  A later
        flush stamps a higher flush_seq and still wins; ``read_tier``
        output is unchanged by construction.  The
        per-partition replace is the same idempotent primitive the
        sealed pipeline uses — a crash mid-job leaves some partitions
        compacted and some not, both states latest-wins-correct.

        Returns {tier: rows written}.  Runs under the store lock, so
        in-process streaming flushes queue behind it.
        """
        with self._store_guard():
            if not self.io.exists("tiers"):
                return {}
            tiers = tiers or self.io.list_partitions("tiers", "tier")
            counts: dict[str, int] = {}
            for t in tiers:
                latest = self.live.read_tier(t).localCheckpoint()
                out = (
                    latest.withColumn("day", _day("window_start"))
                    .withColumn("tier", F.lit(t))
                    .withColumn("flush_seq", F.lit(self._next_flush_seq()))
                )
                self.io.write_partitioned(out, "tiers", ["tier", "day"])
                counts[t] = latest.count()
            # sketch tables: snapshot rows (drain/cascade — one full
            # re-emission per flush tick, the unbounded class) collapse
            # to latest-wins; stream partials are kept VERBATIM — their
            # count is bounded by micro-batches per window, and merging
            # them away would break the (batch_seq, window) dedupe that
            # makes at-least-once replays safe.
            for name in self._sketch_kinds_effective():
                for t in self.io.list_partitions(f"sk_{name}", "tier"):
                    df = self.io.read(f"sk_{name}/tier={t}").drop("day").localCheckpoint()
                    snap = (
                        _pick_latest(df.where(F.col("origin") != "stream"), KIND_VALS[name])
                        .withColumn("origin", F.lit("compact"))
                        .withColumn("batch_seq", F.lit(-1))
                        .withColumn("flush_seq", F.lit(self._next_flush_seq()))
                    )
                    stream = df.where(F.col("origin") == "stream")
                    out = snap.unionByName(stream.select(*snap.columns))
                    out = out.withColumn("day", _day("window_start")).withColumn(
                        "tier", F.lit(t)
                    )
                    self.io.write_partitioned(out, f"sk_{name}", ["tier", "day"])
                    counts[f"sk_{name}:{t}"] = out.count()
            self._flushes_since_compact = 0
            return counts

    def archive_closed_days(self, job, before_day: str | None = None) -> dict:
        """Seal CLOSED days of the live store into a RollupJob's
        archival store, then drop them from the live head — the daemon
        owns the open day, the batch pipeline owns sealed history;
        without this handoff they are disjoint stores a user must
        reconcile by hand.

        ``before_day`` ('yyyy-MM-dd'): archive days strictly before it;
        defaults to the day of the store's newest window (the open day),
        which assumes event time is roughly monotonic — pass an explicit
        watermark when late data may still arrive for older days.

        The closed fine sketch rows of each kind are consolidated once
        and merged up the job's tiers with the daemon's own ``SketchSet``
        (``ladder``: its merge parameters stay in force), then handed
        with the closed scalar rows to ``RollupJob.seal_from_fine`` — so
        the archive lands through the job's one seal path: the chunk
        write, one ``sk_<kind>`` write per kind, one lineage append.
        Live-head drops happen strictly after (a crash in between leaves
        the day readable in both stores rather than in neither), the
        finest scalar tier last: its closed days are what a rerun
        re-archives (idempotently) before it finishes the drops.
        Returns the per-tier sealed units and the ``sk_<kind>:<tier>``
        rows sealed.

        The archive store must not be the live store: a store has one
        writer, so a job over the daemon's own root raises before any
        read or write.
        """
        if job.io.root.resolve() == self.io.root.resolve():
            raise ValueError(
                f"archive store {str(job.io.root)!r} is the live store "
                f"{self.store_root!r}: archive into a store of its own"
            )
        if job.tiers[0] != self.tier:
            raise ValueError(
                f"archive job's finest tier {job.tiers[0]!r} must match "
                f"the daemon's streamed tier {self.tier!r}"
            )
        with self._store_guard():
            if not self.io.exists(f"tiers/tier={self.tier}"):
                return {}
            if before_day is None:
                before_day = (
                    self.io.read(f"tiers/tier={self.tier}")
                    .agg(F.max(_day("window_start")))
                    .collect()[0][0]
                )
            closed = self.live.read_tier(self.tier).where(_day("window_start") < before_day)
            if closed.isEmpty():
                return {}
            kinds = [
                k for k in self._sketch_kinds_effective()
                if self.io.exists(f"sk_{k}/tier={self.tier}")
            ]
            sketches = []
            for k in kinds:
                # consolidated once and checkpointed: every ladder tier reads it
                fine = self.live.read_sketch_tier(k, self.tier)
                fine = fine.where(_day("window_start") < before_day)
                sketches.append((k, self.sketchset.ladder(k, fine.localCheckpoint(), job.tiers)))
            stats = job.seal_from_fine(closed, sketches=sketches)
            live = [
                f"{table}/tier={t}"
                for table in (*(f"sk_{k}" for k in kinds), "tiers")
                for t in self.io.list_partitions(table, "tier")
            ]
            live.sort(key=lambda part: part == f"tiers/tier={self.tier}")
            for part in live:
                for day in self.io.list_partitions(part, "day"):
                    if day < before_day:
                        self.io.drop_partition(part, day=day)
            return stats

    # -------------------------------------------------------- cascading
    def cascade_tiers(self, tiers: list[str] | None = None) -> dict[str, int]:
        """Roll the live store's finest tier up to the coarser configured
        tiers (offline continuous-aggregate maintenance — the daemon
        only streams the finest tier; run this periodically or after
        --once drains).  Every coarser tier is recomputed from the
        latest finest snapshot in one aggregate (``rollup.cascade_tiers``)
        and lands as ONE append under one new flush_seq; each sketch kind
        merges up the same tiers (``SketchSet.ladder``) into one append
        of snapshot rows (origin='cascade').  Reruns converge via the
        same latest-wins rule.  Returns {tier: rows written} and
        {"sk_<kind>:<tier>": rows written}.
        """
        from logtrics_spark.operators.rollup import cascade_tiers

        tiers = tiers or (self.conf.get("graphite", {}).get("tiers") or [self.tier])
        if tiers[0] != self.tier:
            raise ValueError(f"tier list must start at the streamed tier {self.tier!r}")
        # nothing flushed yet (e.g. no line matched any rule), or no coarser tier
        if not self.io.exists(f"tiers/tier={self.tier}") or len(tiers) == 1:
            return {}
        fine = self.live.read_tier(self.tier)
        coarse = cascade_tiers(fine, self.tier, tiers[1:]).localCheckpoint()
        # the append takes the same cross-process store guard as
        # _sink/_write_sketch_rows: a concurrent CLI compact's
        # read-then-dynamic-overwrite must not drop this append landing
        # in between (the flush_seq stamp rides inside the guard so the
        # compact's own stamp orders after it)
        with self._store_guard():
            out = coarse.withColumn("day", _day("window_start")).withColumn(
                "flush_seq", F.lit(self._next_flush_seq())
            )
            self.io.write_partitioned(out, "tiers", ["tier", "day"], overwrite_dynamic=False)
        counts = {t: 0 for t in tiers[1:]} | _tier_counts(coarse)
        for name in self._sketch_kinds_effective():
            if not self.io.exists(f"sk_{name}/tier={self.tier}"):
                continue
            fine = self.live.read_sketch_tier(name, self.tier).localCheckpoint()
            rows = (
                self.sketchset.ladder(name, fine, tiers)
                .where(F.col("tier") != self.tier)
                .localCheckpoint()
            )
            self._write_sketch_rows(name, rows, origin="cascade")
            counts.update({f"sk_{name}:{t}": n for t, n in _tier_counts(rows).items()})
        return counts

    def drain_udp(self) -> int:
        if self.udp is None:
            return 0
        return self.process_lines(self.udp.dataframe(self.spark))

    def run_scheduled(self, now=None) -> dict:
        """Fire any [schedule] jobs whose cron matched since the last
        tick.  Called from the daemon loop after each flush interval;
        no-op without a [schedule] section.  ``now`` is injectable for
        tests; defaults to the wall clock (UTC)."""
        if self.scheduler is None:
            return {}
        import datetime as _dt

        return self.scheduler.run_due(now or _dt.datetime.now(_dt.timezone.utc))

    # -------------------------------------------------------- lifecycle
    def start(self, once: bool = False, console_lines: list[str] | None = None) -> "Daemon":
        """Wire every configured mode (config ``modes``, main.go:97-121)."""
        modes = self.conf.get("modes") or []
        if not modes:
            raise ValueError("config has no modes")
        if self.prom_port > 0 and self._prom_server is None:
            from logtrics_spark.sinks.prometheus import MetricsServer

            self._prom_server = MetricsServer(
                lambda: self._prom_payload["payload"],
                host=self.prom_host,
                port=self.prom_port,
            )
            self.prom_port = self._prom_server.port  # ephemeral bind
            logger.info("prometheus /metrics on %s:%d", self.prom_host, self.prom_port)
        for mode in modes:
            if mode == "file":
                if not self.file_dir:
                    raise ValueError("mode 'file' needs file_dir (--file-dir)")
                self._start_stream(
                    stream_lines(self.spark, self.file_dir), "file", once
                )
            elif mode == "tcp":
                t = self.conf.get("tcp", {})
                self._start_stream(
                    stream_socket(
                        self.spark, t.get("host", "127.0.0.1"), int(t.get("port", 8888))
                    ),
                    "tcp",
                    once,
                )
            elif mode == "udp":
                u = self.conf.get("udp", {})
                self.udp = UDPLineCollector(
                    u.get("host", "127.0.0.1"), int(u.get("port", 0))
                )
            elif mode == "console":
                if console_lines:
                    self.process_lines(lines_df(self.spark, console_lines))
            else:
                raise ValueError(f"unknown mode {mode!r}")
        return self

    def await_once(self) -> dict[str, int]:
        """availableNow run: drain streams + udp, return flush stats."""
        for q in self.queries:
            q.awaitTermination()
        stats = {"streams": len(self.queries), "udp_rows": self.drain_udp()}
        return stats

    def stop(self) -> None:
        for q in self.queries:
            try:
                q.stop()
            except Exception:
                pass
        if self.udp is not None:
            self.drain_udp()
            self.udp.stop()
            self.udp = None
        if self._prom_server is not None:
            self._prom_server.stop()
            self._prom_server = None


def run_daemon(
    spark: SparkSession,
    conf: dict[str, Any],
    engine: Engine,
    store_root: str,
    file_dir: str | None = None,
    checkpoint_root: str | None = None,
    once: bool = False,
    console_lines: list[str] | None = None,
) -> Daemon:
    """Compose and start the deployment; caller owns await/stop."""
    d = Daemon(spark, conf, engine, store_root, file_dir, checkpoint_root)
    return d.start(once=once, console_lines=console_lines)


def main_run(args, spark) -> int:
    """CLI body for ``python -m logtrics_spark run`` (split for testing)."""
    from logtrics_spark.config import load_toml

    conf = load_toml(args.config)
    engine = load_rules(args.rules) if args.rules else load_rules_from_config(conf)
    d = run_daemon(
        spark,
        conf,
        engine,
        args.store,
        file_dir=args.file_dir,
        checkpoint_root=args.checkpoint,
        once=args.once,
    )
    try:
        if args.once:
            stats = d.await_once()
            if getattr(args, "cascade", False):
                stats["cascaded"] = d.cascade_tiers()
            print(json.dumps({"tier": d.tier, **stats}))
        else:
            if not d.queries and d.udp is None:
                raise ValueError(
                    "nothing to run continuously: configure a streaming "
                    "mode (file/tcp) or udp, or use --once for console"
                )
            # flush tick (graphite.interval, main.go's reporter cadence):
            # streaming queries flush via their trigger; the udp harness
            # is driver-side and must be drained here — without this a
            # udp-only daemon would block forever and buffer unbounded
            import time

            while True:
                if d.queries:
                    if spark.streams.awaitAnyTermination(timeout=d.interval):
                        break  # a query terminated (error or stop)
                else:
                    time.sleep(d.interval)
                d.drain_udp()
                d.run_scheduled()
    finally:
        d.stop()
    return 0
