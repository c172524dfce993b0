"""TableIO seam — Iceberg-shaped storage on a parquet fallback.

The north rule targets partitioned Iceberg tables; this sandbox has no
Iceberg jars (SURVEY.md §7), so the seam exposes the three capabilities
the engine needs — partitioned write, partition-pruned read, partition
drop — with a parquet implementation whose directory layout matches what
an Iceberg `PARTITIONED BY (source, day)` table would produce.  Swapping
in Iceberg is a constructor change (`writeTo(...).overwritePartitions()`
/ `DELETE WHERE`), not a pipeline change.

Layout under the store root (source is a DATA column in tier/chunk
tables — partitioning by (tier, day) keeps file counts ~sources-times
lower and the day-level dynamic overwrite unit-aligned, pipeline.py
phase 2):

    raw/       source=<s>/day=<d>/*.parquet
    tiers/     tier=<T>/day=<d>/*.parquet   (rollup rows of the unsealed
                                             head only: a daemon's live
                                             store)
    chunks/    tier=<T>/day=<d>/*.parquet   (Gorilla chunk rows: the
                                             sealed tiers, every column)
    lineage/   append-only parquet log

Idempotent seal protocol (SURVEY.md §7.7 hard part #2), no transactions
needed: chunk writes use dynamic partition overwrite keyed by the seal
unit, so a replayed unit overwrites itself byte-for-byte (the pipeline
is deterministic); one lineage append per seal lands strictly AFTER its
data.  A crash between the two leaves unsealed units that the next run
simply recomputes onto the same partitions.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("tier", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("window_start", T.TimestampType(), False),  # seal-unit window
        T.StructField("input_partitions", T.ArrayType(T.StringType()), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("point_count", T.LongType(), True),
        T.StructField("sealed", T.BooleanType(), False),
        T.StructField("chunk_file", T.StringType(), True),
        T.StructField("run_id", T.StringType(), True),
        # monotonic append sequence: latest-wins in sealed_units orders on
        # this, NOT on the random run_id (a replay/unseal feature ordering
        # on uuid text would resurrect arbitrary old seals)
        T.StructField("seal_seq", T.LongType(), True),
    ]
)


class ParquetTableIO:
    """Partition-layout-compatible parquet implementation of the seam."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = Path(root)  # created by the first write, never by a read

    # ---- generic partitioned tables -----------------------------------
    def path(self, *parts: str) -> str:
        return str(self.root.joinpath(*parts))

    def exists(self, *parts: str) -> bool:
        return Path(self.path(*parts)).exists()

    def write_partitioned(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str],
        overwrite_dynamic: bool = True,
        cluster: bool = True,
    ) -> None:
        """Dynamic partition overwrite: only partitions present in df are
        replaced — the parquet analog of Iceberg overwritePartitions.

        cluster=True repartitions by the partition columns first so each
        output dir gets one file instead of one per upstream task — with
        T tasks and P dirs the naive write creates up to T*P small files,
        which dominates wall-clock for tier-sized tables and bloats the
        file listing every later scan pays for.  (AQE coalesces the
        repartition shuffle, so this costs one tiny shuffle.)
        """
        if cluster:
            df = df.repartition(*[F.col(c) for c in partition_cols])
        writer = df.write.partitionBy(*partition_cols)
        if overwrite_dynamic:
            writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        else:
            writer = writer.mode("append")
        writer.parquet(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.option("basePath", self.path(table)).parquet(self.path(table))

    def drop_partition(self, table: str, **partition_values: str) -> bool:
        """Drop one partition directory (Iceberg: DELETE WHERE/drop partition).

        Values are applied in the order given; returns True if removed.
        Directories the drop leaves holding only commit markers
        (``_SUCCESS``, ``.crc``) go too, up to the table itself: a table
        whose last partition is dropped no longer exists, so no reader
        trips over a directory with no data files.
        """
        sub = "/".join(f"{k}={v}" for k, v in partition_values.items())
        target = Path(self.path(table)) / sub
        if not target.exists():
            return False
        shutil.rmtree(target)
        parent = target.parent
        while self.root in parent.parents and not any(
            p.is_dir() or not p.name.startswith(("_", ".")) for p in parent.iterdir()
        ):
            shutil.rmtree(parent)
            parent = parent.parent
        return True

    def compact_partition(self, table: str, **partition_values: str) -> int:
        """Rewrite one partition directory as a single file (small-file
        compaction — the Iceberg analog is rewrite_data_files).

        Streaming appends leave one file per micro-batch per partition;
        every later scan pays the listing + open cost.  The swap is NOT
        atomic on the parquet fallback: between target.rename(old) and
        tmp.rename(target) the partition path does not exist, so
        compaction must not run concurrently with readers (Iceberg's
        snapshot commit removes this constraint).  Crash recovery: the
        next call heals leftovers — a missing target with a complete
        `._compact_old` sibling is restored (the `._compact_tmp` data is
        discarded; it is a pure rewrite, nothing is lost), and stale
        sibling dirs are removed before a new swap.  Returns the number
        of files before compaction (0 = nothing to do).
        """
        sub = "/".join(f"{k}={v}" for k, v in partition_values.items())
        target = Path(self.path(table)) / sub
        tmp = target.with_name(target.name + "._compact_tmp")
        old = target.with_name(target.name + "._compact_old")
        # heal a crash inside a previous swap window
        if not target.exists() and old.exists():
            old.rename(target)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        if not target.exists():
            return 0
        files = [p for p in target.rglob("*.parquet") if p.is_file()]
        if len(files) <= 1:
            return len(files)
        df = self.spark.read.parquet(str(target))
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        target.rename(old)
        tmp.rename(target)
        shutil.rmtree(old)
        return len(files)

    def list_partitions(self, table: str, col: str) -> list[str]:
        base = Path(self.path(table))
        if not base.exists():
            return []
        out = []
        for p in sorted(base.rglob(f"{col}=*")):
            if p.is_dir():
                out.append(p.name.split("=", 1)[1])
        return sorted(set(out))

    # ---- lineage log ---------------------------------------------------
    _last_seal_seq = 0  # process-wide floor so same-µs appends still increase
    _log_floor_loaded = False  # per-instance: existing-log max folded in once

    def _next_seal_seq(self) -> int:
        """Monotonic sequence for lineage appends: wall-clock µs, bumped
        past any value already in the log — the first append per
        instance folds in the stored max, so a restart on a clock that
        stepped backwards (or a second writer) can never stamp below
        existing rows; within a process the class floor covers same-µs
        appends."""
        import time

        # getattr: IcebergTableIO borrows this method and lacks the class attr
        if not getattr(self, "_log_floor_loaded", False):
            self._log_floor_loaded = True
            if self.exists("lineage"):
                row = self.read_lineage().agg(F.max("seal_seq")).collect()[0]
                stored = row[0] or 0
                ParquetTableIO._last_seal_seq = max(
                    ParquetTableIO._last_seal_seq, stored
                )
        now = int(time.time() * 1_000_000)
        seq = max(now, ParquetTableIO._last_seal_seq + 1)
        ParquetTableIO._last_seal_seq = seq
        return seq

    def append_lineage(self, rows: list[dict]) -> None:
        if not rows:
            return
        import pandas as pd

        seq = self._next_seal_seq()
        # pandas -> Arrow conversion path: a plain-list createDataFrame
        # takes the Python-RDD route and spins up a worker per core
        # (~5s per append measured); Arrow keeps this a sub-second write
        pdf = pd.DataFrame(
            {
                f.name: [r.get(f.name, seq if f.name == "seal_seq" else None) for r in rows]
                for f in LINEAGE_SCHEMA.fields
            }
        )
        df = self.spark.createDataFrame(pdf, LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path("lineage"))

    def read_lineage(self) -> DataFrame:
        if not self.exists("lineage"):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        lin = self.spark.read.parquet(self.path("lineage"))
        if "seal_seq" not in lin.columns:  # pre-seal_seq logs
            lin = lin.withColumn("seal_seq", F.lit(None).cast("long"))
        return lin

    def sealed_units(self) -> DataFrame:
        """Latest-wins view: (tier, source, window_start) currently sealed.

        Ordered by the monotonic seal_seq (append time), never by run_id —
        run ids are random uuid text, so max_by over them is not temporal
        and an unseal->reseal history would resolve arbitrarily.  Rows
        from pre-seal_seq logs sort before any stamped row, tie-broken
        among themselves by run_id: wrong as temporal order (the bug
        this column fixes) but DETERMINISTIC, so legacy histories at
        least resolve the same way on every read.
        """
        lin = self.read_lineage()
        order = F.struct(
            F.coalesce("seal_seq", F.lit(-1)).alias("s"),
            F.coalesce("run_id", F.lit("")).alias("r"),
        )
        return (
            lin.groupBy("tier", "source", "window_start")
            .agg(F.max_by("sealed", order).alias("sealed"))
            .where(F.col("sealed"))
            .drop("sealed")
        )
