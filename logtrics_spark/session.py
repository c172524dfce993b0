"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every conf here is
chosen for the 1000-executor / 100 TB case: AQE on (runtime re-plan +
skew-join splitting), Arrow on (vectorized Python boundary), shuffle
partitions sized explicitly rather than the 200 default, and parquet
pushdown left enabled so tier scans prune the huge ``tokens`` column.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logtrics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session tuned for the rollup pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster the caller passes master/None via spark-submit and
    these confs still apply.
    """
    # Under spark-submit a JVM gateway already exists and carries the
    # submitted --master / --conf: setting .master() here would silently
    # override `spark-submit --master` (measured: --master local[3] ran
    # local[32]), breaking the north rule's N vs 4N executor runs.  The
    # gateway env var is the precise launched-by-submit signal; defer to
    # the submitted conf unless the caller passed explicit values.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None and not under_submit:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not under_submit:
        # Rule of thumb: 2-3x the core count locally; on a cluster this is
        # set via spark-submit --conf (AQE coalesces when partitions are
        # small anyway).
        shuffle_partitions = max(2 * cpus, 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting. At 100 TB the static partition count is always wrong
        # for some stage; AQE fixes it from runtime stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark pins a persisted plan's output partitioning by default, so
        # that a later join on the cached frame's shuffle key can skip its
        # own exchange: the plan is cached with AQE off, and a persisted
        # shuffle stage runs all spark.sql.shuffle.partitions tasks, most
        # of them tiny.  The seal's persisted tier, chunk and sketch frames
        # are only scanned, re-shuffled or written, so let cached plans
        # coalesce like every other stage; the cost is that such a join
        # may shuffle its (already reduced) cached side again.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow: every Python-boundary op in this engine is batch/Arrow
        # (pandas_udf / mapInPandas / applyInPandas); never row-at-a-time.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet scans: keep files around 128 MB splits; vectorized reader.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Broadcast joins for small dims (gap-fill spine bounds, lineage).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # keep partition columns as written (day stays 'yyyy-MM-dd' string
        # everywhere) — inference turning day into DATE made every
        # pruning join cast and broke seal-unit set comparisons
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Classic (non-ANSI) semantics: failed casts -> null, matching the
        # reference's forgiving ToInt64 coercion (non-numeric -> 0 after
        # coalesce) instead of task-killing exceptions mid-pipeline.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
