"""SparkSession construction with scale-appropriate defaults.

Single place for engine configuration so tests, bench, and the driver
entrypoint all run the same way. Defaults target local[N] testing but every
setting is the one we would ship on a 1000-executor cluster (AQE on, skew
join handling on, partition coalescing on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — the main lever that keeps the same plans healthy
    # from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The reference merges duplicate attribute keys last-write-wins
    # (bin/job_history:232-235); map_from_arrays must do the same instead of
    # raising.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Deterministic timestamps across engines (DuckDB oracle runs in UTC).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas interchange (toPandas / mapInPandas paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # util.materialize upgrades to reliable checkpoint() when the session
    # has a checkpoint dir; reliable checkpoint files are NOT reclaimed by
    # default, so a long-lived cluster session would accumulate one
    # directory per materialized subtree. With this on, the ContextCleaner
    # deletes a checkpoint's files when its frame is GC'd — the same
    # ownership model the localCheckpoint path already has.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # PySpark otherwise wraps every DataFrame and functions call to record
    # its Python call site, about six py4j round trips per call: building
    # a per-job lookup's timeline sends 2895 py4j commands with it on and
    # 1095 with it off. What it gives up: analysis errors lose their
    # Python-line DataFrame context. PySpark reads this once per process,
    # at the first wrapped call with a session, so it belongs here and
    # not in a later spark.conf.set.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Scale-adaptive shuffle sizing, OPT-IN: AQE coalescing only MERGES
# post-shuffle partitions, never splits them, so shuffle.partitions is a
# hard ceiling on reduce-side parallelism and a floor on per-task state —
# a constant tuned for local[N] stops fitting a few data decades up
# (q131's x100 hash aggregates hit AGGREGATE_OUT_OF_MEMORY at
# 32 partitions / 40g once earlier runs' checkpoint blocks held storage).
# Deployments size these via SPARK_GRAFT_SHUFFLE_PARTITIONS /
# SPARK_GRAFT_INIT_PARTITIONS; the init-partition ceiling is NOT
# defaulted high because a blanket 512 measured +21% on the sf0.1 bench
# subset (localCheckpoint pins the pre-coalesce partition count through
# iterative loops — q197 3x worse). Both are read per get_spark() call.


def get_spark(
    app_name: str = "hadoop-jobanalyzer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    driver and bench harness control parallelism with one env var. An
    active session gets only what the call sets (arguments and the
    SPARK_GRAFT_* knobs), never the defaults again.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    live = SparkSession.getActiveSession() is not None
    conf = {} if live else dict(ENGINE_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", None if live else 32)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    init_partitions = os.environ.get("SPARK_GRAFT_INIT_PARTITIONS")
    if init_partitions:
        conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = init_partitions
    if extra_conf:
        conf.update(extra_conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
