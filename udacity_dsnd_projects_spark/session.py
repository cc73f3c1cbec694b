"""SparkSession factory tuned for the engine.

Mirrors the reference's session bootstrap
(``spark-streaming-pipeline/sparkpykafkajoin.py:55-58`` — appName +
log-level WARN) but with scale-minded defaults: AQE, UTC session
timezone (for oracle comparability), Arrow enabled, shuffle
partitions sized to cores rather than the 200 default.

Local sessions also write streaming checkpoints through Hadoop's
``FileSystem`` instead of Spark's default ``FileContext`` manager. The
pip ``pyspark`` ships no native ``libhadoop``, so Hadoop's local
``FileContext`` forks a ``readlink`` and a ``chmod`` shell process on
every create and rename: about ten forks and 40 ms per checkpoint file,
and a stateful batch writes dozens of them (state deltas, offsets,
commits, source logs). Both managers refuse to overwrite an existing
file and leave the same files on disk, so checkpoints written under
either one resume under the other. Under spark-submit Spark's default
stays; ``extra_conf`` can override the setting either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "udacity-dsnd-projects-spark",
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the master/memory settings come from
    spark-submit; everything here is safe for both local[N] and
    cluster mode. AQE handles runtime coalescing and skew joins so
    the static shuffle-partition count only needs to be a sane upper
    bound.
    """
    n_shuffle = str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # kept for legacy NANOS-written corpora (read as long, upcast in
        # sources.catalog.load_table); the CURRENT fixture is parquet
        # timestamp[us] isAdjustedToUTC=false, which takes the NTZ
        # branch below instead — plan-asserted in
        # tests/test_sources.py::test_load_table_ts_type_matches_driver_session
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin timestamp-affecting confs so local sessions see the exact
        # ts type the driver's CORRECTNESS session sees (NTZ from
        # timestamp[us] parquet; normalized in catalog.load_table)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER"):  # not under spark-submit
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # no libhadoop in pip pyspark: the FileContext path forks readlink and chmod per file
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
