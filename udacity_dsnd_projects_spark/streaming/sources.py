"""Streaming sources and sinks (SURVEY.md §2.1 S1/S5/S6, §2.2 K1/K2).

The reference subscribes to Kafka topics with earliest offsets
(``sparkpykafkajoin.py:61-67``: ``readStream.format("kafka")
.option("subscribe", t).option("startingOffsets", "earliest")``) and
fans in per-station topics by regex (``consumers/server.py:76-80``).
Here the Kafka path is real code, gated by :func:`have_kafka`
(SURVEY.md §7 phase 2). Where no broker answers, file streams with
explicit schemas stand in for it: the tests and ``perfbench`` run both
pipelines on :func:`file_stream`, which is equivalent for T1 replay (a
file stream always starts from the beginning, which IS earliest
offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def have_kafka(spark: SparkSession, bootstrap_servers: str = "localhost:9092") -> bool:
    """True when BOTH the spark-sql-kafka connector is on the classpath
    AND a broker answers at ``bootstrap_servers`` — the same runtime
    capability gate pattern as ``sources.formats.have_avro``. The
    connector ships separately from Spark core and the sandbox has no
    broker, so Kafka integration tests skip VISIBLY through this gate
    instead of failing or silently not existing."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        return False
    import socket

    host, _, port = bootstrap_servers.partition(":")
    try:
        with socket.create_connection((host, int(port or 9092)), timeout=0.5):
            return True
    except OSError:
        return False


def kafka_stream(
    spark: SparkSession,
    topic: str | None = None,
    subscribe_pattern: str | None = None,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1/S6 — Kafka streaming source, earliest offsets (T1). Exactly
    the reference's source options; ``subscribe_pattern`` is the
    regex fan-in of the per-station arrival topics."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("startingOffsets", starting_offsets)
    )
    if subscribe_pattern is not None:
        reader = reader.option("subscribePattern", subscribe_pattern)
    else:
        reader = reader.option("subscribe", topic)
    return reader.load()


def kafka_bytes_as_strings(raw: DataFrame) -> DataFrame:
    """P1 — the cast-projection applied to every raw Kafka frame
    (``sparkpykafkajoin.py:70-72``)."""
    return raw.selectExpr("cast(key as string) key", "cast(value as string) value")


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File stream with an explicit schema (the engine never infers —
    SURVEY.md §1.2). ``max_files_per_trigger`` caps the new files read
    per micro-batch; ``None`` keeps Spark's default of every new file
    in one batch. Replay tests pass 1 so that their rows arrive over
    several micro-batches."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def kafka_sink(
    df: DataFrame,
    topic: str,
    checkpoint_location: str,
    bootstrap_servers: str = "localhost:9092",
):
    """K1 — Kafka sink with checkpoint (``sparkpykafkajoin.py:145-152``).
    ``df`` must already have string/binary ``key`` and ``value``
    columns (use :func:`to_kafka_shape`). Returns the StreamingQuery."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def to_kafka_shape(df: DataFrame, key_col: str) -> DataFrame:
    """F2 — serialize the whole row as the Kafka value
    (``sparkpykafkajoin.py:145``: ``to_json(struct(*))`` keyed by
    email)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """K2 analog for tests — run a streaming frame to completion into an
    in-memory table and return the materialized result. Synchronous:
    ``processAllAvailable`` drains every pending micro-batch."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def run_foreach_batch(df: DataFrame, fn, output_mode: str = "update") -> None:
    """T6/K5 — ``foreachBatch`` driver for idempotent upsert sinks (the
    engine's analog of the Faust changelog table). Synchronous."""
    q = df.writeStream.foreachBatch(fn).outputMode(output_mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
