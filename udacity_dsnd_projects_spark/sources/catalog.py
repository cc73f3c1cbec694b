"""Corpus catalog: parquet scans over the driver test tables.

The reference's static inputs are a Postgres table bulk-loaded from CSV
(``kafka-streaming-pipeline/load_stations.sql:1-25``) and pandas CSV reads
(``producers/simulation.py:35-37``). The engine's batch sources are
declarative ``spark.read`` scans so Catalyst gets predicate pushdown and
column pruning at the parquet reader (check with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Scan one corpus table. Plain parquet scan — no caching, no
    repartition — so Catalyst is free to prune and push down.

    Timestamp normalization choke point — every corpus ``ts`` column is
    guaranteed to reach downstream operators as a session-zoned
    ``TimestampType`` (session tz pinned UTC), whatever physical type
    the parquet writer used:

    * parquet TIMESTAMP(NANOS) → read as INT64 via the nanosAsLong
      legacy conf, converted with ``timestamp_micros(ns div 1000)``;
    * parquet timestamp[us] with isAdjustedToUTC=false → Spark 4 reads
      it as ``TIMESTAMP_NTZ`` (inferTimestampNTZ default on); cast to
      ``timestamp`` reinterprets the naive wall-clock as UTC — the
      identical instant DuckDB's naive TIMESTAMP/epoch() sees.

    Both conversions are cheap codegen'd projections applied before
    anything else, so no operator ever needs a per-query NTZ patch
    (epoch casts like ``unix_millis`` are illegal on NTZ).
    """
    d = sf_dir or DEFAULT_SF_DIR
    try:  # driver-provided sessions may lack these runtime confs
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin NTZ inference so the scan's ts type is deterministic and
        # the NTZ branch below is exercised identically everywhere
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # timestamps must compare UTC-naive against the DuckDB oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    df = spark.read.parquet(f"{d}/{name}.parquet")
    for f_ in df.schema.fields:
        if f_.name not in _NANO_TS_COLUMNS:
            continue
        if isinstance(f_.dataType, LongType):  # legacy nanosAsLong path
            df = df.withColumn(
                f_.name, F.timestamp_micros(F.expr(f"`{f_.name}` div 1000"))
            )
        elif isinstance(f_.dataType, TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


#: Columns known to be nano-precision timestamps in the corpus.
_NANO_TS_COLUMNS = {"ts"}
