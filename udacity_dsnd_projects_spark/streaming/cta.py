"""The CTA pipeline transforms (SURVEY.md §3.2-3.3) — Faust and KSQL
semantics re-expressed as execution-mode-agnostic DataFrame logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.streaming.sinks import latest_per_key


def faust_station_transform(
    stations: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """§3.3 — the Faust per-record transform
    (``consumers/faust_stream.py:50-70``): 9-field station record →
    4-field ``TransformedStation`` with ``line`` derived by if/elif
    over the three boolean flags (F6). Unknown line → empty string,
    exactly like the reference's else-branch. ``keep_cols`` lets a
    caller thread extra columns (e.g. the upsert sequence) through
    the projection."""
    return stations.select(
        "station_id",
        "station_name",
        "order",
        F.when(F.col("red"), "red")
        .when(F.col("blue"), "blue")
        .when(F.col("green"), "green")
        .otherwise("")
        .alias("line"),
        *keep_cols,
    )


def station_table_latest(transformed: DataFrame, seq_col: str = "stop_id") -> DataFrame:
    """§3.3 batch face — the Faust table upsert
    (``faust_stream.py:71``: ``table[station.station_id] = ...``) is
    last-write-wins per ``station_id``; with a monotonic sequence
    column the batch answer is the max-seq row per key. Shares
    :func:`.sinks.latest_per_key` (one shuffle, partial+final agg), so
    ties on ``seq_col`` break the same way as in the streaming table
    and the stored-table merge."""
    values = ("station_name", "order", "line")
    return latest_per_key(
        transformed.select("station_id", seq_col, *values), ["station_id"], seq_col
    ).select("station_id", *values)


def turnstile_summary(turnstiles: DataFrame, ksql_compat_names: bool = False) -> DataFrame:
    """§3.2 — the KSQL CTAS aggregation (``consumers/ksql.py:27-31``):
    ``SELECT station_id, COUNT(*) AS count FROM turnstile GROUP BY
    station_id``. ``ksql_compat_names=True`` reproduces KSQL's
    uppercased output fields ``STATION_ID``/``COUNT``
    (``consumers/models/line.py:70-75`` reads them uppercase — §7
    phase 3 deviation 3)."""
    out = turnstiles.groupBy("station_id").agg(F.count("*").alias("count"))
    if ksql_compat_names:
        out = out.select(
            F.col("station_id").alias("STATION_ID"), F.col("count").alias("COUNT")
        )
    return out


def weather_display(weather: DataFrame) -> DataFrame:
    """Dashboard-side weather formatting (``consumers/models/
    weather.py:17-25`` + ``status.html:14``), applied to every row:
    ``temperature`` rounded to one decimal and ``status`` displayed as
    ``replace('_',' ').title()`` (F5). The dashboard shows the newest
    row; picking it is left to the caller."""
    return weather.select(
        "timestamp",
        F.round(F.col("temperature").cast("double"), 1).alias("temperature"),
        F.initcap(F.regexp_replace("status", "_", " ")).alias("status_display"),
    )
