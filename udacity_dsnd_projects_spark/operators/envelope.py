"""End-to-end redis-envelope decode chain, oracle-checkable batch face.

Synthesizes reference-shaped envelopes (FIXTURES.md §3) from the
``customer`` table *inside the query* — customer JSON → base64 →
zSetEntries[0].element wrapper — then runs the engine's full decode
chain (``streaming.stedi.parse_redis_envelope`` + ``derive_birth_year``,
i.e. §3.1 steps 3-7). The oracle states the expected *final* output
directly, so the whole encode→decode→derive path is what's under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.sources.catalog import load_table
from udacity_dsnd_projects_spark.streaming.stedi import derive_birth_year, parse_redis_envelope


def _synthesize_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped rows per FIXTURES.md §3: customer JSON (fixture
    1.2) base64-wrapped as ``zSetEntries[0].element``, ``key`` =
    base64('Customer'), ``existType``='NONE', ``Ch``/``Incr`` false."""
    cust = load_table(spark, "customer", sf_dir)
    customer_json = F.to_json(
        F.struct(
            F.col("c_name").alias("customerName"),
            F.concat(F.lower(F.regexp_replace("c_name", "#", ".")), F.lit("@test.com")).alias(
                "email"
            ),
            F.lpad(F.col("c_custkey").cast("string"), 10, "8").alias("phone"),
            F.concat(
                (F.lit(1950) + F.col("c_custkey") % 50).cast("string"), F.lit("-01-03")
            ).alias("birthDay"),
        )
    )
    envelope_json = F.to_json(
        F.struct(
            F.base64(F.lit("Customer").cast("binary")).alias("key"),
            F.lit("NONE").alias("existType"),
            F.lit(False).alias("Ch"),
            F.lit(False).alias("Incr"),
            F.array(
                F.struct(
                    F.base64(customer_json.cast("binary")).alias("element"),
                    F.lit("0.0").alias("score"),
                )
            ).alias("zSetEntries"),
        )
    )
    return cust.select(
        F.col("c_custkey").cast("string").alias("key"), envelope_json.alias("value")
    )


def redis_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full chain: synthesize → parse envelope → unbase64 → parse
    customer → null-filter → birthYear (§3.1 steps 3-7)."""
    envelopes = _synthesize_envelopes(spark, sf_dir)
    return derive_birth_year(parse_redis_envelope(envelopes))


ORACLE_REDIS_ENVELOPE_DECODE = """
SELECT lower(replace(c_name, '#', '.')) || '@test.com' AS email,
       CAST(1950 + c_custkey % 50 AS VARCHAR) AS birthYear
FROM customer
"""
