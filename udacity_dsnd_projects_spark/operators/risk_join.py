"""Flagship pipeline: the STEDI risk join, batch face.

Re-expresses the reference's flagship streaming query
(``spark-streaming-pipeline/sparkpykafkajoin.py`` — SURVEY.md §3.1) on
the driver corpus:

    parse JSON payload (P2)  → filter nulls (P6) → derive field via
    split/getItem (F1) → inner equi-join (J1) → project

The Kafka-shaped ``to_json`` output (F2) is the streaming face's
``streaming.sources.to_kafka_shape``.

Corpus role mapping (FIXTURES.md §2): ``events`` plays ``stedi-events``
(``user_id`` ≅ ``customer``, ``value`` ≅ ``score``, ``props`` exercises
the JSON-parse chain), ``customer`` plays the Redis customer records
(``c_custkey`` ≅ ``email`` join key, ``split(c_name,'#')[1]`` ≅
``split(birthDay,'-')[0] AS birthYear``).

Scale notes: ``customer`` is a dimension — broadcast it so the join is
shuffle-free on the fact side; the null filters and the 4-column
projection sit before the join so parquet scans read only what's needed
(Catalyst pushes them down; verified via ``explain("formatted")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.schemas import EVENT_PROPS
from udacity_dsnd_projects_spark.sources.catalog import load_table


def customer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer side — mirrors sparkpykafkajoin.py:75-105 (decode →
    parse → null-filter → split-derive)."""
    return (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_name").isNotNull() & F.col("c_acctbal").isNotNull())
        .select(
            F.col("c_custkey"),
            F.col("c_name").alias("name"),
            # birthYear analog: split on '#', take item 1 (F1)
            F.split(F.col("c_name"), "#").getItem(1).alias("cust_num"),
        )
    )


def risk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk side — mirrors sparkpykafkajoin.py:107-125 (cast → from_json
    → flatten → project customer, score)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.withColumn("p", F.from_json(F.col("props"), EVENT_PROPS))
        .filter(F.col("props").isNotNull())
        .select(
            F.col("user_id").alias("customer"),
            F.col("value").alias("score"),
            F.col("p.k").alias("k"),
        )
    )


def risk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join itself — sparkpykafkajoin.py:128-130, batch face.

    Inner equi-join; the dimension side is broadcast (J1 + J2). Column
    names are stable aliases for the oracle comparison.
    """
    risks = risk_events(spark, sf_dir)
    custs = customer_records(spark, sf_dir)
    return (
        risks.join(F.broadcast(custs), risks["customer"] == custs["c_custkey"], "inner")
        .select("customer", "score", "k", "name", "cust_num")
    )


def risk_join_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same flagship query through the SQL API — the reference
    builds this pipeline as temp views + ``spark.sql`` strings
    (``sparkpykafkajoin.py:77-97``: ``createOrReplaceTempView`` then
    SQL over the view). Identical logical plan to :func:`risk_join`
    after analysis (views are just named plan fragments in the session
    catalog), so Catalyst optimizes both the same way; the oracle is
    shared."""
    load_table(spark, "events", sf_dir).createOrReplaceTempView("rj_events")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("rj_customer")
    spark.sql(
        """
        SELECT user_id AS customer, value AS score,
               from_json(props, 'k INT').k AS k
        FROM rj_events WHERE props IS NOT NULL
        """
    ).createOrReplaceTempView("rj_risks")
    spark.sql(
        """
        SELECT c_custkey, c_name AS name, split(c_name, '#')[1] AS cust_num
        FROM rj_customer
        WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
        """
    ).createOrReplaceTempView("rj_custs")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c) */ customer, score, k, name, cust_num
        FROM rj_risks r JOIN rj_custs c ON r.customer = c.c_custkey
        """
    )


ORACLE_RISK_JOIN = """
SELECT e.user_id AS customer,
       e.value AS score,
       CAST(json_extract_string(e.props, '$.k') AS INTEGER) AS k,
       c.c_name AS name,
       split_part(c.c_name, '#', 2) AS cust_num
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
WHERE e.props IS NOT NULL
  AND c.c_name IS NOT NULL AND c.c_acctbal IS NOT NULL
"""
