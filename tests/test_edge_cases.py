"""Degenerate-input robustness: empty frames, all-short documents, and
keys with no matches must yield empty results — never errors. These are
the shapes a 100 TB run hits constantly (empty partitions after a
filter, short/garbage documents) and the easiest way to lose a job at
hour six."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_shingles_on_short_and_empty_docs(spark):
    from udacity_dsnd_projects_spark.functions.dedup import _shingled_docs

    docs = spark.createDataFrame(
        [(1, "one two", "en"), (2, "", "en"), (3, None, "en"), (4, "a b c d", "en")],
        DOC_SCHEMA,
    )
    got = _shingled_docs(docs).collect()
    # only doc 4 has >= 3 tokens; null/empty/short are dropped, not errors
    assert [r.doc_id for r in got] == [4]
    assert len(got[0].sh) == 2


def test_lsh_pairs_on_empty_and_singleton_corpus(spark):
    from udacity_dsnd_projects_spark.functions.dedup import lsh_pairs_for

    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert lsh_pairs_for(empty).count() == 0
    one = spark.createDataFrame([(1, "a b c d e f", "en")], DOC_SCHEMA)
    assert lsh_pairs_for(one).count() == 0  # no pair without a partner


def test_salted_join_empty_sides(spark):
    from udacity_dsnd_projects_spark.operators.skew import salted_join

    fact = spark.range(5).select(F.col("id").alias("k"))
    empty_dim = spark.createDataFrame([], "k LONG, v STRING")
    assert salted_join(fact, empty_dim, "k").count() == 0
    assert salted_join(fact, empty_dim, "k", how="left").count() == 5


def test_asof_with_no_left_side_rows(spark):
    """Events whose key has no orders at all (not just none earlier)
    disappear from the inner as-of result."""
    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 99, base)],
        "event_id LONG, k LONG, ts TIMESTAMP",
    )
    orders = spark.createDataFrame([], "order_id LONG, k LONG, ot TIMESTAMP")
    ord_side = orders.select(
        "k", F.col("ot").alias("t"), F.lit(0).alias("is_event"),
        F.struct("ot", "order_id").alias("o"),
    )
    ev_side = ev.select("k", F.col("ts").alias("t"), F.lit(1).alias("is_event"), "event_id")
    tl = ord_side.unionByName(ev_side, allowMissingColumns=True)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        tl.withColumn("asof", F.last("o", ignorenulls=True).over(w))
        .filter((F.col("is_event") == 1) & F.col("asof").isNotNull())
    )
    assert out.count() == 0


def test_exact_rank_and_cumsum_degenerate_inputs(spark):
    """Empty frames and constant order columns must rank cleanly (the
    quantile sketch returns no boundaries in both cases) — never
    error. Empty partitions after a filter are routine at scale."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_cumsum,
        exact_group_rank,
    )

    schema = "g STRING, x LONG, id LONG, v LONG"
    empty = spark.createDataFrame([], schema)
    assert exact_group_rank(empty, ["g"], "x", ["id"], rank_col="rk").count() == 0
    assert (
        exact_group_cumsum(empty, ["g"], "x", ["id"], "v", cumsum_col="cs").count()
        == 0
    )
    # constant order column: ranks fall back to the tiebreak order
    same = spark.createDataFrame(
        [("a", 5, i, 2) for i in range(10)], schema
    )
    ranked = {
        r["id"]: r["rk"]
        for r in exact_group_rank(same, ["g"], "x", ["id"], rank_col="rk").collect()
    }
    assert ranked == {i: i + 1 for i in range(10)}
    summed = {
        r["id"]: r["cs"]
        for r in exact_group_cumsum(
            same, ["g"], "x", ["id"], "v", cumsum_col="cs"
        ).collect()
    }
    assert summed == {i: 2 * (i + 1) for i in range(10)}


@pytest.mark.slow  # ~14 s adversarial sweep; full-suite only
def test_exact_rank_property_random_frames(spark):
    """Property check: exact_group_rank / exact_group_cumsum reproduce
    the window functions bit-for-bit on adversarial frames — NULL group
    keys, heavy duplicate order values, single-element groups, skewed
    group sizes, ascending and descending — across bucket counts that
    force multi-bucket splits."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_cumsum,
        exact_group_rank,
    )

    rng = random.Random(20260814)
    groups = ["a", "b", None, "c"]
    rows = [
        (
            rng.choice(groups),
            float(rng.choice([1, 1, 2, 5, 5, 5, 9, 100])),  # heavy ties
            i,
            rng.randint(0, 50),
        )
        for i in range(300)
    ] + [("solo", 42.0, 999, 7)]  # single-element group
    df = spark.createDataFrame(rows, "g string, v double, id long, val long")

    for descending in (False, True):
        for n_buckets in (2, 7, 64):
            got = exact_group_rank(
                df,
                ["g"],
                "v",
                ["id"],
                descending=descending,
                n_buckets=n_buckets,
                rank_col="rk",
                count_col="n",
            )
            order = [F.col("v").desc() if descending else F.col("v").asc(), "id"]
            w = Window.partitionBy("g").orderBy(*order)
            want = df.withColumn("rk", F.row_number().over(w).cast("long")).withColumn(
                "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
            )
            assert set(map(tuple, got.collect())) == set(map(tuple, want.collect())), (
                descending,
                n_buckets,
            )

    for n_buckets in (2, 64):
        got = exact_group_cumsum(
            df, ["g"], "v", ["id"], "val", n_buckets=n_buckets, cumsum_col="cs"
        )
        w = (
            Window.partitionBy("g")
            .orderBy(F.col("v").asc(), F.col("id").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = df.withColumn("cs", F.sum("val").over(w).cast("long"))
        assert set(map(tuple, got.collect())) == set(map(tuple, want.collect())), n_buckets
