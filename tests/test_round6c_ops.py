"""Round-6 third-wave operators: quantization error, label separation,
the exact-rank ntile, the chunked transition stream and the dedup
method agreement.

Oracle equality runs via the registry parameterization in
tests/test_queries.py; these pin oracle-independent properties.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --- quantization_error_report ---------------------------------------------
def test_quantization_error_honors_theoretical_bound(spark):
    """Int8 min-max quantization can be off by at most HALF a step per
    element: (hi - lo)/255/2. Verify the reported worst error against
    the per-vector bound computed independently."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        _as_double,
        quantization_error_report,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    bound = (
        load_table(spark, "embeddings", SF)
        .select(_as_double(F.col("embedding")).alias("v"))
        .select(
            ((F.array_max("v") - F.array_min("v")) / 255.0 / 2.0).alias("b")
        )
        .agg(F.max("b"))
        .first()[0]
    )
    rows = quantization_error_report(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.mean_mean_abs_err <= r.mean_max_abs_err + 1e-9
        assert r.mean_max_abs_err <= r.worst_abs_err + 1e-9
        assert r.worst_abs_err <= bound * (1 + 1e-9) + 1e-9


# --- label_separation_report -----------------------------------------------
def test_label_separation_geometry(spark):
    from udacity_dsnd_projects_spark.functions.similarity import (
        label_separation_report,
    )

    rows = label_separation_report(spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.n_vecs > 0
        assert r.within_dist >= 0.0
        assert r.between_dist >= 0.0
        if r.separation is not None:
            assert r.separation >= 0.0
            assert abs(r.separation - r.between_dist / r.within_dist) < 1e-4


# --- ntile_from_rank equivalence -------------------------------------------
def test_ntile_from_rank_equals_window_ntile(spark):
    """ntile_from_rank must be bit-for-bit the window function's
    assignment for every (n, k) shape — ragged remainders included.
    The curriculum phases ride on this."""
    from pyspark.sql import Window

    from udacity_dsnd_projects_spark.operators.ranks import ntile_from_rank

    rows = []
    for gi, n in enumerate([1, 2, 3, 4, 5, 7, 8, 97, 100, 103]):
        rows.extend((gi, i) for i in range(1, n + 1))
    df = spark.createDataFrame(rows, "g INT, x INT")
    w = Window.partitionBy("g").orderBy("x")
    for k in (2, 3, 4, 7):
        got = (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))
            .select(
                "g",
                "x",
                ntile_from_rank(F.col("rk"), F.col("n"), k).alias("mine"),
                F.ntile(k).over(w).alias("theirs"),
            )
            .filter(F.col("mine") != F.col("theirs"))
            .count()
        )
        assert got == 0, f"NTILE({k}) mismatch on {got} rows"


# --- transition_stateful under Arrow chunk splitting -----------------------
def test_transition_stream_survives_chunked_groups(spark, tmp_path_factory):
    """A group whose rows exceed arrow.maxRecordsPerBatch arrives as
    SEVERAL pandas chunks; the operator must concatenate + sort ONCE
    or boundary transitions corrupt. Force 4-row chunks and replay one
    user with 20 events."""
    from pyspark.sql import types as T

    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_to_memory,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import transition_stateful

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        root = tmp_path_factory.mktemp("transchunk")
        path = str(root / "events")
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        )
        import datetime as dt

        base = dt.datetime(2024, 3, 1)
        types = ["a", "b", "c", "d"]
        rows = [
            (7, base + dt.timedelta(minutes=i), i, types[i % 4])
            for i in range(20)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        got = run_to_memory(
            transition_stateful(file_stream(spark, path, schema, max_files_per_trigger=1)),
            "trans_chunked",
        ).collect()
        # 19 transitions in exact event order: a>b, b>c, c>d, d>a, ...
        assert len(got) == 19
        pairs = {(r.prev_type, r.next_type) for r in got}
        want = {(types[i % 4], types[(i + 1) % 4]) for i in range(19)}
        assert pairs == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


# --- dedup_method_agreement ------------------------------------------------
def test_method_agreement_accounting(spark):
    """The 1-row set comparison must be internally consistent and the
    two methods must actually overlap on the planted corpus."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        dedup_method_agreement,
        minhash_lsh_pairs,
        simhash_near_dup_pairs,
    )

    r = dedup_method_agreement(spark, SF).first()
    assert r.n_minhash == minhash_lsh_pairs(spark, SF).count()
    assert r.n_simhash == simhash_near_dup_pairs(spark, SF).count()
    assert 0 < r.n_both <= min(r.n_minhash, r.n_simhash)
    union = r.n_minhash + r.n_simhash - r.n_both
    assert abs(r.agreement_jaccard - r.n_both / union) < 1e-5
    assert (
        abs(
            r.agreement_jaccard
            + r.minhash_only_share
            + r.simhash_only_share
            - 1.0
        )
        < 3e-6
    )
