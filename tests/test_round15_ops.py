"""Round-15 tests: the chunk-spine invariants VERDICT r14 asked to
pin — ``n_units`` as a pure function of ``chunk_hash`` (task 4) — the
ADVICE r14 fix to shard_packed_chunks' integer-DIV position, the
curriculum pack order, and the local-frame builder."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------------------
# VERDICT r14 task 4 — chunk_dedup_frame reduces n_units with min() on
# the comment-level claim "identical words → identical count". Pin the
# claim itself: if a future face ever makes n_units depend on anything
# outside chunk_hash, this fails loudly instead of being silently
# min'd (the accounting gate would only catch the sum-level effect).
# --------------------------------------------------------------------------


def test_chunk_units_are_pure_function_of_hash(spark, sf_dir):
    """Over the real corpus: every chunk_hash group in the raw chunk
    frame carries exactly one distinct n_units value (min == max)."""
    from udacity_dsnd_projects_spark.functions.text import bpe_encode_chunks

    drift = (
        bpe_encode_chunks(spark, sf_dir)
        .groupBy("chunk_hash")
        .agg(
            F.min("n_units").alias("lo"),
            F.max("n_units").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("lo") != F.col("hi"))
    )
    assert drift.count() == 0, drift.limit(5).collect()


def test_chunk_units_invariant_on_planted_duplicates(spark, tmp_path):
    """The invariant on a corpus DESIGNED to stress it: the same chunk
    content planted across documents of different langs/sources and in
    documents of different total length must still agree on n_units."""
    from udacity_dsnd_projects_spark.functions.text import encode_chunks_frame

    boiler = "standard footer text repeated on every page"
    rows = [
        (0, boiler, "en", "web"),
        (1, boiler, "fr", "books"),
        (2, boiler + " plus a unique continuation here", "en", "web"),
        (3, boiler, "de", "news"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    chunks = encode_chunks_frame(docs, [("s", "t", 0), ("st", "a", 0)])
    agg = (
        chunks.groupBy("chunk_hash")
        .agg(F.min("n_units").alias("lo"), F.max("n_units").alias("hi"))
        .collect()
    )
    assert agg and all(r["lo"] == r["hi"] for r in agg)


# --------------------------------------------------------------------------
# VERDICT r14 task 5 — curriculum ordering over the packed bins: the
# chunk spine's ordering policy (documents → chunks → dedup → pack →
# order), curriculum_order's NTILE recipe at sequence granularity.
# --------------------------------------------------------------------------


def test_curriculum_pack_order_phases_and_positions(spark, sf_dir):
    """Every packed bin appears exactly once; phases partition the
    bins into CURRICULUM_PHASES NTILE-sized groups ordered
    easy-to-hard by max_units; positions are a 1..n permutation inside
    each phase; and a rerun is bit-identical (no RNG state)."""
    from collections import Counter

    from udacity_dsnd_projects_spark.functions.text import (
        curriculum_pack_order,
        pack_deduped_chunks,
    )
    from udacity_dsnd_projects_spark.functions.training import (
        CURRICULUM_PHASES,
    )

    packed = pack_deduped_chunks(spark, sf_dir).collect()
    rows = curriculum_pack_order(spark, sf_dir).collect()
    assert sorted(r["bin"] for r in rows) == sorted({r["bin"] for r in packed})
    # NTILE sizing: phase sizes differ by at most 1, earlier phases
    # take the remainder
    per = Counter(r["phase"] for r in rows)
    n = len(rows)
    k = min(CURRICULUM_PHASES, n)
    assert sorted(per) == list(range(1, k + 1))
    for ph, cnt in per.items():
        assert cnt == n // CURRICULUM_PHASES + (
            1 if ph <= n % CURRICULUM_PHASES else 0
        )
    # easy-to-hard: every bin in phase p has max_units <= every bin in
    # phase p+1 (up to NTILE's boundary ties broken by bin id)
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r["phase"], []).append(r["max_units"])
    phases = sorted(by_phase)
    for a, b in zip(phases, phases[1:]):
        assert max(by_phase[a]) <= min(by_phase[b]) or sorted(
            by_phase[a]
        )[-1] == sorted(by_phase[b])[0]
    # positions: 1..len permutation per phase
    pos = {}
    for r in rows:
        pos.setdefault(r["phase"], []).append(r["position"])
    for ph, ps in pos.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # deterministic
    again = curriculum_pack_order(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_curriculum_pack_order_matches_oracle(spark, sf_dir, duck):
    """Full value agreement with the DuckDB oracle at the test SF —
    the same compare the driver runs."""
    from udacity_dsnd_projects_spark.functions.text import (
        ORACLE_CURRICULUM_PACK_ORDER,
        curriculum_pack_order,
    )

    sdf = curriculum_pack_order(spark, sf_dir).toPandas()
    ddf = duck.sql(ORACLE_CURRICULUM_PACK_ORDER).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    a = sorted(map(tuple, sdf[cols].itertuples(index=False, name=None)))
    b = sorted(map(tuple, ddf[cols].itertuples(index=False, name=None)))
    assert a == b


def test_curriculum_pack_order_rides_checkpointed_frames(spark, sf_dir):
    """The consumable plan must read only materialized checkpoints
    (the packer's keeper frame and the one-row-per-bin phase frame) —
    a parquet scan anywhere in the plan tree would mean the training
    fold or the pack machinery re-runs under the position pass's
    triple scan (the packer's single-materialization doctrine extended
    to the scheduler)."""
    from tests.test_round14_ops import _preorder_node_names
    from udacity_dsnd_projects_spark.functions.text import (
        curriculum_pack_order,
    )

    names = _preorder_node_names(
        curriculum_pack_order(spark, sf_dir)._jdf.queryExecution().executedPlan()
    )
    scans = [n for n in names if "Scan" in n]
    assert scans and any("ExistingRDD" in n for n in scans), scans
    assert not any("parquet" in n.lower() or "FileScan" in n for n in scans), scans


def test_curriculum_pack_order_fewer_bins_than_phases(
    spark, tmp_path_factory
):
    """NTILE's n<k edge: a corpus packing into fewer bins than
    CURRICULUM_PHASES must still agree with the DuckDB oracle —
    each bin becomes its own phase (SQL NTILE semantics), positions
    all 1."""
    import duckdb

    from udacity_dsnd_projects_spark.functions.text import (
        ORACLE_CURRICULUM_PACK_ORDER,
        curriculum_pack_order,
    )
    from udacity_dsnd_projects_spark.functions.training import (
        CURRICULUM_PHASES,
    )

    d = tmp_path_factory.mktemp("tinybins")
    rows = [
        (0, "alpha beta gamma delta", "en", "web", 22),
        (1, "epsilon zeta eta theta", "en", "web", 22),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    sdf = curriculum_pack_order(spark, str(d)).toPandas()
    n_bins = len(sdf)
    assert 0 < n_bins < CURRICULUM_PHASES
    assert sorted(sdf["phase"]) == list(range(1, n_bins + 1))
    assert set(sdf["position"]) == {1}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    ddf = con.sql(ORACLE_CURRICULUM_PACK_ORDER).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    assert sorted(map(tuple, sdf[cols].itertuples(index=False, name=None))) == sorted(
        map(tuple, ddf[cols].itertuples(index=False, name=None))
    )


def test_curriculum_pack_order_empty_corpus(spark, tmp_path_factory):
    """The ordering face survives an empty chunk frame (the writer
    trio's degenerate contract extends to the scheduler)."""
    from udacity_dsnd_projects_spark.functions.text import (
        curriculum_pack_order,
    )

    d = tmp_path_factory.mktemp("noword2")
    spark.createDataFrame(
        [(0, "  ", "en", "web", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    assert curriculum_pack_order(spark, str(d)).count() == 0


# --------------------------------------------------------------------------
# Round-15 OPTIMIZATION pins: driver-local metadata frames must be JVM
# literal relations (operators/localframe.py), never pickled Python
# RDDs — a createDataFrame offsets frame launches one Python-worker
# task per defaultParallelism partition on every action (measured:
# 31/32 task threads blocked in SparkEnv.createPythonWorker inside
# curriculum_pack_order's broadcast builds).
# --------------------------------------------------------------------------


def test_local_frame_equals_createdataframe(spark):
    """Value/schema equality with createDataFrame on typed rows,
    nulls included, plus the empty-frame case."""
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("o", T.LongType()),
        ]
    )
    rows = [("x", 1.5, 3), (None, 2.0, 0), ("y", None, None)]
    lf = local_frame(spark, rows, schema)
    cf = spark.createDataFrame(rows, schema)
    assert lf.schema == cf.schema
    key = lambda t: tuple(map(str, t))  # None-safe sort
    assert sorted(map(tuple, lf.collect()), key=key) == sorted(
        map(tuple, cf.collect()), key=key
    )
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0


def test_local_frame_plan_has_no_python_stage(spark):
    """The literal relation's physical plan must contain no Python
    evaluation or RDD scan node — that is the whole point."""
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    lf = local_frame(spark, [(1, "a")], "k long, v string")
    plan = lf._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "ExistingRDD", "PythonRDD"):
        assert bad not in plan, plan


def test_rank_offsets_join_has_no_python_stage(spark, sf_dir):
    """exact_group_rank's broadcast offsets side rides the literal
    relation: the whole ranked plan is Python-free."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", F.col("l_linenumber").cast("long").alias("ln")
    )
    ranked = exact_group_rank(
        li, ["ln"], "l_extendedprice", ["l_orderkey"], rank_col="rk"
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonRDD"):
        assert bad not in plan, plan
    # and the rank values still match the window-function reference
    from pyspark.sql import Window

    w = Window.partitionBy("ln").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_orderkey").asc()
    )
    ref = li.withColumn("rk2", F.row_number().over(w))
    bad_rows = (
        ranked.join(ref, ["ln", "l_orderkey", "l_extendedprice"])
        .filter(F.col("rk") != F.col("rk2"))
        .count()
    )
    assert bad_rows == 0

