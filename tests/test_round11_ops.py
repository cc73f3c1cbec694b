"""Round-11 tests: the layout-aware dedup-substrate spread (VERDICT
r10 task 2), the injectable-benchmark contamination faces (task 3),
and state-schema versioning for
the stateful streaming faces (task 7)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import dedup as d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _corpus(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} tail {i % 7}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# --------------------------------------------------------------------------
# Task 2 — layout-aware spread: the text-sized repartition must fire in
# the few-splits regime and vanish in the many-splits regime, with
# bit-identical results either way.
# --------------------------------------------------------------------------


def test_spread_fires_on_underparallel_layout(spark):
    docs = _corpus(spark).coalesce(1)  # the few-large-files regime
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        plan = _plan(substrate(docs))
        spreads = re.findall(r"Exchange hashpartitioning\(doc_id#\d+", plan)
        assert len(spreads) == 1, (substrate.__name__, plan)


def test_spread_skipped_on_parallel_layout(spark):
    n = spark.sparkContext.defaultParallelism
    docs = _corpus(spark).repartition(n + 8)  # the many-splits regime
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        plan = _plan(substrate(docs))
        assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+", plan), (
            substrate.__name__,
            plan,
        )


def test_spread_regimes_bit_identical(spark):
    few = _corpus(spark).coalesce(1)
    many = _corpus(spark).repartition(spark.sparkContext.defaultParallelism + 8)
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        a = {
            tuple(r)
            for r in substrate(few)
            .select("doc_id", F.to_json(F.struct("*")).alias("j"))
            .collect()
        }
        b = {
            tuple(r)
            for r in substrate(many)
            .select("doc_id", F.to_json(F.struct("*")).alias("j"))
            .collect()
        }
        assert a == b, substrate.__name__


# --------------------------------------------------------------------------
# Task 3 — injectable-benchmark contamination faces: the registry
# queries keep the % mod instantiation; a real eval table goes through
# the *_against faces.
# --------------------------------------------------------------------------


def test_ngram_contamination_against_crafted_benchmark(spark):
    from udacity_dsnd_projects_spark.functions.pipeline import (
        ngram_contamination_against,
    )

    leaked = "the exact eval question about spark shuffles appears verbatim here"
    corpus = spark.createDataFrame(
        [
            (1, leaked),
            (2, "totally unrelated prose with no overlap at all whatsoever today"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(900, "prefix words then the exact eval question about spark shuffles")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in ngram_contamination_against(corpus, bench).collect()}
    assert set(rows) == {1}  # only the leaked doc is emitted
    assert rows[1].n_contaminated >= 1
    assert 0 < rows[1].contamination <= 1


def test_ngram_contamination_registry_face_unchanged(spark, sf_dir):
    """contamination_for == ngram_contamination_against(% mod split):
    the refactor may not move the registry face's results."""
    from udacity_dsnd_projects_spark.functions import pipeline as p
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    via_wrapper = {tuple(r) for r in p.contamination_for(docs).collect()}
    via_face = {
        tuple(r)
        for r in p.ngram_contamination_against(
            docs.filter(F.col("doc_id") % p.BENCH_MOD != 0),
            docs.filter(F.col("doc_id") % p.BENCH_MOD == 0),
        ).collect()
    }
    assert via_wrapper == via_face and via_wrapper


def test_semantic_contamination_against_crafted_benchmark(spark):
    from udacity_dsnd_projects_spark.functions.similarity import (
        semantic_contamination_against,
    )

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    near1 = [0.9, 0.1] + [0.0] * (dim - 2)
    corpus = spark.createDataFrame(
        [(1, near1), (2, e2), (3, [0.0, 0.1, 0.9] + [0.0] * (dim - 3))],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame([(100, e1)], ["bench_id", "embedding"])
    rows = {r.vec_id: r for r in semantic_contamination_against(corpus, bench).collect()}
    assert set(rows) == {1, 2, 3}  # report covers every corpus vector
    assert all(r.bench_id == 100 for r in rows.values())
    # vec 1 is ~aligned with the benchmark; 2 and 3 are ~orthogonal —
    # the scale-relative flag (>= 2x mean top-1 cosine) fires on 1 only
    assert rows[1].contaminated == 1
    assert rows[2].contaminated == 0 and rows[3].contaminated == 0


# --------------------------------------------------------------------------
# Task 7 — state-schema versioning: a restart from a checkpoint written
# by a different state-tuple layout must fail LOUDLY on the version
# stamp, never misdecode shifted fields.
# --------------------------------------------------------------------------


def test_stateful_state_version_bump_fails_loudly(
    spark, tmp_path_factory, monkeypatch
):
    import datetime as dt

    import pytest
    from pyspark.sql import types as T

    from udacity_dsnd_projects_spark.streaming import stateful as sf_mod
    from udacity_dsnd_projects_spark.streaming.sources import file_stream

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tmp_path_factory.mktemp("ver_bump")
    path, ckpt, sink = str(root / "events"), str(root / "ckpt"), str(root / "out")

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    def run(name):
        # parquet sink, not memory: the memory sink refuses checkpoint
        # recovery, and recovery is exactly what's under test
        q = (
            sf_mod.transition_stateful(file_stream(spark, path, schema, max_files_per_trigger=1))
            .writeStream.format("parquet")
            .queryName(name)
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(
        [(1, t(10), 1, "view"), (1, t(20), 2, "click")], schema
    ).coalesce(1).write.mode("append").parquet(path)
    run("ver_bump_v_current")  # persists state stamped with the live VER

    # new data for the same key, decoded by "upgraded" code with a
    # bumped state version
    spark.createDataFrame([(1, t(30), 3, "purchase")], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    monkeypatch.setattr(
        sf_mod, "TRANSITION_STATE_VER", sf_mod.TRANSITION_STATE_VER + 1
    )
    with pytest.raises(Exception, match="state-schema version mismatch"):
        run("ver_bump_v_next")


# --------------------------------------------------------------------------
# Round-11 new operators: k-anonymized release.
# --------------------------------------------------------------------------


def test_k_anonymize_release_reconciles_and_suppresses(spark, sf_dir):
    """Published groups all have k >= threshold; the residual row
    carries exactly the suppressed mass; totals reconcile with the
    raw QI group table."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        K_ANON_THRESHOLD,
        k_anonymize_release,
        _bal_band,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    rel = k_anonymize_release(spark, sf_dir).collect()
    pub = [r for r in rel if r.suppressed == 0]
    res = [r for r in rel if r.suppressed == 1]
    assert all(r.n_rows >= K_ANON_THRESHOLD for r in pub)
    assert all(
        r.c_nationkey is not None and r.bal_band is not None for r in pub
    )
    cust = load_table(spark, "customer", sf_dir)
    g = (
        cust.groupBy("c_nationkey", "c_mktsegment", _bal_band().alias("b"))
        .count()
        .collect()
    )
    small = [r for r in g if r["count"] < K_ANON_THRESHOLD]
    if small:
        assert len(res) == 1
        assert res[0].c_nationkey is None and res[0].bal_band is None
        assert res[0].n_rows == sum(r["count"] for r in small)
        assert res[0].n_groups == len(small)
    else:
        assert res == []
    assert sum(r.n_rows for r in rel) == cust.count()


def test_ivf_probe_sweep_monotone_and_consistent(spark, sf_dir):
    """Deeper probing can only add candidates, so both the scan cost
    and the recall are non-decreasing in depth; the deepest row must
    reproduce ann_recall_report's micro-averaged recall exactly."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        PROBE_HAMMING,
        TOP_K,
        ann_recall_report,
        ivf_probe_sweep,
    )

    rows = sorted(
        ivf_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r.probe_hamming,
    )
    assert [r.probe_hamming for r in rows] == list(range(PROBE_HAMMING + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.n_hits >= a.n_hits
    deep = rows[-1]
    rec = ann_recall_report(spark, sf_dir).collect()
    assert deep.n_hits == sum(r.n_hits for r in rec)
    assert deep.mean_recall == round(
        sum(r.n_hits for r in rec) / (len(rec) * TOP_K), 6
    )
