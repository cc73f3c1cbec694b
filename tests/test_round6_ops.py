"""Round-6 operators: incremental IVF index maintenance.

The acceptance property from the design note: because the centroid set
is pinned at snapshot-build time, upserting only the new batch must be
ROW-IDENTICAL to rebuilding the whole index — and therefore any
retrieval over the upserted index equals retrieval over the rebuild.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions.pipeline import (
    assign_to_centroids,
    first_k_centroids,
)
from udacity_dsnd_projects_spark.functions.similarity import (
    _as_double,
    _dot,
    _norm,
    ivf_index_upsert,
    ivf_staleness_report,
    ivf_upsert,
)
from udacity_dsnd_projects_spark.sources.catalog import load_table


def _emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )


def _rebuilt(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return assign_to_centroids(emb, first_k_centroids(emb))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_upsert_equals_rebuild(spark, sf_dir):
    up = ivf_index_upsert(spark, sf_dir)
    rb = _rebuilt(spark, sf_dir)
    cols = ["vec_id", "cluster", "dist"]
    assert _rows(up, cols) == _rows(rb, cols)


def test_upsert_split_is_a_partition(spark, sf_dir):
    """Every vector lands in exactly one of snapshot/new, and the
    centroid seeds are all snapshot members (the pinning invariant)."""
    up = ivf_index_upsert(spark, sf_dir)
    n_total = _emb(spark, sf_dir).count()
    counts = dict(
        up.groupBy("src").count().rdd.map(lambda r: (r["src"], r["count"])).collect()
    )
    assert set(counts) == {"snapshot", "new"}
    assert counts["snapshot"] + counts["new"] == n_total
    assert up.filter((F.col("src") == "new") & (F.col("vec_id") < 8)).count() == 0


def _cluster_topk(index_df, emb, k=5):
    """Within-cluster cosine top-k retrieval over an IVF index frame:
    queries = the centroid-seed vectors, candidates = same-cluster
    members."""
    idx = index_df.join(emb, "vec_id")
    queries = idx.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("cluster").alias("qc"),
        F.col("v").alias("q"),
    )
    scored = idx.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn(
        "cosine",
        F.round(_dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))), 5),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "cosine", "rn")
    )


def test_retrieval_over_upsert_equals_rebuild(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    up = ivf_index_upsert(spark, sf_dir).select("vec_id", "cluster")
    rb = _rebuilt(spark, sf_dir).select("vec_id", "cluster")
    cols = ["query_id", "vec_id", "cosine", "rn"]
    assert _rows(_cluster_topk(up, emb), cols) == _rows(_cluster_topk(rb, emb), cols)


def test_staleness_report_consistency(spark, sf_dir):
    """Member counts in the drift readout reconcile with the index;
    drift is NULL exactly when a cluster received no new vectors."""
    rep = ivf_staleness_report(spark, sf_dir).collect()
    up = ivf_index_upsert(spark, sf_dir)
    by_cluster = {
        (r["cluster"], r["src"]): r["count"]
        for r in up.groupBy("cluster", "src").count().collect()
    }
    for r in rep:
        assert r["n_snapshot"] == by_cluster.get((r["cluster"], "snapshot"), 0)
        assert r["n_new"] == by_cluster.get((r["cluster"], "new"), 0)
        if r["n_new"] == 0:
            assert r["mean_dist_new"] is None and r["drift"] is None
        else:
            assert r["mean_dist_new"] is not None and r["drift"] is not None


def test_ivf_upsert_composable_face(spark, sf_dir):
    """ivf_upsert never touches the prior snapshot's rows: feeding it a
    tagged snapshot plus an empty batch returns the snapshot verbatim."""
    emb = _emb(spark, sf_dir)
    cents = first_k_centroids(emb)
    snap = assign_to_centroids(emb, cents).withColumn("src", F.lit("snapshot"))
    out = ivf_upsert(snap, emb.filter(F.lit(False)), cents)
    assert out.count() == snap.count()


# --------------------------------------------------------------------------
# Twin-face plan equality (VERDICT r5 item 6)
# --------------------------------------------------------------------------
def _normalized_plan(df) -> str:
    """Optimized logical plan with expression ids stripped, so two
    plans that differ only in exprId allocation compare equal."""
    import re

    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_grouping_sets_twin_faces_plan_identical(spark, sf_dir):
    from udacity_dsnd_projects_spark.operators.aggregations import (
        grouping_sets_agg,
        grouping_sets_agg_df,
    )

    sql_face = grouping_sets_agg(spark, sf_dir)
    df_face = grouping_sets_agg_df(spark, sf_dir)
    assert _normalized_plan(sql_face) == _normalized_plan(df_face)
    assert sorted(map(tuple, sql_face.collect())) == sorted(
        map(tuple, df_face.collect())
    )


def test_unpivot_twin_faces_plan_identical(spark, sf_dir):
    from udacity_dsnd_projects_spark.operators.aggregations import (
        unpivot_agg,
        unpivot_agg_sql,
    )

    df_face = unpivot_agg(spark, sf_dir)
    sql_face = unpivot_agg_sql(spark, sf_dir)
    assert _normalized_plan(df_face) == _normalized_plan(sql_face)
    assert sorted(map(tuple, df_face.collect())) == sorted(
        map(tuple, sql_face.collect())
    )


# --------------------------------------------------------------------------
# Label-noise + drift monitors
# --------------------------------------------------------------------------
def test_knn_label_agreement_reconciles_with_graph(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.similarity import (
        knn_graph,
        knn_label_agreement,
    )

    rep = knn_label_agreement(spark, sf_dir)
    rows = rep.collect()
    deg = {
        r["vec_id"]: r["count"]
        for r in knn_graph(spark, sf_dir).groupBy("vec_id").count().collect()
    }
    assert {r["vec_id"] for r in rows} == set(deg)
    for r in rows:
        assert r["n_nbrs"] == deg[r["vec_id"]]
        assert 0 <= r["n_same"] <= r["n_nbrs"]
        assert abs(r["agreement"] - round(r["n_same"] / r["n_nbrs"], 6)) < 1e-12
        assert r["suspect"] == int(r["agreement"] < 0.5)


def test_embedding_drift_by_source_consistency(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.similarity import (
        embedding_drift_by_source,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    rep = embedding_drift_by_source(spark, sf_dir).collect()
    n_corpus = load_table(spark, "embeddings", sf_dir).count()
    assert sum(r["n_vecs"] for r in rep) == n_corpus
    for r in rep:
        assert -1.0 <= r["cosine_to_global"] <= 1.0
        assert r["l2_to_global"] >= 0.0


def test_embedding_drift_single_scan(spark, sf_dir):
    """The global rollup reuses the per-source partials: the executed
    plan must contain exactly one embeddings parquet scan."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        embedding_drift_by_source,
    )

    plan = (
        embedding_drift_by_source(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("embeddings.parquet") <= 1


# --------------------------------------------------------------------------
# Tokenizer induction + split contamination
# --------------------------------------------------------------------------
def test_bpe_pair_counts_shape(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_TOP_PAIRS,
        bpe_pair_counts,
    )

    rows = bpe_pair_counts(spark, sf_dir).orderBy("rank").collect()
    assert 0 < len(rows) <= BPE_TOP_PAIRS
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["n_occurrences"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r["pair"]) == 2 and " " not in r["pair"] for r in rows)


def test_ivf_upsert_plan_is_shuffle_free(spark, sf_dir):
    """The whole incremental index path — snapshot assign, new-batch
    assign, union — is projections over scans: no Exchange anywhere
    (the centroids are inlined literals, the union is metadata)."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        ivf_index_upsert,
    )

    plan = (
        ivf_index_upsert(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
