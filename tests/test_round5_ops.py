"""Behavioral tests for the round-5 additions: fuzzy block cap,
null-safe exact ranks, mixture-sample materialization, incremental
dedup, and the lang_zscore_pandas stratum guard. (Oracle equivalence
for every registered face is in test_queries.py.)"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# fuzzy_name_pairs block cap
# --------------------------------------------------------------------------
def test_fuzzy_oversized_block_capped_not_exploded(spark, sf_dir, monkeypatch):
    from udacity_dsnd_projects_spark.operators import joins as j

    sizes = {
        r["block"]: r["n"]
        for r in j._distinct_blocked_names(spark, sf_dir)
        .groupBy("block")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # cap below the biggest block: that block must be DROPPED (capped),
    # never expanded, and reported by the observability face
    cap = max(sizes.values()) - 1
    monkeypatch.setattr(j, "FUZZY_MAX_BLOCK", cap)
    over = {r["block"]: r["n_names"] for r in j.oversize_name_blocks(spark, sf_dir).collect()}
    assert over == {b: n for b, n in sizes.items() if n > cap}
    pair_blocks = {
        r["name_a"].rsplit(" ", 1)[-1]
        for r in j.fuzzy_name_pairs(spark, sf_dir).collect()
    }
    assert pair_blocks.isdisjoint(over)


def test_fuzzy_default_cap_drops_nothing(spark, sf_dir):
    from udacity_dsnd_projects_spark.operators import joins as j

    assert j.oversize_name_blocks(spark, sf_dir).count() == 0
    assert j.fuzzy_name_pairs(spark, sf_dir).count() > 0


# --------------------------------------------------------------------------
# exact_group_rank / exact_group_cumsum with NULL group keys
# --------------------------------------------------------------------------
def test_exact_group_rank_preserves_null_groups(spark):
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    rows = [
        (None, 5.0, 1),
        (None, 3.0, 2),
        ("a", 7.0, 3),
        ("a", 1.0, 4),
        (None, 4.0, 5),
        ("b", 2.0, 6),
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    got = exact_group_rank(df, ["g"], "v", ["id"], rank_col="rk", n_buckets=4)
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.withColumn("rk", F.row_number().over(w).cast("long"))
    assert set(map(tuple, got.collect())) == set(map(tuple, want.collect()))
    assert got.count() == len(rows)  # no row lost to a null-unsafe join


def test_exact_group_cumsum_preserves_null_groups(spark):
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_cumsum

    rows = [(None, 1.0, 10), (None, 2.0, 20), ("x", 3.0, 5), (None, 4.0, 1)]
    df = spark.createDataFrame(rows, "g string, o double, val long")
    got = exact_group_cumsum(df, ["g"], "o", [], "val", cumsum_col="cs", n_buckets=2)
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("o").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cs", F.sum("val").over(w).cast("long"))
    assert set(map(tuple, got.collect())) == set(map(tuple, want.collect()))


# --------------------------------------------------------------------------
# mixture_sample
# --------------------------------------------------------------------------
def _mix_u(doc_id: int) -> int:
    from udacity_dsnd_projects_spark.functions.pipeline import MIX_SALT

    return int(hashlib.md5(f"{MIX_SALT}{doc_id}".encode()).hexdigest()[:15], 16)


def test_mixture_sample_is_exact_hash_threshold(spark, sf_dir):
    """The sample equals the per-doc threshold rule recomputed in plain
    Python — kept iff u(doc_id) < weight(source) * 2^60, no RNG."""
    from udacity_dsnd_projects_spark.functions import pipeline as p
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    weights = {
        r["source"]: r["weight"]
        for r in p.source_mixture_weights(spark, sf_dir).collect()
    }
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source").collect()
    want = {
        r["doc_id"] for r in docs if _mix_u(r["doc_id"]) < weights[r["source"]] * 2**60
    }
    got = {r["doc_id"] for r in p.mixture_sample(spark, sf_dir).collect()}
    assert got == want
    assert 0 < len(got) < len(docs)  # the sample actually samples


def test_mixture_accounting_consistent_with_sample(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import pipeline as p

    samp = p.mixture_sample(spark, sf_dir).toPandas()
    acct = p.mixture_sample_accounting(spark, sf_dir).toPandas()
    by_src = samp.groupby("source")["n_tok"].agg(["count", "sum"])
    for r in acct.itertuples():
        if r.source in by_src.index:
            assert r.n_docs_kept == by_src.loc[r.source, "count"]
            assert r.achieved_tokens == by_src.loc[r.source, "sum"]
        else:
            assert r.n_docs_kept == 0 and r.achieved_tokens == 0
        # a weight-1.0 source is not down-sampled: achieved == planned
        if r.weight == 1.0:
            assert r.achieved_tokens == r.planned_tokens


# --------------------------------------------------------------------------
# incremental_dedup
# --------------------------------------------------------------------------
def _inc_want(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import dedup as d

    hist = (
        d._inc_history(spark, sf_dir)
        .select(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .distinct()
    )
    return (
        d._inc_batch(spark, sf_dir)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
        .join(hist, "content_md5", "left_anti")
    )


def test_incremental_dedup_equals_plain_anti_join(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import dedup as d

    got = d.incremental_dedup(spark, sf_dir)
    want = _inc_want(spark, sf_dir)
    assert set(map(tuple, got.collect())) == set(map(tuple, want.collect()))
    # every re-crawled doc's content is in history, so no surviving
    # content may be anchored by a re-crawl id
    assert got.filter(F.col("canonical_id") >= d.INC_ID_OFFSET).count() == 0
    assert got.count() > 0


def test_incremental_dedup_exact_under_saturated_bloom(spark, sf_dir, monkeypatch):
    """An undersized Bloom (8 bits → everything collides) must degrade
    to more verify-join work, never to a wrong answer."""
    from udacity_dsnd_projects_spark.functions import dedup as d

    monkeypatch.setattr(d, "BLOOM_BITS", 8)
    got = d.incremental_dedup(spark, sf_dir)
    want = _inc_want(spark, sf_dir)
    assert set(map(tuple, got.collect())) == set(map(tuple, want.collect()))


# --------------------------------------------------------------------------
# lang_zscore_pandas stratum guard
# --------------------------------------------------------------------------
def test_lang_zscore_pandas_guard_raises_on_oversized_stratum(
    spark, sf_dir, monkeypatch
):
    from udacity_dsnd_projects_spark.functions import pipeline as p

    monkeypatch.setattr(p, "LANG_ZSCORE_MAX_STRATUM", 10)
    with pytest.raises(RuntimeError, match="stratum too large"):
        p.lang_zscore_pandas(spark, sf_dir)


# --------------------------------------------------------------------------
# robust_scale
# --------------------------------------------------------------------------
def test_robust_scale_bounds_are_exact_percentile_values(spark, sf_dir):
    import math

    from udacity_dsnd_projects_spark.functions import pipeline as p

    out = p.robust_scale(spark, sf_dir).toPandas()
    for lang, grp in out.groupby("lang"):
        srt = sorted(grp["n_tok"])
        n = len(srt)
        lo = srt[max(1, math.ceil(p.WINSOR_LO * n)) - 1]
        hi = srt[math.ceil(p.WINSOR_HI * n) - 1]
        assert set(grp["lo_val"]) == {lo}
        assert set(grp["hi_val"]) == {hi}
        assert (grp["winsorized"] == grp["n_tok"].clip(lo, hi)).all()


# --------------------------------------------------------------------------
# quantized_cosine_topk
# --------------------------------------------------------------------------
def test_quantized_topk_tracks_float_cosine(spark, sf_dir):
    """8-bit quantization is lossy but bounded: every pair ranked by
    both faces scores within quantization noise of the float cosine,
    each query returns exactly k rows, and the two top-k sets overlap
    somewhere (the synthetic corpus is near-random, so exact rank
    agreement is not expected)."""
    from udacity_dsnd_projects_spark.functions import similarity as s

    q = s.quantized_cosine_topk(spark, sf_dir).toPandas()
    f = s.cosine_topk_bruteforce(spark, sf_dir).toPandas()
    assert set(q["query_id"]) == set(f["query_id"])
    assert (q.groupby("query_id")["vec_id"].count() == s.TOP_K).all()
    both = q.merge(f, on=["query_id", "vec_id"])
    assert (both["q_cosine"] - both["cosine"]).abs().max() < 0.1
    total_overlap = len(both)
    assert total_overlap > 0


# --------------------------------------------------------------------------
# semantic_dedup
# --------------------------------------------------------------------------
def test_semantic_dedup_survivors_are_pairwise_dissimilar(spark, sf_dir):
    """Applying the drop-list must leave no same-cluster survivor pair
    at/above the threshold: a survivor by definition has no lower-id
    member above it, which covers every survivor pair."""
    import numpy as np

    from udacity_dsnd_projects_spark.functions import similarity as s

    members = s._cluster_members(spark, sf_dir).toPandas()
    dropped = set(s.semantic_dedup(spark, sf_dir).toPandas()["vec_id"])
    assert dropped, "synthetic corpus should produce some semantic dups"
    surv = members[~members["vec_id"].isin(dropped)]
    for _, grp in surv.groupby("cluster"):
        vecs = np.array([list(v) for v in grp["v"]])
        norms = np.linalg.norm(vecs, axis=1)
        cos = (vecs @ vecs.T) / np.outer(norms, norms)
        np.fill_diagonal(cos, 0.0)
        assert cos.round(5).max() < s.SEMDEDUP_COSINE


def test_semantic_dedup_oversize_cluster_guard(spark, sf_dir, monkeypatch):
    from udacity_dsnd_projects_spark.functions import similarity as s

    assert s.oversize_clusters(spark, sf_dir).count() == 0
    monkeypatch.setattr(s, "SEMDEDUP_MAX_CLUSTER", 2)
    over = s.oversize_clusters(spark, sf_dir)
    assert over.count() > 0  # undersized K is observable, not an OOM
