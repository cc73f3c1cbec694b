"""Behavioral tests for the round-2 pipeline extras (the registry
oracle equivalence is covered by test_queries.py; these pin the
semantics the oracle can't see)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import pipeline as p
from udacity_dsnd_projects_spark.sources.catalog import load_table


def test_kmeans_lloyd_matches_numpy_reference(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    res = (
        p.kmeans_lloyd(emb, k=4, n_iters=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    M = np.array(emb.orderBy("vec_id").toPandas()["v"].tolist())
    C = M[:4].copy()
    for _ in range(2):
        d = np.sqrt(((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)).round(5)
        assign = d.argmin(1)
        C = np.array([M[assign == j].mean(0) for j in range(4)])
    d = np.sqrt(((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)).round(5)
    assert (res["cluster"].to_numpy() == d.argmin(1)).all()


def test_pii_scrub_redacts_everything(spark, sf_dir):
    out = p.pii_scrub(spark, sf_dir).toPandas()
    assert (out["n_emails"] == 1).all()  # exactly the planted email
    joined = " ".join(out["scrubbed"])
    assert "@example.com" not in joined
    assert "https://" not in joined
    assert "+1-555-" not in joined
    assert "<EMAIL>" in joined and "<URL>" in joined and "<PHONE>" in joined


def test_hash_split_is_deterministic_and_balanced(spark, sf_dir):
    a = {r["split"]: r["n_docs"] for r in p.hash_split(spark, sf_dir).collect()}
    b = {r["split"]: r["n_docs"] for r in p.hash_split(spark, sf_dir).collect()}
    assert a == b  # reproducible
    total = sum(a.values())
    assert 0.8 <= a["train"] / total <= 0.97  # ~90/10 by hash bucket


def test_stratified_sample_exact_k_per_big_stratum(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sample = p.stratified_sample(spark, sf_dir).toPandas()
    got = sample.groupby("lang")["doc_id"].count().to_dict()
    for lang, n in sizes.items():
        assert got.get(lang, 0) == min(n, p.SAMPLE_K)


def test_contamination_planted_benchmark_copy(spark):
    """A corpus doc that's a verbatim copy of a benchmark doc must be
    reported as 100% contaminated; an unrelated doc must be absent."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (p.BENCH_MOD, bench_text),  # benchmark member (id % 97 == 0)
        (5, bench_text),  # verbatim copy -> contamination 1.0
        (6, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["contamination"] for r in p.contamination_for(docs).collect()}
    assert out == {5: 1.0}


def test_grouped_map_zscore_equals_window_face(spark, sf_dir):
    a = sorted(map(str, p.lang_zscore(spark, sf_dir).collect()))
    b = sorted(map(str, p.lang_zscore_pandas(spark, sf_dir).collect()))
    assert a == b


def test_quantize_embedding_matches_numpy(spark, sf_dir):
    """Element-wise check of the full code arrays against numpy (the
    registered face only ships the checksum fold)."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        _as_double,
        quantize_embedding,
    )

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    lo, hi, codes = quantize_embedding(F.col("v"))
    rows = emb.select("vec_id", "v", codes.alias("codes")).limit(50).collect()
    for r in rows:
        v = np.array(r["v"], dtype=np.float64)
        lo_, hi_ = v.min(), v.max()
        if hi_ > lo_:
            expect = np.floor((v - lo_) / ((hi_ - lo_) / 255.0) + 0.5).astype(int)
        else:
            expect = np.zeros(len(v), dtype=int)
        assert list(expect) == list(r["codes"]), r["vec_id"]
        assert max(r["codes"]) <= 255 and min(r["codes"]) >= 0


def test_shard_assign_deals_equal_shards(spark, sf_dir):
    """Round-robin over the shuffled order: shard sizes differ by at
    most 1, positions tile 0..size-1, and the mapping is deterministic
    across reruns."""
    from udacity_dsnd_projects_spark.functions.pipeline import N_SHARDS, shard_assign

    a = shard_assign(spark, sf_dir).toPandas().sort_values("doc_id")
    sizes = a.groupby("shard")["doc_id"].count()
    assert len(sizes) == min(N_SHARDS, len(a))
    assert sizes.max() - sizes.min() <= 1
    for _, grp in a.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp)))
    b = shard_assign(spark, sf_dir).toPandas().sort_values("doc_id")
    assert (a["shard"].to_numpy() == b["shard"].to_numpy()).all()


def test_shard_assign_plan_is_bucket_partitioned(spark, sf_dir):
    """The global total-order rank must come from bucketed windows,
    not one row_number window over everything."""
    import re

    from udacity_dsnd_projects_spark.functions.pipeline import shard_assign

    plan = (
        shard_assign(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__rank_bkt" in s for s in specs), specs
