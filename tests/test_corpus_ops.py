"""Behavioral tests for the corpus-structure ops (functions/corpus.py).
Registry-oracle equivalence is covered by test_queries.py; these pin
semantics the hash compare can't see."""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import corpus as c
from udacity_dsnd_projects_spark.sources.catalog import load_table


def test_chunks_cover_text_exactly(spark):
    df = spark.createDataFrame(
        [(" ".join(f"w{i}" for i in range(n)),) for n in (1, 15, 16, 17, 40)],
        ["text"],
    )
    out = df.select(
        F.size(F.split("text", r"\s+")).alias("n"),
        F.size(c._chunks(F.split("text", r"\s+"))).alias("k"),
    ).collect()
    for r in out:
        assert r["k"] == math.ceil(r["n"] / c.CHUNK_W)


def test_identical_windows_hash_equal_distinct_differ(spark):
    words = " ".join(f"w{i}" for i in range(c.CHUNK_W))
    df = spark.createDataFrame([(words + " " + words,), (words + " tail",)], ["text"])
    rows = df.select(c._chunks(F.split("text", r"\s+")).alias("h")).collect()
    two_same, one_plus_tail = rows[0]["h"], rows[1]["h"]
    assert two_same[0] == two_same[1] == one_plus_tail[0]
    assert one_plus_tail[1] != one_plus_tail[0]


def test_passage_dedup_bounds_and_totals(spark, sf_dir, duck):
    out = c.passage_dedup(spark, sf_dir).toPandas()
    n_docs = duck.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert len(out) == n_docs
    assert (out["n_dup_chunks"] <= out["n_chunks"]).all()
    assert out["dup_ratio"].between(0, 1).all()
    # at least some boilerplate exists in the synthetic corpus
    assert out["n_dup_chunks"].sum() > 0


def test_source_matrix_is_upper_triangle(spark, sf_dir):
    out = c.passage_source_matrix(spark, sf_dir).toPandas()
    assert (out["src_a"] < out["src_b"]).all()
    assert (out["n_shared_chunks"] >= 1).all()


def test_word_entropy_extremes(spark, sf_dir):
    out = c.word_entropy(spark, sf_dir).toPandas()
    assert (out["entropy"] >= 0).all()
    # H <= ln(n_unique) (uniform bound), allowing rounding slack
    bound = np.log(out["n_unique"].to_numpy(dtype=float)) + 1e-4
    assert (out["entropy"].to_numpy() <= bound).all()
    # docs with all-distinct tokens hit the bound exactly
    allu = out[out["n_unique"] == out["n_tok"]]
    for _, r in allu.iterrows():
        assert abs(r["entropy"] - round(math.log(r["n_tok"]), 5)) < 1e-4


def test_embedding_centroids_match_numpy(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).toPandas()
    out = c.embedding_centroids(spark, sf_dir).toPandas()
    for label, grp in emb.groupby("label"):
        M = np.array(grp["embedding"].tolist(), dtype=np.float64)
        want = np.round(M.mean(axis=0), 5)
        got = (
            out[out["label"] == label].sort_values("dim")["c"].to_numpy()
        )
        assert np.allclose(got, want, atol=1e-5)


def test_perplexity_uniform_text_is_low(spark, sf_dir):
    """A doc made of one repeated character pair has near-zero
    cross-entropy; corpus docs land strictly higher."""
    from udacity_dsnd_projects_spark.functions import text as t

    out = t.perplexity_score(spark, sf_dir).toPandas()
    assert (out["cross_entropy"] >= 0).all()
    assert out["cross_entropy"].mean() > 0.5  # natural text ≠ degenerate
    # n_bigrams = len(s) - 1
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    lens = docs.set_index("doc_id")["text"].str.strip().str.lower().str.len()
    merged = out.set_index("doc_id").join(lens.rename("L"))
    assert (merged["n_bigrams"] == merged["L"] - 1).all()


def test_chunks_empty_and_single_token(spark):
    from udacity_dsnd_projects_spark.functions import corpus as c

    df = spark.createDataFrame([("solo",), ("a b",)], ["text"])
    rows = df.select(c._chunks(F.split("text", r"\s+")).alias("h")).collect()
    assert len(rows[0]["h"]) == 1 and len(rows[1]["h"]) == 1


def test_pagerank_empty_edges(spark):
    from udacity_dsnd_projects_spark.functions import graph as g

    edges = spark.createDataFrame([], "src long, dst long")
    assert g.pagerank(edges).count() == 0


def test_substring_dedup_catches_boundary_straddling_repeat(spark):
    """A duplicated span at a misaligned offset is invisible to
    passage_dedup's fixed tiling but must be caught by the stride-1
    sliding window."""
    from udacity_dsnd_projects_spark.functions.corpus import SUBSTR_W

    shared = " ".join(f"tok{i}" for i in range(SUBSTR_W))
    docs = spark.createDataFrame(
        [
            # doc 0: shared span starts at offset 3 (misaligned)
            (0, "pre a b " + shared + " tail x y z"),
            # doc 1: shared span starts at offset 0
            (1, shared + " other words here entirely"),
            # doc 2: no overlap with anything
            (2, " ".join(f"uniq{i}" for i in range(SUBSTR_W + 5))),
        ],
        ["doc_id", "text"],
    )
    import udacity_dsnd_projects_spark.functions.corpus as c
    from pyspark.sql import functions as F
    from udacity_dsnd_projects_spark.functions.pipeline import _toks

    d = (
        docs.select("doc_id", _toks().alias("t"))
        .filter(F.size("t") >= c.SUBSTR_W)
        .withColumn("n_win", (F.size("t") - c.SUBSTR_W + 1).cast("long"))
    )
    wins = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_win").cast("int")),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, c.SUBSTR_W))),
            )
        ).alias("h"),
    )
    from pyspark.sql import Window

    cnt = wins.select(
        "doc_id", (F.count("*").over(Window.partitionBy("h")) > 1).alias("dup")
    )
    per_doc = {
        r["doc_id"]: r["n_dup"]
        for r in cnt.groupBy("doc_id")
        .agg(F.sum(F.col("dup").cast("long")).alias("n_dup"))
        .collect()
    }
    assert per_doc[0] >= 1 and per_doc[1] >= 1  # straddling repeat found
    assert per_doc[2] == 0


def test_seq_pack_bins_contiguous_and_under_budget(spark, sf_dir):
    """Bins are contiguous in doc order within each lang, start at 0,
    and every bin's start offset is a multiple of the budget."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        SEQ_PACK_BUDGET,
        seq_pack_bins,
    )

    pdf = seq_pack_bins(spark, sf_dir).toPandas()
    for _, grp in pdf.groupby("lang"):
        grp = grp.sort_values("doc_id")
        bins = grp["bin"].to_numpy()
        assert bins[0] == 0
        assert ((bins[1:] - bins[:-1]) >= 0).all()  # monotone in stream order
        starts = grp["cum_tok"].to_numpy() - grp["n_tok"].to_numpy()
        assert (bins == starts // SEQ_PACK_BUDGET).all()


def test_seq_pack_cumsum_window_is_bucket_partitioned(spark, sf_dir):
    """The running sum must not be a lang-only window (few strata =
    few tasks): every window in the plan partitions by the rank
    bucket."""
    import re

    from udacity_dsnd_projects_spark.functions.pipeline import seq_pack_bins

    plan = (
        seq_pack_bins(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__rank_bkt" in s for s in specs), specs
