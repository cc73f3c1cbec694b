"""Round-5 batch-4 operators: clustering and the text-quality gates.

The oracle equivalence for each of these runs in tests/test_queries.py;
here we pin the semantic properties the oracle alone can't see.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# batch-4 second wave: clustering
# --------------------------------------------------------------------------
from udacity_dsnd_projects_spark.functions.pipeline import cluster_quality


def test_cluster_quality_accounts_for_every_vector(spark, sf_dir):
    cq = cluster_quality(spark, sf_dir)
    total = cq.agg(F.sum("n_vecs")).first()[0]
    n_vecs = load_table(spark, "embeddings", sf_dir).count()
    assert total == n_vecs
    assert cq.filter(F.col("inertia") < 0).count() == 0


# --------------------------------------------------------------------------
# batch-4 third wave: containment dedup / Gopher rules / CCNet buckets
# --------------------------------------------------------------------------
from udacity_dsnd_projects_spark.functions import dedup as dd
from udacity_dsnd_projects_spark.functions import text as tx


def test_containment_dominates_jaccard(spark, sf_dir):
    """C >= J always (min(|A|,|B|) <= |A∪B|), and the face must
    surface at least one asymmetric pair the Jaccard gate would
    score strictly lower."""
    pairs = dd.shingle_containment_pairs(spark, sf_dir)
    assert pairs.filter(F.col("containment") < F.col("jaccard")).count() == 0
    assert pairs.count() > 0


def test_gopher_passes_is_conjunction_of_rules(spark, sf_dir):
    g = tx.gopher_quality_filter(spark, sf_dir)
    bad = g.filter(
        F.col("passes")
        != (
            F.col("rule_tok_range")
            * F.col("rule_mean_len")
            * F.col("rule_symbol_ratio")
            * F.col("rule_alpha_words")
            * F.col("rule_stopwords")
        )
    )
    assert bad.count() == 0
    # the gate must actually discriminate on this corpus
    n_pass = g.agg(F.sum("passes")).first()[0]
    assert 0 < n_pass < g.count()


def test_ccnet_buckets_are_balanced_terciles(spark, sf_dir):
    b = tx.ccnet_perplexity_bucket(spark, sf_dir)
    per = (
        b.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (F.max("n") - F.min("n")).alias("spread"),
        )
        .collect()
    )
    for r in per:
        assert r["n_buckets"] == 3
        assert r["spread"] <= 1  # tercile sizes differ by at most one
    # head really is less perplexing than tail, per lang
    hm = (
        b.groupBy("lang")
        .pivot("bucket_label", ["head", "tail"])
        .agg(F.avg("cross_entropy"))
        .collect()
    )
    for r in hm:
        assert r["head"] < r["tail"]


# --------------------------------------------------------------------------
# md5 digest parity between the engines
# --------------------------------------------------------------------------


