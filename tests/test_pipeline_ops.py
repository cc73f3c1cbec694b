"""Property tests for the training-data pipeline operators beyond the
oracle equality checks: recall of the LSH candidate generators against
the exact methods, Pandas-UDF face vs JVM face."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_minhash_lsh_finds_strong_near_dups(spark, sf_dir):
    """LSH candidates must include every pair the exact n-gram jaccard
    marks as a strong near-dup (banding theory: J≥0.7 pairs collide in
    ≥1 of 4 bands with overwhelming probability)."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    strong = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") > 0.7).collect()
    }
    assert strong, "corpus should contain planted strong near-dups"
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(spark, sf_dir).collect()}
    missed = strong - lsh
    assert not missed, f"LSH missed strong near-dups: {missed}"


def test_simhash_near_dups_overlap_jaccard(spark, sf_dir):
    """SimHash hamming≤6 pairs should substantially overlap the exact
    strong-jaccard pairs (different estimator, same planted dups)."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    strong = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") > 0.8).collect()
    }
    sim = {(r.doc_a, r.doc_b) for r in simhash_near_dup_pairs(spark, sf_dir).collect()}
    assert strong
    recall = len(strong & sim) / len(strong)
    assert recall >= 0.8, f"simhash recall too low: {recall} ({strong - sim})"


def test_exact_dedup_finds_planted_copies(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.dedup import exact_dedup

    res = exact_dedup(spark, sf_dir).collect()
    dup_groups = [r for r in res if r.n_copies > 1]
    assert dup_groups
    # every planted copy (doc_id % 10 == 0) collapses onto the original
    assert all(r.canonical_id % 10 == 0 for r in dup_groups)


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    from udacity_dsnd_projects_spark.operators.aggregations import (
        approx_count_distinct,
        count_distinct,
    )

    exact = {
        r.l_returnflag: r.n_parts for r in count_distinct(spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in approx_count_distinct(spark, sf_dir).collect()
    }
    # HLL++ configured at rsd=0.02 — 5% is a 2.5-sigma bound
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.05, (k, approx[k], v)


def test_pandas_simhash_equals_jvm_simhash(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.dedup import (
        simhash_fingerprints,
        simhash_fingerprints_pandas,
    )

    a = {r.doc_id: r.simhash for r in simhash_fingerprints(spark, sf_dir).collect()}
    b = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints_pandas(spark, sf_dir).collect()
    }
    assert a == b and a


def test_quantile_sketch_close_to_exact(spark, duck, sf_dir):
    """approx_percentile must land within 2% relative error of DuckDB's
    exact continuous quantile at this corpus size."""
    from udacity_dsnd_projects_spark.operators.aggregations import quantile_sketch

    got = {r["l_linestatus"]: (r["p50"], r["p90"], r["p99"]) for r in quantile_sketch(spark, sf_dir).collect()}
    exact = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.sql(
            """SELECT l_linestatus, quantile_cont(l_extendedprice, 0.5),
                      quantile_cont(l_extendedprice, 0.9),
                      quantile_cont(l_extendedprice, 0.99)
               FROM lineitem GROUP BY 1"""
        ).fetchall()
    }
    assert set(got) == set(exact)
    for k in got:
        for a, b in zip(got[k], exact[k]):
            assert abs(a - b) / b < 0.02, (k, a, b)


def test_pandas_cosine_equals_jvm_cosine(spark, sf_dir):
    """The Arrow/numpy face must agree with the JVM expression face."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        cosine_scores_pandas,
        cosine_topk_bruteforce,
    )

    jvm = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk_bruteforce(spark, sf_dir).collect()
    }
    pandas_face = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_scores_pandas(spark, sf_dir).collect()
    }
    for key, cos in jvm.items():
        assert abs(pandas_face[key] - cos) < 1e-4


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """Multi-probe IVF top-k must recover most of the exact top-k: with
    6 hyperplanes and hamming-1 probing, expected recall is well above
    half (each true neighbor lands in the probed set unless it differs
    from the query bucket by ≥2 plane signs)."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk_bruteforce(spark, sf_dir).collect()
    }
    approx = {(r.query_id, r.vec_id) for r in cosine_topk_ivf(spark, sf_dir).collect()}
    assert exact, "bruteforce top-k should be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_lsh_buckets_group_near_dups(spark, sf_dir):
    """Near-identical vectors must land in the same LSH bucket (the
    corpus has no true embedding dups — max pairwise cosine ≈ 0.51 —
    so plant some here), and the bucketed pair report must be
    non-empty and thresholded on this corpus."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        NEAR_DUP_COSINE,
        embedding_near_dup,
        lsh_bucket,
    )
    from pyspark.sql import types as T

    base = [((i * 37 + d * 11) % 19 - 9.0) / 9.0 for i in range(1) for d in range(64)]
    rows = []
    for i in range(6):
        noise = [((i * d) % 7 - 3) * 1e-4 for d in range(64)]
        rows.append((i, [b + n for b, n in zip(base, noise)]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    buckets = {r.vec_id: r.bucket for r in df.select(
        "vec_id", lsh_bucket(F.col("v"), 64).alias("bucket")
    ).collect()}
    assert len(set(buckets.values())) == 1, f"near-identical vectors split: {buckets}"

    pairs = embedding_near_dup(spark, sf_dir).collect()
    assert pairs, "bucketed similar-pair report should be non-empty"
    assert all(r.cosine > NEAR_DUP_COSINE for r in pairs)
