"""Round-6 second-wave operators: MinHash calibration, snapshot n-gram
novelty, tokenizer fertility.

Oracle equality runs via the registry parameterization in
tests/test_queries.py; these tests pin the oracle-independent
PROPERTIES each operator promises.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions.dedup import (
    INC_ID_OFFSET,
    JACCARD_THRESHOLD,
    minhash_calibration_report,
    ngram_novelty,
)
from udacity_dsnd_projects_spark.functions.text import tokenizer_fertility

SF = "/root/testdata/sf0.001"


# --- minhash_calibration_report -------------------------------------------
def test_calibration_bins_are_threshold_bounded(spark):
    rows = minhash_calibration_report(spark, SF).collect()
    assert rows, "candidate pairs must exist on the corpus"
    for r in rows:
        # bins start at the LSH keep-threshold, never above a true J of 1
        assert JACCARD_THRESHOLD - 0.1 < r.est_bin <= 1.0
        assert r.n_pairs > 0
        assert 0.0 <= r.mean_exact <= 1.0
        # est in a bin averages inside that bin
        assert r.est_bin <= r.mean_est < r.est_bin + 0.1 + 1e-9


def test_calibration_hashes_corpus_once(spark):
    """Both the signature path and the exact-Jaccard path must read
    the ONE materialized shingle frame — a plan that re-scans the
    parquet would be re-hashing the corpus per consumer (3× the
    dominant cost at 100 TB)."""
    plan = (
        minhash_calibration_report(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in plan  # only the checkpoint is read


def test_calibration_error_is_bounded(spark):
    rows = minhash_calibration_report(spark, SF).collect()
    # |est - exact| <= 1 always; a broken kernel (correlated perms)
    # shows up as err ~ est itself — require better than coin-flip
    assert all(r.mean_abs_err < 0.5 for r in rows)


# --- ngram_novelty ---------------------------------------------------------
def test_recrawled_docs_have_zero_novelty(spark):
    """A re-crawl is byte-identical history content under a fresh id —
    every one of its shingles is in the snapshot, so novelty MUST be
    exactly 0. The operator's sharpest self-check."""
    nov = ngram_novelty(spark, SF)
    recrawls = nov.filter(F.col("doc_id") >= INC_ID_OFFSET)
    assert recrawls.count() > 0, "fixture must contain re-crawls"
    assert recrawls.filter(F.col("n_novel") != 0).count() == 0
    assert recrawls.filter(F.col("novelty_rate") != 0.0).count() == 0


def test_fresh_docs_are_mostly_novel(spark):
    nov = ngram_novelty(spark, SF)
    fresh = nov.filter(F.col("doc_id") < INC_ID_OFFSET)
    assert fresh.count() > 0
    # synthetic docs share some boilerplate grams, but the batch third
    # of the corpus must carry real new content overall
    mean_rate = fresh.agg(F.avg("novelty_rate")).first()[0]
    assert mean_rate > 0.1
    assert nov.filter(F.col("n_novel") > F.col("n_grams")).count() == 0


# --- tokenizer_fertility ---------------------------------------------------
def test_fertility_invariants(spark):
    rows = tokenizer_fertility(spark, SF).collect()
    assert len(rows) >= 2, "corpus has multiple languages"
    for r in rows:
        # a token is >=1 char; a char is >=1 byte (UTF-8)
        assert r.chars_per_token >= 1.0
        assert r.n_bytes >= r.n_chars
        assert r.bytes_per_token >= r.chars_per_token
        assert r.n_docs > 0 and r.n_tokens > 0
