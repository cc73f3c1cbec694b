"""Round-5 batch-4 operators: time-series faces, clustering,
multimodal dedup and the text-quality gates.

The oracle equivalence for each of these runs in tests/test_queries.py;
here we pin the semantic properties the oracle alone can't see
(session-operator duality, grid density of the resample) and the plan
shapes that make them scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.operators import timeseries as ts
from udacity_dsnd_projects_spark.operators.windows import sessionize
from udacity_dsnd_projects_spark.sources.catalog import load_table


def test_gap_fill_grid_is_dense_and_locf_holds(spark, sf_dir):
    g = ts.timeseries_gap_fill(spark, sf_dir)
    per_user = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("hr").alias("lo"),
        F.max("hr").alias("hi"),
    )
    bad = per_user.filter(
        F.col("n")
        != (F.unix_timestamp("hi") - F.unix_timestamp("lo")) / 3600 + 1
    )
    assert bad.count() == 0, "spine has holes"
    # the spine starts at each user's first OBSERVED hour, so LOCF
    # always has a value to carry: value_filled is never NULL, and the
    # grid boundary rows are observed
    assert g.filter(F.col("value_filled").isNull()).count() == 0
    firsts = g.join(
        g.groupBy("user_id").agg(F.min("hr").alias("hr")), ["user_id", "hr"]
    )
    assert firsts.filter(F.col("is_observed") != 1).count() == 0
    # filler rows really carry the PREVIOUS observed value
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = g.withColumn(
        "prev_obs",
        F.last(F.when(F.col("is_observed") == 1, F.col("value_filled")), True).over(w),
    )
    mismatch = carried.filter(
        (F.col("is_observed") == 0) & (F.col("value_filled") != F.col("prev_obs"))
    )
    assert mismatch.count() == 0


def test_session_window_agrees_with_gaps_and_islands(spark, sf_dir):
    """The native session_window face and the lag/cumsum sessionize
    must carve the same sessions — EXCEPT where their boundary rules
    genuinely differ: sessionize measures gaps at WHOLE-SECOND
    resolution (``unix_timestamp``; new session iff truncated gap >
    1800) while session_window splits at the exact microsecond gap
    >= 1800s, so any true gap in [1800s, 1801s) may split one and not
    the other. Users with a gap inside that band are excluded; for
    everyone else the two operators must agree exactly."""
    ev = load_table(spark, "events", sf_dir)
    from pyspark.sql import Window as W

    wv = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wv))
    band_users = [
        r["user_id"]
        for r in ev.withColumn("g", gap_us)
        .filter(
            (F.col("g") >= 1800 * 1_000_000) & (F.col("g") < 1801 * 1_000_000)
        )
        .select("user_id")
        .distinct()
        .collect()
    ]
    native = (
        ts.session_window_rollup(spark, sf_dir)
        .filter(~F.col("user_id").isin(band_users))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
    )
    manual = (
        sessionize(spark, sf_dir)
        .filter(~F.col("user_id").isin(band_users))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
    )
    assert native.exceptAll(manual).count() == 0
    assert manual.exceptAll(native).count() == 0


# --------------------------------------------------------------------------
# batch-4 second wave: clustering / multimodal dedup
# --------------------------------------------------------------------------
from udacity_dsnd_projects_spark.functions import multimodal as mm
from udacity_dsnd_projects_spark.functions.pipeline import cluster_quality


def test_cluster_quality_accounts_for_every_vector(spark, sf_dir):
    cq = cluster_quality(spark, sf_dir)
    total = cq.agg(F.sum("n_vecs")).first()[0]
    n_vecs = load_table(spark, "embeddings", sf_dir).count()
    assert total == n_vecs
    assert cq.filter(F.col("inertia") < 0).count() == 0


def test_media_dedup_collapses_every_injected_recrawl(spark, sf_dir):
    out = mm.media_dedup(spark, sf_dir)
    copies = out.filter(F.col("media_id") >= mm.MEDIA_DUP_OFFSET)
    # every injected copy is flagged and points at its original
    bad = copies.filter(
        (F.col("is_dup") != 1)
        | (F.col("keeper_id") != F.col("media_id") - mm.MEDIA_DUP_OFFSET)
    )
    assert copies.count() > 0
    assert bad.count() == 0
    # originals keep themselves (no cross-payload collisions)
    originals = out.filter(F.col("media_id") < mm.MEDIA_DUP_OFFSET)
    assert originals.filter(F.col("is_dup") == 1).count() == 0


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


def test_media_digest_is_utf8_md5_even_for_non_ascii(spark):
    """ORACLE_MEDIA_DEDUP hashes the VARCHAR in DuckDB while the Spark
    face hashes cast(text AS BINARY); both are md5 over UTF-8 bytes.
    The fixture corpus is ASCII, so pin the equivalence on a non-ASCII
    payload here (the docstring's claim, made falsifiable)."""
    import hashlib

    samples = ["héllo wörld", "日本語テキスト", "emoji 🚀 test", "plain"]
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    got = {
        r["text"]: r["digest"]
        for r in df.select(
            "text", F.md5(F.col("text").cast("binary")).alias("digest")
        ).collect()
    }
    for s in samples:
        assert got[s] == hashlib.md5(s.encode("utf-8")).hexdigest()


def test_checkpointed_ops_scan_the_corpus_once(spark, sf_dir):
    """The checkpoint placements are load-bearing: without them the
    digest subtree re-evaluates per consumer (observed as 4-6 parquet
    scans). Lock the collapsed plan."""
    import re

    for fn, cap in [
        (mm.media_dedup, 0),  # digest checkpoint covers everything
    ]:
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        n = len(re.findall(r"FileScan parquet", plan))
        assert n <= cap, f"{fn.__name__}: {n} parquet scans (cap {cap})"
