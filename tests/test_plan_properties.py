"""Physical-plan regression tests: the properties that make the
headline queries scale — filter pushdown into the parquet scan, column
pruning, broadcast of dimension sides — asserted from `explain` output
so a refactor can't silently regress them."""

from __future__ import annotations

from udacity_dsnd_projects_spark import registry


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_risk_join_broadcasts_dim_and_pushes_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "risk_join")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan and "IsNotNull" in plan


def test_pricing_summary_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # the lineitem scan must not read columns the query never touches
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]
    assert "PushedFilters: [" in plan


def test_revenue_by_nation_broadcasts_snowflake(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    # customer/nation dims ride broadcast joins; only the fact-fact
    # join may shuffle
    assert plan.count("BroadcastHashJoin") >= 2


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit")
    assert "TakeOrderedAndProject" in plan  # no global sort for a top-n


def test_hot_paths_stay_wholestage_codegen(spark, sf_dir):
    # scalar/text queries must remain inside whole-stage codegen (no
    # interpreted projections creeping in). Codegen stages print as
    # `*(n)` markers. quality_score is exempt: its higher-order array
    # functions (aggregate over stopwords) are CodegenFallback by
    # Spark design — still JVM-evaluated, just not fused.
    for name in ("repetition_score", "string_normalize", "cast_projection"):
        plan = _plan(spark, sf_dir, name)
        assert "*(" in plan, name


def test_mixture_sample_is_scan_plus_broadcast_only(spark, sf_dir):
    # the sampler must be a corpus scan + broadcast weights join — the
    # sampled corpus streams out with NO shuffle exchange of doc rows
    plan = _plan(spark, sf_dir, "mixture_sample")
    assert "BroadcastHashJoin" in plan
    tail = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in tail


def test_incremental_dedup_never_shuffles_history(spark, sf_dir):
    # both verify joins broadcast the candidate-sized side; the only
    # live FileScan is the history verify scan, and it must feed a
    # broadcast join, not a shuffle exchange
    plan = _plan(spark, sf_dir, "incremental_dedup")
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan") == 1  # batch+bits subtrees checkpointed
    assert "SortMergeJoin" not in plan


def test_robust_scale_windows_partition_by_bucket(spark, sf_dir):
    # the exact-rank window must partition by (lang, bucket), never by
    # the low-cardinality lang alone. robust_scale checkpoints the
    # ranked frame (its final plan is window-free — also asserted), so
    # the window property is checked on the pre-checkpoint rank plan.
    import re

    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.functions.pipeline import _toks
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", F.size(_toks()).cast("long").alias("n_tok")
    )
    ranked = exact_group_rank(d, ["lang"], "n_tok", ["doc_id"], rank_col="rk")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    wins = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert wins, plan[:2000]
    for ln in wins:
        assert "__rank_bkt" in ln, ln
    assert "Window" not in _plan(spark, sf_dir, "robust_scale")


def test_token_bigram_pmi_single_corpus_scan(spark, sf_dir):
    # marginals derive from the checkpointed pair-counts table: the
    # final plan re-reads NO parquet (the one corpus scan happened at
    # checkpoint build) and totals ride a broadcast nested loop
    plan = _plan(spark, sf_dir, "token_bigram_pmi")
    assert plan.count("FileScan") == 0
    assert "BroadcastNestedLoopJoin" in plan


def test_simhash_calibration_hashes_corpus_once(spark, sf_dir):
    # the shingle frame is checkpointed ONCE and feeds fingerprints,
    # banding, and both exact-Jaccard join sides: the final plan reads
    # NO parquet (the one corpus scan happened at checkpoint build) —
    # a re-appearing FileScan means a path re-derived shingles from
    # text (the 3x-hashing regression the minhash twin fixed in r6)
    plan = _plan(spark, sf_dir, "simhash_calibration_report")
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan


def test_boilerplate_strip_scans_corpus_twice_total(spark, sf_dir):
    # pos_chunks is checkpointed ONCE (that checkpoint build is the
    # first corpus scan — tokenize + hash), so the final plan's boiler
    # aggregate and flag join both read ExistingRDD; the ONLY parquet
    # scan left is the slim reconstruction join that rebuilds cleaned
    # text from token arrays. A second FileScan means a consumer
    # re-derived chunks from text (the ~3x re-tokenize regression the
    # round-9 checkpoint removed).
    plan = _plan(spark, sf_dir, "boilerplate_strip")
    assert plan.count("FileScan") == 1
    assert "Scan ExistingRDD" in plan


def test_boilerplate_strip_shuffles_hashes_not_text(spark, sf_dir):
    # chunks are md5-hashed row-locally BEFORE the doc-frequency and
    # flag-join exchanges: no shuffle input may carry the token array
    # or raw text — only 32-byte hashes, ids and positions. The token
    # array is allowed back only AFTER the last exchange (the slim
    # doc_id join that rebuilds the cleaned text row-locally).
    import re

    plan = _plan(spark, sf_dir, "boilerplate_strip")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m.group(1)
    # the rollup's shuffle carries positions/flags, never 't' (tokens)
    for frag in plan.split("Exchange")[1:]:
        header = frag.splitlines()[0]
        assert "text#" not in header


def test_t_closeness_scans_customer_once(spark, sf_dir):
    # the (QI, band) cell frame is checkpointed ONCE (that build is
    # the only customer scan + the only data-sized shuffle); group
    # totals, band totals, the global roll, and the grid join-back
    # all read the materialized metadata-sized frame — a FileScan in
    # the final plan means a consumer re-executed the corpus groupBy
    plan = _plan(spark, sf_dir, "t_closeness_report")
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan


def test_topk_windows_ride_window_group_limit(spark, sf_dir):
    # the per-query rank<=k filters must keep Catalyst's
    # WindowGroupLimit pushdown (map-side pre-limit before the
    # low-cardinality query_id sort) — the property that makes a
    # bounded-query-set top-k scale despite partitioning by query_id
    for name in ("quantized_cosine_topk", "cosine_topk_bruteforce"):
        assert "WindowGroupLimit" in _plan(spark, sf_dir, name), name


def test_winnowing_pairs_reuses_hash_exchange(spark, sf_dir):
    # the match stage's two join sides and the sizes rollup all derive
    # from the same winnowed-fingerprint frame, which is materialized
    # ONCE (the posting frame's eager checkpoint — ReuseExchange alone
    # only covered the two canonically-identical self-join sides, and
    # the sizes branch re-evaluated the whole tokenize+hash subtree
    # under its differently-filtered exchange): every branch must read
    # the checkpointed postings (Scan ExistingRDD), no branch may
    # re-tokenize (no FileScan of the corpus anywhere in the plan),
    # and the self-join sides still collapse to ReusedExchange
    df = registry.queries()["winnowing_overlap_pairs"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2
    assert "Scan ExistingRDD" in plan
    assert plan.count("FileScan") == 0
