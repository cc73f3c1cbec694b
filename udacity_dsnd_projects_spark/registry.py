"""Query registry — the single source of truth wired into
``__spark_entry__.py``.

Each entry: name -> (spark_query_fn, duckdb_oracle_sql | None).
``spark_query_fn(spark, sf_dir) -> DataFrame``. Oracle SQL runs on the
same parquet tables in DuckDB (views pre-registered by the driver).
Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from udacity_dsnd_projects_spark.functions import corpus as _corp
from udacity_dsnd_projects_spark.functions import dedup as _dedup
from udacity_dsnd_projects_spark.functions import graph as _graph
from udacity_dsnd_projects_spark.functions import pipeline as _pipe
from udacity_dsnd_projects_spark.functions import scalar as _scalar
from udacity_dsnd_projects_spark.functions import similarity as _sim
from udacity_dsnd_projects_spark.functions import text as _text
from udacity_dsnd_projects_spark.functions import training as _train
from udacity_dsnd_projects_spark import metrics as _metrics
from udacity_dsnd_projects_spark.operators import aggregations as _agg
from udacity_dsnd_projects_spark.operators import analytics as _an
from udacity_dsnd_projects_spark.operators import envelope as _env
from udacity_dsnd_projects_spark.operators import joins as _joins
from udacity_dsnd_projects_spark.operators import projections as _proj
from udacity_dsnd_projects_spark.operators import risk_join as _risk
from udacity_dsnd_projects_spark.operators import skew as _skew
from udacity_dsnd_projects_spark.operators import windows as _win

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (query_fn, oracle_sql or None for non-SQL-expressible ops)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    # contract check, not a debug assert: must survive python -O
    if name in _REGISTRY:
        raise ValueError(f"duplicate query registration: {name}")
    _REGISTRY[name] = (fn, oracle)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# block-size cap added (impl + oracle mirror — VERDICT r4 item 1)
register("fuzzy_name_pairs", _joins.fuzzy_name_pairs, _joins.ORACLE_FUZZY_NAME_PAIRS)
# NEW: mixture plan materialized as a deterministic hash-threshold sample
register("mixture_sample", _pipe.mixture_sample, _pipe.ORACLE_MIXTURE_SAMPLE)
register(
    "mixture_sample_accounting",
    _pipe.mixture_sample_accounting,
    _pipe.ORACLE_MIXTURE_SAMPLE_ACCOUNTING,
)
# NEW: new-batch-vs-snapshot dedup behind a distributed Bloom pre-filter
register(
    "incremental_dedup", _dedup.incremental_dedup, _dedup.ORACLE_INCREMENTAL_DEDUP
)
# NEW: bigram collocations by PMI
register("token_bigram_pmi", _text.token_bigram_pmi, _text.ORACLE_TOKEN_BIGRAM_PMI)
# NEW: winsorized per-stratum scaling on exact ranks
register("robust_scale", _pipe.robust_scale, _pipe.ORACLE_ROBUST_SCALE)
# NEW: top-k retrieval over the int8-quantized index
register(
    "quantized_cosine_topk",
    _sim.quantized_cosine_topk,
    _sim.ORACLE_QUANTIZED_COSINE_TOPK,
)
# NEW: SemDeDup-shape within-cluster embedding dedup
register("semantic_dedup", _sim.semantic_dedup, _sim.ORACLE_SEMANTIC_DEDUP)
# NEW: vocabulary coverage curve on the total-order primitives
register("vocab_coverage", _text.vocab_coverage, _text.ORACLE_VOCAB_COVERAGE)
# NEW: epoch-repeat upsampling for under-represented sources
register("mixture_upsample", _pipe.mixture_upsample, _pipe.ORACLE_MIXTURE_UPSAMPLE)
# NEW: within-cluster top-k cosine neighbor graph
register("knn_graph", _sim.knn_graph, _sim.ORACLE_KNN_GRAPH)
# NEW (round 6): incremental IVF index maintenance + drift readout
register(
    "ivf_index_upsert", _sim.ivf_index_upsert, _sim.ORACLE_IVF_INDEX_UPSERT
)
register(
    "ivf_staleness_report",
    _sim.ivf_staleness_report,
    _sim.ORACLE_IVF_STALENESS_REPORT,
)
# NEW (round 6): the exported char-bigram LM (train/score
# decomposition of perplexity_score)
register("char_bigram_lm", _text.char_bigram_lm, _text.ORACLE_CHAR_BIGRAM_LM)
# NEW (round 6): tokenizer-induction pair counts; split-contamination
# report over the LSH pair substrate
register("bpe_pair_counts", _text.bpe_pair_counts, _text.ORACLE_BPE_PAIR_COUNTS)
# NEW (round 12): the tokenizer-induction loop CLOSED — bpe_pair_counts
# iterated to an ordered merge table, plus the corpus re-tokenized with
# it. NOTE: constructing either runs the training loop (2 actions per
# merge round on the vocab frame — the same documented eager exception
# as guard_metrics_report); plan-only tooling must skip them.
register(
    "bpe_learn_merges",
    _text.bpe_learn_merges,
    _text.ORACLE_BPE_LEARN_MERGES,
)
register(
    "bpe_apply_merges",
    _text.bpe_apply_merges,
    _text.ORACLE_BPE_APPLY_MERGES,
)
# NEW (round 12): the training-prep integration — mixture weights
# re-planned on merge-aware token counts (same eager-loop exception)
register(
    "bpe_token_mixture_weights",
    _text.bpe_token_mixture_weights,
    _text.ORACLE_BPE_TOKEN_MIXTURE_WEIGHTS,
)
# NEW (round 12): the second tokenizer artifact — the post-merge
# subword vocabulary with corpus frequencies (same eager-loop
# exception; reads the learn loop's final checkpointed vocab)
register(
    "bpe_vocab_table",
    _text.bpe_vocab_table,
    _text.ORACLE_BPE_VOCAB_TABLE,
)
# NEW (round 12): the merge-budget tuning curve — corpus units after
# every merge stage (the tokenizer family's ivf_probe_sweep analog;
# same eager-loop exception, readouts aggregate the loop's
# checkpointed stage frames)
register(
    "bpe_compression_sweep",
    _text.bpe_compression_sweep,
    _text.ORACLE_BPE_COMPRESSION_SWEEP,
)
# NEW (round 12): sequence packing on merge-aware unit counts — the
# third consumer of the learned tokenizer (same eager-loop exception;
# the running count is the bucketed distributed prefix-sum)
register(
    "bpe_seq_pack_bins",
    _text.bpe_seq_pack_bins,
    _text.ORACLE_BPE_SEQ_PACK_BINS,
)
# NEW (round 13): within-document chunking on merge-aware unit budgets
# — the BPE consumer the family stopped short of (VERDICT r12 task 3):
# the training-chunk artifact itself, all row-local (zero exchanges)
register(
    "bpe_encode_chunks",
    _text.bpe_encode_chunks,
    _text.ORACLE_BPE_ENCODE_CHUNKS,
)
# NEW (round 13): the tokenizer family's consistency gate — corpus
# unit total via the final stage frame vs via the baked replace chain
# (the ann_probe_agreement pattern; VERDICT r12 task 8)
register(
    "bpe_unit_total_agreement",
    _text.bpe_unit_total_agreement,
    _text.ORACLE_BPE_UNIT_TOTAL_AGREEMENT,
)
# NEW (round 13): exact dedup of the training SEQUENCES — the
# hash-before-shuffle recipe on chunk_hash, no text ever shuffled
register(
    "chunk_dedup",
    _text.chunk_dedup,
    _text.ORACLE_CHUNK_DEDUP,
)
# NEW (round 14): the training writer consuming chunk_dedup's keepers
# — deduped chunks fill fixed unit bins (the report→action step;
# VERDICT r13 task 2; eager-loop + prefix-sum exception)
register(
    "pack_deduped_chunks",
    _text.pack_deduped_chunks,
    _text.ORACLE_PACK_DEDUPED_CHUNKS,
)
# NEW (round 14): the chunk path's conservation gate — packed units +
# saved units must equal the pre-dedup chunk total, each side from a
# different frame (the bpe_unit_total_agreement pattern on the writer)
register(
    "chunk_dedup_accounting",
    _text.chunk_dedup_accounting,
    _text.ORACLE_CHUNK_DEDUP_ACCOUNTING,
)
# NEW (round 14): the packed bins dealt round-robin into epoch shards
# under shard_assign's deterministic md5 shuffle — the chunk spine's
# last writer step (documents → chunks → dedup → pack → shards; same
# eager-loop + prefix-sum/rank exception as the packer it consumes)
register(
    "shard_packed_chunks",
    _text.shard_packed_chunks,
    _text.ORACLE_SHARD_PACKED_CHUNKS,
)
# NEW (round 15): curriculum ordering over the packed bins —
# easy-to-hard by the bin's longest sequence, NTILE phases with a
# deterministic md5 within-phase shuffle (VERDICT r14 task 5; the
# chunk spine's ordering policy; same eager-loop + rank exception)
register(
    "curriculum_pack_order",
    _text.curriculum_pack_order,
    _text.ORACLE_CURRICULUM_PACK_ORDER,
)
# NEW (round 12): tokenizer train/eval drift — merges learned on the
# snapshot half only, fertility compared across halves per source
# (same eager-loop exception)
register(
    "tokenizer_drift_report",
    _text.tokenizer_drift_report,
    _text.ORACLE_TOKENIZER_DRIFT_REPORT,
)
# NEW (round 12): the packing accounting twin on merge-aware units
# (same eager-loop exception)
register(
    "bpe_pack_efficiency",
    _text.bpe_pack_efficiency,
    _text.ORACLE_BPE_PACK_EFFICIENCY,
)
# NEW (round 12): tokenizer reproducibility — merges learned
# independently per half, compared step by step (eager, TWO loops)
register(
    "bpe_merge_stability",
    _text.bpe_merge_stability,
    _text.ORACLE_BPE_MERGE_STABILITY,
)
# NEW (round 6): label-noise detection over the kNN substrate;
# per-source embedding drift monitor
register(
    "knn_label_agreement",
    _sim.knn_label_agreement,
    _sim.ORACLE_KNN_LABEL_AGREEMENT,
)
register(
    "embedding_drift_by_source",
    _sim.embedding_drift_by_source,
    _sim.ORACLE_EMBEDDING_DRIFT_BY_SOURCE,
)
# NEW (round 6, second wave): LSH self-grading + snapshot novelty +
# tokenizer fertility + market basket + daily volume anomaly
register(
    "minhash_calibration_report",
    _dedup.minhash_calibration_report,
    _dedup.ORACLE_MINHASH_CALIBRATION_REPORT,
)
# NEW (round 9): SimHash-side calibration readout (VERDICT r8 task 9)
register(
    "simhash_calibration_report",
    _dedup.simhash_calibration_report,
    _dedup.ORACLE_SIMHASH_CALIBRATION_REPORT,
)
register("ngram_novelty", _dedup.ngram_novelty, _dedup.ORACLE_NGRAM_NOVELTY)
register(
    "tokenizer_fertility",
    _text.tokenizer_fertility,
    _text.ORACLE_TOKENIZER_FERTILITY,
)
# NEW (round 11): the probe-depth tuning curve over the IVF index —
# recall vs candidate-scan cost at hamming depth 0..PROBE_HAMMING
register(
    "ivf_probe_sweep",
    _sim.ivf_probe_sweep,
    _sim.ORACLE_IVF_PROBE_SWEEP,
)
register(
    "label_separation_report",
    _sim.label_separation_report,
    _sim.ORACLE_LABEL_SEPARATION_REPORT,
)
register(
    "dedup_method_agreement",
    _dedup.dedup_method_agreement,
    _dedup.ORACLE_DEDUP_METHOD_AGREEMENT,
)
register(
    "quantization_error_report",
    _sim.quantization_error_report,
    _sim.ORACLE_QUANTIZATION_ERROR_REPORT,
)
# NEW: packing-budget fill/overflow accounting
register("pack_efficiency", _pipe.pack_efficiency, _pipe.ORACLE_PACK_EFFICIENCY)
# NEW: per-doc OOV rate against the exact-ranked top-N vocabulary
register("vocab_oov_rate", _text.vocab_oov_rate, _text.ORACLE_VOCAB_OOV_RATE)
# NEW: Unicode NFC normalization (vectorized pandas face; UAX#15 oracle)
register("nfc_normalize", _text.nfc_normalize, _text.ORACLE_NFC_NORMALIZE)
# NEW: IVF recall@K measured against exact brute force
register(
    "ann_recall_report", _sim.ann_recall_report, _sim.ORACLE_ANN_RECALL_REPORT
)
# NEW (round 12): the deployed-depth consistency gate — ivf_probe_sweep's
# row at PROBE_HAMMING must equal ann_recall_report's aggregate (the
# cross-face identity VERDICT r11 asked to make driver-visible)
register(
    "ann_probe_agreement",
    _sim.ann_probe_agreement,
    _sim.ORACLE_ANN_PROBE_AGREEMENT,
)
# NEW (batch 4): clustering health report
register("cluster_quality", _pipe.cluster_quality, _pipe.ORACLE_CLUSTER_QUALITY)
# NEW (batch 4): asymmetric containment dedup; Gopher rule gate;
# CCNet head/middle/tail perplexity split
register(
    "shingle_containment_pairs",
    _dedup.shingle_containment_pairs,
    _dedup.ORACLE_SHINGLE_CONTAINMENT_PAIRS,
)
register(
    "gopher_quality_filter",
    _text.gopher_quality_filter,
    _text.ORACLE_GOPHER_QUALITY_FILTER,
)
register(
    "ccnet_perplexity_bucket",
    _text.ccnet_perplexity_bucket,
    _text.ORACLE_CCNET_PERPLEXITY_BUCKET,
)
# stratum-size guard added (grouped-map scale contract now enforced)
register(  # applyInPandas grouped-map face, asserted-identical -> same oracle
    "lang_zscore_pandas", _pipe.lang_zscore_pandas, _pipe.ORACLE_LANG_ZSCORE
)
register("trade_pagerank", _graph.trade_pagerank, _graph.ORACLE_TRADE_PAGERANK)
# ranks.py offset join-back made null-safe this round — every
# exact_group_rank / exact_group_cumsum caller re-verifies:
register("seq_pack_bins", _pipe.seq_pack_bins, _pipe.ORACLE_SEQ_PACK_BINS)
register("seq_pack_concat", _pipe.seq_pack_concat, _pipe.ORACLE_SEQ_PACK_CONCAT)
register("shard_assign", _pipe.shard_assign, _pipe.ORACLE_SHARD_ASSIGN)
register("lang_zscore", _pipe.lang_zscore, _pipe.ORACLE_LANG_ZSCORE)

# --- Round-5 additions ---------------------------------------------------
register(
    "sliding_window_chunks",
    _train.sliding_window_chunks,
    _train.ORACLE_SLIDING_WINDOW_CHUNKS,
)
register(
    "curriculum_order", _train.curriculum_order, _train.ORACLE_CURRICULUM_ORDER
)
register(
    "language_confusion_matrix",
    _text.language_confusion_matrix,
    _text.ORACLE_LANGUAGE_CONFUSION_MATRIX,
)
register("skew_profile", _skew.skew_profile, _skew.ORACLE_SKEW_PROFILE)
register("unpivot_agg", _agg.unpivot_agg, _agg.ORACLE_UNPIVOT_AGG)
register(
    "grouping_sets_agg", _agg.grouping_sets_agg, _agg.ORACLE_GROUPING_SETS_AGG
)
register("timestamp_convert", _scalar.timestamp_convert, _scalar.ORACLE_TIMESTAMP_CONVERT)
register("cosine_scores_pandas", _sim.cosine_scores_pandas, _sim.ORACLE_COSINE_SCORES)
register(
    "simhash_fingerprints_pandas",
    _dedup.simhash_fingerprints_pandas,
    _dedup.ORACLE_SIMHASH_FINGERPRINTS,
)
register("substring_dedup", _corp.substring_dedup, _corp.ORACLE_SUBSTRING_DEDUP)
register(
    "source_mixture_weights",
    _pipe.source_mixture_weights,
    _pipe.ORACLE_SOURCE_MIXTURE_WEIGHTS,
)
register("embedding_quantize", _sim.embedding_quantize, _sim.ORACLE_EMBEDDING_QUANTIZE)
register(
    "salted_supplier_rollup", _skew.salted_supplier_rollup, _skew.ORACLE_SALTED_SUPPLIER_ROLLUP
)
register("hourly_event_rollup", _an.hourly_event_rollup, _an.ORACLE_HOURLY_EVENT_ROLLUP)
register("sessionize", _win.sessionize, _win.ORACLE_SESSIONIZE)
register("repetition_score", _pipe.repetition_score, _pipe.ORACLE_REPETITION_SCORE)

register(
    "ngram_contamination",
    _pipe.ngram_contamination,
    _pipe.ORACLE_NGRAM_CONTAMINATION,
)
register("hash_split", _pipe.hash_split, _pipe.ORACLE_HASH_SPLIT)
register(
    "stratified_sample", _pipe.stratified_sample, _pipe.ORACLE_STRATIFIED_SAMPLE
)
register("pii_scrub", _pipe.pii_scrub, _pipe.ORACLE_PII_SCRUB)
# NEW (round 10): the triage readout BEFORE the scrub action — per
# (lang, source) PII-type prevalence, sharing the scrubber's regexes
register(
    "pii_prevalence_report",
    _pipe.pii_prevalence_report,
    _pipe.ORACLE_PII_PREVALENCE_REPORT,
)
# NEW (round 11): the k-anonymity ACTION face — publish the QI count
# table with small cells suppressed into a reconciling residual row
register(
    "k_anonymize_release",
    _pipe.k_anonymize_release,
    _pipe.ORACLE_K_ANONYMIZE_RELEASE,
)
# NEW (round 9): structured-data privacy gate next to pii_scrub's text
# redaction
register(
    "k_anonymity_report",
    _pipe.k_anonymity_report,
    _pipe.ORACLE_K_ANONYMITY_REPORT,
)
# NEW (round 9): the homogeneity-attack companion gate — groups large
# enough to pass k-anonymity can still share one sensitive value
register(
    "l_diversity_report",
    _pipe.l_diversity_report,
    _pipe.ORACLE_L_DIVERSITY_REPORT,
)
# NEW (round 9): the third classic gate — distribution distance
# (normalized 1-D EMD) of each QI group vs the global sensitive mix
register(
    "t_closeness_report",
    _pipe.t_closeness_report,
    _pipe.ORACLE_T_CLOSENESS_REPORT,
)
# NEW (round 9): the decontamination ACTION ngram_contamination only
# diagnoses — drop flagged docs, emit the per-lang retention rollup
register(
    "decontaminate_corpus",
    _pipe.decontaminate_corpus,
    _pipe.ORACLE_DECONTAMINATE_CORPUS,
)
register("kmeans_assign", _pipe.kmeans_assign, _pipe.ORACLE_KMEANS_ASSIGN)
register("tfidf_top_terms", _text.tfidf_top_terms, _text.ORACLE_TFIDF_TOP_TERMS)
register("passage_dedup", _corp.passage_dedup, _corp.ORACLE_PASSAGE_DEDUP)
# NEW (round 9): CCNet/C4-style within-source boilerplate REMOVAL with
# verified cleaned-text reconstruction (the action passage_dedup only
# diagnoses)
register(
    "boilerplate_strip",
    _corp.boilerplate_strip,
    _corp.ORACLE_BOILERPLATE_STRIP,
)
register(
    "passage_source_matrix",
    _corp.passage_source_matrix,
    _corp.ORACLE_PASSAGE_SOURCE_MATRIX,
)
register("word_entropy", _corp.word_entropy, _corp.ORACLE_WORD_ENTROPY)
register(
    "embedding_centroids",
    _corp.embedding_centroids,
    _corp.ORACLE_EMBEDDING_CENTROIDS,
)
register(
    "interval_count_join",
    _joins.interval_count_join,
    _joins.ORACLE_INTERVAL_COUNT_JOIN,
)
register("risk_join", _risk.risk_join, _risk.ORACLE_RISK_JOIN)
register("price_histogram", _agg.price_histogram, _agg.ORACLE_PRICE_HISTOGRAM)
register("corr_panel", _agg.corr_panel, _agg.ORACLE_CORR_PANEL)
register("scd2_history", _win.scd2_history, _win.ORACLE_SCD2_HISTORY)
register("perplexity_score", _text.perplexity_score, _text.ORACLE_PERPLEXITY_SCORE)
register(
    "redis_envelope_decode", _env.redis_envelope_decode, _env.ORACLE_REDIS_ENVELOPE_DECODE
)
register("token_stats", _text.token_stats, _text.ORACLE_TOKEN_STATS)
register("quality_score", _text.quality_score, _text.ORACLE_QUALITY_SCORE)
register("language_id", _text.language_id, _text.ORACLE_LANGUAGE_ID)

register("doc_fingerprint", _text.doc_fingerprint, _text.ORACLE_DOC_FINGERPRINT)
register("exact_dedup", _dedup.exact_dedup, _dedup.ORACLE_EXACT_DEDUP)
register(
    "ngram_jaccard_pairs", _dedup.ngram_jaccard_pairs, _dedup.ORACLE_NGRAM_JACCARD_PAIRS
)
register(
    "minhash_signatures", _dedup.minhash_signatures_q, _dedup.ORACLE_MINHASH_SIGNATURES
)
register("minhash_lsh_pairs", _dedup.minhash_lsh_pairs, _dedup.ORACLE_MINHASH_LSH_PAIRS)
register(
    "simhash_fingerprints",
    _dedup.simhash_fingerprints,
    _dedup.ORACLE_SIMHASH_FINGERPRINTS,
)
register(
    "simhash_near_dup_pairs",
    _dedup.simhash_near_dup_pairs,
    _dedup.ORACLE_SIMHASH_NEAR_DUP_PAIRS,
)

# --- Similarity search — r2/r3 green ----------------------------------------
register(
    "cosine_topk_bruteforce",
    _sim.cosine_topk_bruteforce,
    _sim.ORACLE_COSINE_TOPK_BRUTEFORCE,
)
register("cosine_topk_ivf", _sim.cosine_topk_ivf, _sim.ORACLE_COSINE_TOPK_IVF)
register(
    "embedding_lsh_buckets",
    _sim.embedding_lsh_buckets,
    _sim.ORACLE_EMBEDDING_LSH_BUCKETS,
)
register("embedding_near_dup", _sim.embedding_near_dup, _sim.ORACLE_EMBEDDING_NEAR_DUP)

# --- Headline analytics (bench workload) — r2/r3 green -----------------------
register("pricing_summary", _an.pricing_summary, _an.ORACLE_PRICING_SUMMARY)
register("revenue_by_nation", _an.revenue_by_nation, _an.ORACLE_REVENUE_BY_NATION)
register(
    "top_unshipped_orders", _an.top_unshipped_orders, _an.ORACLE_TOP_UNSHIPPED_ORDERS
)

# --- Projections / filters (§2.3, P1-P9) — r1/r2 green ----------------------
register("cast_projection", _proj.cast_projection, _proj.ORACLE_CAST_PROJECTION)
register("json_parse_flatten", _proj.json_parse_flatten, _proj.ORACLE_JSON_PARSE_FLATTEN)
register("array_explode", _proj.array_explode, _proj.ORACLE_ARRAY_EXPLODE)
register("base64_roundtrip", _proj.base64_roundtrip, _proj.ORACLE_BASE64_ROUNDTRIP)
register("null_reject_filter", _proj.null_reject_filter, _proj.ORACLE_NULL_REJECT_FILTER)
register(
    "topic_dispatch_filter", _proj.topic_dispatch_filter, _proj.ORACLE_TOPIC_DISPATCH_FILTER
)
register("value_routing", _proj.value_routing, _proj.ORACLE_VALUE_ROUTING)
register("array_subscript", _proj.array_subscript, _proj.ORACLE_ARRAY_SUBSCRIPT)
register(
    "column_equality_filter",
    _proj.column_equality_filter,
    _proj.ORACLE_COLUMN_EQUALITY_FILTER,
)

# --- Joins (§2.4, J1-J3 + additions) — r1/r2 green --------------------------
register("join_broadcast_dim", _joins.join_broadcast_dim, _joins.ORACLE_JOIN_BROADCAST_DIM)
register(
    "join_enrichment_chain",
    _joins.join_enrichment_chain,
    _joins.ORACLE_JOIN_ENRICHMENT_CHAIN,
)
register("join_left", _joins.join_left, _joins.ORACLE_JOIN_LEFT)
register("join_asof", _joins.join_asof, _joins.ORACLE_JOIN_ASOF)
register("join_semi", _joins.join_semi, _joins.ORACLE_JOIN_SEMI)
register("join_anti", _joins.join_anti, _joins.ORACLE_JOIN_ANTI)
register("join_full_outer", _joins.join_full_outer, _joins.ORACLE_JOIN_FULL_OUTER)
register("join_cross", _joins.join_cross, _joins.ORACLE_JOIN_CROSS)

# --- Aggregations (§2.5, A1-A4 + additions) — r1/r2 green -------------------
register("grouped_count", _agg.grouped_count, _agg.ORACLE_GROUPED_COUNT)
register("latest_per_key", _agg.latest_per_key, _agg.ORACLE_LATEST_PER_KEY)
register("avg_per_group", _agg.avg_per_group, _agg.ORACLE_AVG_PER_GROUP)
register("stats_per_group", _agg.stats_per_group, _agg.ORACLE_STATS_PER_GROUP)
register("table_profile", _agg.table_profile, _agg.ORACLE_TABLE_PROFILE)
register("rollup_agg", _agg.rollup_agg, _agg.ORACLE_ROLLUP_AGG)
register("pivot_agg", _agg.pivot_agg, _agg.ORACLE_PIVOT_AGG)
register("distinct_values", _agg.distinct_values, _agg.ORACLE_DISTINCT_VALUES)
register("count_distinct", _agg.count_distinct, _agg.ORACLE_COUNT_DISTINCT)
register("approx_count_distinct", _agg.approx_count_distinct, None)  # estimator
register("quantile_sketch", _agg.quantile_sketch, None)  # estimator
register("cube_agg", _agg.cube_agg, _agg.ORACLE_CUBE_AGG)

# --- Windows / sorts / limits (§2.6) — r1/r2 green --------------------------
register("window_rank", _win.window_rank, _win.ORACLE_WINDOW_RANK)
register("window_running_sum", _win.window_running_sum, _win.ORACLE_WINDOW_RUNNING_SUM)
register("top_k_per_group", _win.top_k_per_group, _win.ORACLE_TOP_K_PER_GROUP)
register("sort_limit", _win.sort_limit, _win.ORACLE_SORT_LIMIT)
register("window_lag_lead", _win.window_lag_lead, _win.ORACLE_WINDOW_LAG_LEAD)


# --- Scalar functions (§2.7, F1-F12) — r1/r2 green --------------------------
register("split_derive", _scalar.split_derive, _scalar.ORACLE_SPLIT_DERIVE)
register("string_normalize", _scalar.string_normalize, _scalar.ORACLE_STRING_NORMALIZE)
register("case_when_mapping", _scalar.case_when_mapping, _scalar.ORACLE_CASE_WHEN_MAPPING)
register("date_parts", _scalar.date_parts, _scalar.ORACLE_DATE_PARTS)
register(
    "arithmetic_rounding", _scalar.arithmetic_rounding, _scalar.ORACLE_ARITHMETIC_ROUNDING
)
register("json_get", _scalar.json_get, _scalar.ORACLE_JSON_GET)
register(
    "json_map_explode", _scalar.json_map_explode, _scalar.ORACLE_JSON_MAP_EXPLODE
)

# --- Redundant faces sharing an in/previously-verified oracle ---------------
register("risk_join_sql", _risk.risk_join_sql, _risk.ORACLE_RISK_JOIN)  # dup face
# round-6 twin faces (VERDICT r5 item 6): plan-equality asserted in
# tests/test_round6_ops.py, oracles shared with the primary faces
register("unpivot_agg_sql", _agg.unpivot_agg_sql, _agg.ORACLE_UNPIVOT_AGG)
register(
    "grouping_sets_agg_df",
    _agg.grouping_sets_agg_df,
    _agg.ORACLE_GROUPING_SETS_AGG,
)

# NEW (round 10): driver-visible face of the observe-API guard metrics
# — proves the zero-extra-scan counters equal a direct aggregation.
# EAGER by necessity: unlike every other entry, building this frame
# RUNS a full-corpus action at construction time (observe counters
# only exist after the job they ride), so plan-only tooling (EXPLAIN
# sweeps, plan-shape tests) should skip it or accept the scan.
register(
    "guard_metrics_report",
    _metrics.guard_metrics_report,
    _metrics.ORACLE_GUARD_METRICS_REPORT,
)
# NEW (round 10): embedding-space eval-leakage gate — the semantic
# sibling of ngram_contamination (paraphrase leakage n-grams miss)
register(
    "semantic_contamination",
    _sim.semantic_contamination,
    _sim.ORACLE_SEMANTIC_CONTAMINATION,
)
# NEW (round 10): MOSS winnowing — position-robust substring
# fingerprints (the guarantee neither MinHash nor the full rolling
# hash provides)
register(
    "winnowing_fingerprints",
    _dedup.winnowing_fingerprints,
    _dedup.ORACLE_WINNOWING_FINGERPRINTS,
)
# NEW (round 10): the MOSS match stage over the winnowed index —
# capped inverted-index self-join, containment-of-the-smaller score
register(
    "winnowing_overlap_pairs",
    _dedup.winnowing_overlap_pairs,
    _dedup.ORACLE_WINNOWING_OVERLAP_PAIRS,
)
# NEW (round 10): winnowing's self-grading readout — per-source
# fingerprint density vs the theoretical 2/(w+1)
register(
    "winnowing_density_report",
    _dedup.winnowing_density_report,
    _dedup.ORACLE_WINNOWING_DENSITY_REPORT,
)
# NEW (round 10): cross-method validation of the two decontamination
# gates (verbatim n-gram vs paraphrase embedding), the
# dedup_method_agreement pattern
register(
    "contamination_method_agreement",
    _pipe.contamination_method_agreement,
    _pipe.ORACLE_CONTAMINATION_METHOD_AGREEMENT,
)
# NEW (round 10): pre-index vector-sanity gate — null / non-finite /
# zero-norm / ragged-dimension counts + norm stats per label, one scan
register(
    "embedding_health_report",
    _sim.embedding_health_report,
    _sim.ORACLE_EMBEDDING_HEALTH_REPORT,
)
# NEW (round 10): per-shard token-mass straggler readout for
# shard_assign — payload fused into the global-rank scan, no 2nd scan
register(
    "shard_balance_report",
    _pipe.shard_balance_report,
    _pipe.ORACLE_SHARD_BALANCE_REPORT,
)
