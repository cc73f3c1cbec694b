"""Training-data pipeline operators beyond dedup/similarity (round-2
additions): repetition scoring, benchmark-contamination detection,
deterministic train/test splitting, stratified sampling, PII
scrubbing, and k-means clustering over the embedding column.

These are the remaining table-stakes operations of a 100 TB corpus
pipeline. Scale shapes:

- ``repetition_score`` / ``pii_scrub`` / ``hash_split`` are pure
  column expressions — one scan, zero shuffles, fully codegen'd.
- ``ngram_contamination`` broadcasts the (small) benchmark n-gram set
  against the corpus — the corpus shuffles once, on doc_id, for the
  per-doc rollup with map-side partial aggregation.
- ``stratified_sample`` is one window shuffle on the stratum key; the
  sample order is a salted hash, so the sample is deterministic,
  uniform within stratum, and reproducible across engines — no RNG.
- ``kmeans_assign`` broadcasts K centroids and scans the corpus once;
  the Lloyd loop (:func:`kmeans_lloyd`) collects only the K×dim
  centroid matrix per iteration (the textbook distributed k-means
  shape — centroids are driver-state, points never move).

Everything is deterministic integer/float arithmetic with a DuckDB
oracle; no RNG, no Python in the JVM-expressible paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.operators.exprcache import cached_expr
from udacity_dsnd_projects_spark.sources.catalog import load_table

#: Split-hash constants (same family as dedup's MinHash permutations —
#: large multiplier so buckets decorrelate from id order).
SPLIT_A, SPLIT_B, SPLIT_MOD = 2654435761, 40503, 2147483647
TRAIN_PCT = 90
#: Stratified sample size per stratum.
SAMPLE_K = 20
#: Contamination n-gram order: 4-grams — long enough that cross-doc
#: collisions mean real shared phrasing on the synthetic corpus, short
#: enough that the report is non-trivial at test scale (production
#: text uses 13-grams per the usual decontamination rule — it's one
#: constant).
CONTAM_N = 4
#: Benchmark stand-in: every 97th doc plays the role of an eval set.
BENCH_MOD = 97
#: k-means: first K vectors are the deterministic initial centroids.
KMEANS_K = 8


def _toks(col: str = "text") -> Column:
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Array of word n-grams as strings (concat-joined)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda j: F.concat_ws(
            " ", *[F.element_at(toks, j + i) for i in range(n)]
        ),
    )


_ORACLE_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def _oracle_ngrams(n: int, toks: str = "toks") -> str:
    parts = " || ' ' || ".join(f"{toks}[j + {i}]" for i in range(n))
    return f"list_transform(range(1, len({toks}) - {n - 2}), j -> {parts})"


# --------------------------------------------------------------------------
# Repetition score (Gopher-style within-doc duplication signal)
# --------------------------------------------------------------------------
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of repeated word-3-grams inside each document — the
    classic quality signal for boilerplate/looping text (a high value
    means the doc repeats itself). One scan, no shuffle, no UDF."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", _toks().alias("t")).filter(F.size("t") >= 3)
    sh = _word_ngrams(F.col("t"), 3)
    d = d.select("doc_id", F.size(sh).alias("n_ngrams"),
                 F.size(F.array_distinct(sh)).alias("n_distinct"))
    return d.select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        F.round(1 - F.col("n_distinct") / F.col("n_ngrams"), 5).alias("repetition"),
    )


ORACLE_REPETITION_SCORE = f"""
WITH d AS (
  SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents
  WHERE len({_ORACLE_TOKS}) >= 3
), g AS (
  SELECT doc_id, {_oracle_ngrams(3)} AS sh FROM d
)
SELECT doc_id,
       len(sh) AS n_ngrams,
       len(list_distinct(sh)) AS n_distinct,
       ROUND(1 - len(list_distinct(sh)) * 1.0 / len(sh), 5) AS repetition
FROM g
"""


# --------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap against an eval set)
# --------------------------------------------------------------------------
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination report: for every corpus document, the number
    and fraction of its distinct word-``CONTAM_N``-grams appearing in the
    benchmark set (docs with ``doc_id % 97 == 0`` stand in for an eval
    suite). Only contaminated docs are emitted.

    Scale: the benchmark n-gram set is tiny relative to the corpus →
    broadcast hash join against the exploded corpus n-grams; the only
    corpus shuffle is the per-doc count rollup (map-side combine
    shrinks it to one row per doc before the exchange)."""
    return contamination_for(load_table(spark, "documents", sf_dir))


def contamination_for(docs: DataFrame) -> DataFrame:
    """Contamination report over an arbitrary (doc_id, text) frame —
    see :func:`ngram_contamination`. The ``% BENCH_MOD`` slice of
    ``docs`` plays the benchmark; inject a real eval table through
    :func:`ngram_contamination_against`."""
    return ngram_contamination_against(
        docs.filter(F.col("doc_id") % BENCH_MOD != 0),
        docs.filter(F.col("doc_id") % BENCH_MOD == 0),
    )


def _contam_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, g) exploded distinct CONTAM_N-gram rows."""
    d = docs.select("doc_id", _toks().alias("t")).filter(F.size("t") >= CONTAM_N)
    sh = d.select(
        "doc_id", F.array_distinct(_word_ngrams(F.col("t"), CONTAM_N)).alias("sh")
    )
    # explode_outer, not explode: plain explode lets Catalyst infer a
    # size(sh)>0 filter below the projection, re-evaluating the n-gram
    # expression twice per row (see dedup.ngram_jaccard_pairs). The
    # filter above guarantees ≥1 n-gram, so outer semantics are equal.
    return sh.select(
        "doc_id", F.size("sh").alias("n_grams"), F.explode_outer("sh").alias("g")
    )


def ngram_contamination_against(
    corpus_docs: DataFrame, benchmark_docs: DataFrame
) -> DataFrame:
    """:func:`ngram_contamination` over an INJECTED benchmark frame —
    the ``strip_against_index`` pattern: the registry query keeps the
    oracle-checkable ``% BENCH_MOD`` instantiation, while a real
    pipeline passes its actual eval suite here. Both frames expose
    (doc_id, text); the gram derivation is shared
    (:func:`_contam_grams`), so the two faces can never drift on the
    tokenizer or n-gram rules.

    Composability: the corpus side is one scan → broadcast-join →
    slim per-doc rollup, so inside ``foreachBatch`` each crawl
    micro-batch screens against the (static, re-broadcast) benchmark
    gram set; at scale, materialize the benchmark's distinct-gram
    frame once (it is eval-suite-sized) and pass a pre-grammed
    ``benchmark_docs`` so it is not re-derived per batch."""
    bench = _contam_grams(benchmark_docs).select("g").distinct()
    corpus = _contam_grams(corpus_docs)
    hits = corpus.join(F.broadcast(bench), "g")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.first("n_grams").alias("n_grams"),
        )
        .select(
            "doc_id",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 5).alias(
                "contamination"
            ),
        )
    )


ORACLE_NGRAM_CONTAMINATION = f"""
WITH d AS (
  SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents
  WHERE len({_ORACLE_TOKS}) >= {CONTAM_N}
), g AS (
  SELECT doc_id, list_distinct({_oracle_ngrams(CONTAM_N)}) AS sh FROM d
), ex AS (
  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM g
), bench AS (
  SELECT DISTINCT g FROM ex WHERE doc_id % {BENCH_MOD} = 0
)
SELECT e.doc_id,
       COUNT(*) AS n_contaminated,
       ROUND(COUNT(*) * 1.0 / ANY_VALUE(e.n_grams), 5) AS contamination
FROM ex e JOIN bench b ON e.g = b.g
WHERE e.doc_id % {BENCH_MOD} <> 0
GROUP BY e.doc_id
"""


#: Contamination drop threshold: a doc whose (rounded) contaminated
#: ``CONTAM_N``-gram share reaches this is removed from the training
#: corpus. A SPEC constant like BOILER_MIN_DOCS, not a test gate:
#: calibrated once to the synthetic corpus (median contamination
#: ~0.016 from incidental 4-gram overlap) so it fires at every SF;
#: the accounting test checks internal consistency against the
#: contamination report rather than assuming any fixed firing rate.
CONTAM_DROP = 0.02


def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the action
    :func:`ngram_contamination` only diagnoses (the same report/action
    split as ``passage_dedup`` → ``boilerplate_strip``): docs whose
    contaminated n-gram share reaches :data:`CONTAM_DROP` are removed
    from the training corpus, and the per-language retention rollup is
    emitted — (lang, n_docs, n_dropped, n_kept, kept_tokens,
    drop_rate) — the accounting a pipeline records before training so
    eval-set leakage is provably gated, not hoped away.

    The universe is every NON-benchmark doc (benchmark stand-ins are
    the eval set itself, not training candidates); docs too short to
    carry a single ``CONTAM_N``-gram can't be contaminated and are
    kept. The flag filter applies to the ROUNDED contamination column
    (5 dp) so the gate is the exact value both engines print —
    borderline docs can't flip on last-ulp division noise.

    Scale shape: THREE document scans, deliberately — (1) the corpus
    n-gram scan feeding the broadcast-benchmark join and per-doc
    rollup, (2) the benchmark-side n-gram derivation (its
    ``doc_id % BENCH_MOD = 0`` filter is pushed into the scan and
    selects ~1% of docs; in a production deployment the benchmark is
    its own small table and this scan disappears), and (3) the slim
    (doc_id, lang, token-count) scan the flagged ids left-join back
    onto (AQE broadcasts the flag frame when small; sort-merge
    co-partitioned on doc_id otherwise) before the per-lang groupBy
    reduces map-side to |langs| rows. Unlike ``boilerplate_strip``
    the shared gram frame is NOT checkpointed: its keys are raw
    n-gram text (not 32-byte hashes), so materializing it costs more
    than the one extra pruned scan it would save. Nothing is
    collected."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text"
    )
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    flagged = (
        contamination_for(docs)
        .filter(F.col("contamination") >= CONTAM_DROP)
        .select("doc_id", F.lit(1).alias("__drop"))
    )
    joined = corpus.join(flagged, "doc_id", "left")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("__drop", F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("__drop").isNull(), F.size(_toks())).otherwise(0)
            ).alias("kept_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_dropped",
            (F.col("n_docs") - F.col("n_dropped")).alias("n_kept"),
            "kept_tokens",
            F.round(F.col("n_dropped") / F.col("n_docs"), 6).alias(
                "drop_rate"
            ),
        )
    )


ORACLE_DECONTAMINATE_CORPUS = f"""
WITH d AS (
  SELECT doc_id, {_ORACLE_TOKS} AS toks FROM documents
  WHERE len({_ORACLE_TOKS}) >= {CONTAM_N}
), g AS (
  SELECT doc_id, list_distinct({_oracle_ngrams(CONTAM_N)}) AS sh FROM d
), ex AS (
  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM g
), bench AS (
  SELECT DISTINCT g FROM ex WHERE doc_id % {BENCH_MOD} = 0
), flagged AS (
  SELECT e.doc_id FROM ex e JOIN bench b ON e.g = b.g
  WHERE e.doc_id % {BENCH_MOD} <> 0
  GROUP BY e.doc_id
  HAVING ROUND(COUNT(*) * 1.0 / ANY_VALUE(e.n_grams), 5) >= {CONTAM_DROP}
)
SELECT c.lang,
       COUNT(*) AS n_docs,
       CAST(COUNT(f.doc_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(f.doc_id) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN f.doc_id IS NULL
                THEN len({_ORACLE_TOKS.replace("text", "c.text")})
                ELSE 0 END) AS BIGINT) AS kept_tokens,
       ROUND(COUNT(f.doc_id) * 1.0 / COUNT(*), 6) AS drop_rate
FROM documents c LEFT JOIN flagged f ON c.doc_id = f.doc_id
WHERE c.doc_id % {BENCH_MOD} <> 0
GROUP BY c.lang
"""


# --------------------------------------------------------------------------
# Deterministic train/test split
# --------------------------------------------------------------------------
def split_assign(doc_id: Column) -> Column:
    """'train' or 'test' by salted-hash bucket — deterministic,
    engine-independent, stable under corpus growth (a doc's split
    never depends on other rows)."""
    bucket = (doc_id * SPLIT_A + SPLIT_B) % SPLIT_MOD % 100
    return F.when(bucket < TRAIN_PCT, F.lit("train")).otherwise(F.lit("test"))


def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split doc/token totals for the 90/10 deterministic split —
    the sanity report a pipeline emits before training. One scan, one
    two-row aggregation."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(split_assign(F.col("doc_id")).alias("split"),
                    F.size(_toks()).alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


ORACLE_HASH_SPLIT = f"""
SELECT CASE WHEN (doc_id * {SPLIT_A} + {SPLIT_B}) % {SPLIT_MOD} % 100 < {TRAIN_PCT}
            THEN 'train' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_ORACLE_TOKS})) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Stratified sampling
# --------------------------------------------------------------------------
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K docs per language, chosen by salted-hash order — a
    deterministic, reproducible uniform sample within each stratum
    (the standard eval-subset / inspection-sample primitive). The
    ``row_number() <= K`` filter triggers Catalyst's WindowGroupLimit
    pushdown (plan-asserted in tests): every map task pre-limits to K
    rows per stratum BEFORE the exchange, so the low-cardinality
    stratum key never funnels the full table — only strata × K × tasks
    rows reach the final per-stratum sort."""
    docs = load_table(spark, "documents", sf_dir)
    h = (F.col("doc_id") * SPLIT_A + F.lit(SPLIT_B)) % SPLIT_MOD
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .select("lang", "doc_id", F.col("rn").alias("sample_rank"))
    )


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT lang, doc_id, sample_rank FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * {SPLIT_A} + {SPLIT_B}) % {SPLIT_MOD}, doc_id
         ) AS sample_rank
  FROM documents
) t WHERE sample_rank <= {SAMPLE_K}
"""


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------
#: Conservative patterns that parse identically in Java regex (Spark)
#: and RE2 (DuckDB): no backrefs, no lookaround.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_URL = r"https?://[A-Za-z0-9./_-]+"
RE_PHONE = r"\+[0-9][0-9-]{7,}"


def scrub_pii(text: Column) -> Column:
    """Redact emails, URLs, and phone numbers with typed placeholders.
    Order matters: emails first (their domains would otherwise be
    half-eaten by the URL rule's character class), then URLs, then
    phones."""
    s = F.regexp_replace(text, RE_EMAIL, "<EMAIL>")
    s = F.regexp_replace(s, RE_URL, "<URL>")
    return F.regexp_replace(s, RE_PHONE, "<PHONE>")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-scrub report over the corpus. The synthetic documents
    contain no PII, so the query PLANTS a deterministic email/URL/
    phone preamble per doc (same construction in the oracle) and then
    scrubs it — the operator does real redaction work and the result
    is exactly checkable. Pure regexp column expressions: one scan,
    no shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    planted = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" tel +1-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.col("text"),
    )
    d = docs.select("doc_id", planted.alias("s"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(RE_EMAIL)).alias("n_emails"),
        scrub_pii(F.col("s")).alias("scrubbed"),
    )


ORACLE_PII_SCRUB = f"""
WITH d AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com or https://example.com/d/'
           || CAST(doc_id AS VARCHAR)
           || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' ' || text AS s
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(s, '{RE_EMAIL}')) AS n_emails,
       regexp_replace(
         regexp_replace(
           regexp_replace(s, '{RE_EMAIL}', '<EMAIL>', 'g'),
           '{RE_URL}', '<URL>', 'g'),
         '{RE_PHONE}', '<PHONE>', 'g') AS scrubbed
FROM d
"""


def pii_prevalence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII prevalence readout — the triage gate BEFORE
    :func:`pii_scrub` runs: per (lang, source) stratum, how many
    documents contain each PII type (email / URL / phone, the same
    :data:`RE_EMAIL`/:data:`RE_URL`/:data:`RE_PHONE` patterns the
    scrubber redacts — shared constants, so the report can never count
    a different PII definition than the action removes), total
    occurrences per type, and the share of documents carrying ANY PII.
    A source whose prevalence jumps between crawls changed its content
    mix (a forum dump, a leaked-credential paste site) and needs
    review, not just scrubbing. One row per stratum.

    The synthetic corpus contains no PII, so the query PLANTS
    deterministic per-type snippets on doc_id-modulus subsets
    (email on ``% 3``, URL on ``% 5``, phone on ``% 7`` — same
    construction in the oracle), giving every stratum a verifiable
    non-trivial mix — the same plant-then-measure pattern as
    :func:`pii_scrub`, but conditional, so prevalence VARIES.

    Scale shape: pure regexp column expressions (Java/RE2-portable,
    no lookaround) — one documents scan, per-doc counts folded by a
    map-side-combinable (lang, source) groupBy into a strata-sized
    frame. No shuffle of text, no UDF, no collect."""
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id").cast("string")
    s = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("contact user"), did, F.lit("@example.com ")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("see https://example.com/d/"), did, F.lit(" ")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("tel +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" "),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
    )
    per = docs.select(
        "lang",
        "source",
        F.regexp_count(s, F.lit(RE_EMAIL)).cast("long").alias("e"),
        F.regexp_count(s, F.lit(RE_URL)).cast("long").alias("u"),
        F.regexp_count(s, F.lit(RE_PHONE)).cast("long").alias("p"),
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("e") > 0).cast("long")).alias("docs_email"),
            F.sum((F.col("u") > 0).cast("long")).alias("docs_url"),
            F.sum((F.col("p") > 0).cast("long")).alias("docs_phone"),
            F.sum("e").alias("n_emails"),
            F.sum("u").alias("n_urls"),
            F.sum("p").alias("n_phones"),
            F.sum(
                ((F.col("e") + F.col("u") + F.col("p")) > 0).cast("long")
            ).alias("docs_any_pii"),
        )
        .withColumn(
            "pii_doc_share",
            F.round(F.col("docs_any_pii") / F.col("n_docs"), 6),
        )
    )


ORACLE_PII_PREVALENCE_REPORT = f"""
WITH d AS (
  SELECT lang, source,
         CASE WHEN doc_id % 3 = 0
              THEN 'contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com ' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN 'see https://example.com/d/'
                      || CAST(doc_id AS VARCHAR) || ' ' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN 'tel +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' ' ELSE '' END
         || text AS s
  FROM documents
), per AS (
  SELECT lang, source,
         len(regexp_extract_all(s, '{RE_EMAIL}')) AS e,
         len(regexp_extract_all(s, '{RE_URL}')) AS u,
         len(regexp_extract_all(s, '{RE_PHONE}')) AS p
  FROM d
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
       CAST(SUM(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
       CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
       CAST(SUM(e) AS BIGINT) AS n_emails,
       CAST(SUM(u) AS BIGINT) AS n_urls,
       CAST(SUM(p) AS BIGINT) AS n_phones,
       CAST(SUM(CASE WHEN e + u + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_any_pii,
       ROUND(SUM(CASE WHEN e + u + p > 0 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS pii_doc_share
FROM per GROUP BY lang, source
"""


#: k-anonymity alarm threshold: rows in quasi-identifier groups smaller
#: than this are flagged as re-identifiable in the release audit.
K_ANON_THRESHOLD = 5


def _bal_band() -> Column:
    """Account-balance band — the banded attribute BOTH privacy gates
    share (k-anonymity's third QI column; l-diversity's sensitive
    attribute). One definition so the two audits can never silently
    band differently; :data:`_ORACLE_BAL_BAND` is its oracle twin."""
    return F.floor(F.col("c_acctbal") / 1000).cast("long")


_ORACLE_BAL_BAND = "CAST(FLOOR(c_acctbal / 1000) AS BIGINT)"


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit — the structured-data privacy gate
    next to :func:`pii_scrub`'s text redaction: before a corpus with
    user-derived fields ships, count how many rows sit in
    quasi-identifier groups small enough to re-identify. QI here is
    (nation, market segment, account-balance band) over the customer
    table; the report is one row — (n_rows, n_groups, k_min, rows_k1,
    rows_k_lt{K}, pct_k1, pct_k_lt{K}) — where ``k_min`` is the
    worst-case anonymity of the release and ``rows_k1`` the uniquely
    identifiable rows that must be suppressed or generalized.

    Scale shape: a two-level aggregation — the QI groupBy reduces
    map-side to one row per group (the only data-sized shuffle), and
    the audit itself aggregates that metadata-sized group frame to a
    single row. Integer counts throughout; no window, no collect."""
    cust = load_table(spark, "customer", sf_dir)
    k = F.col("k")
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        _bal_band().alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    agg = g.agg(
        F.sum("k").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("k").alias("k_min"),
        F.sum(F.when(k == 1, k).otherwise(0)).alias("rows_k1"),
        F.sum(F.when(k < K_ANON_THRESHOLD, k).otherwise(0)).alias(
            "rows_k_lt5"
        ),
    )
    return agg.select(
        "n_rows",
        "n_groups",
        "k_min",
        "rows_k1",
        "rows_k_lt5",
        F.round(F.col("rows_k1") / F.col("n_rows"), 6).alias("pct_k1"),
        F.round(F.col("rows_k_lt5") / F.col("n_rows"), 6).alias("pct_k_lt5"),
    )


ORACLE_K_ANONYMITY_REPORT = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         {_ORACLE_BAL_BAND} AS bal_band,
         COUNT(*) AS k
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       MIN(k) AS k_min,
       CAST(SUM(CASE WHEN k = 1 THEN k ELSE 0 END) AS BIGINT) AS rows_k1,
       CAST(SUM(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END)
            AS BIGINT) AS rows_k_lt5,
       ROUND(SUM(CASE WHEN k = 1 THEN k ELSE 0 END) * 1.0 / SUM(k), 6)
         AS pct_k1,
       ROUND(SUM(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END) * 1.0
             / SUM(k), 6) AS pct_k_lt5
FROM g
"""


def k_anonymize_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymized RELEASE — the action :func:`k_anonymity_report`
    only audits (the report→action split of ``pii_scrub`` /
    ``decontaminate_corpus``): publish the QI
    group-count table with every group under :data:`K_ANON_THRESHOLD`
    SUPPRESSED, its mass folded into one NULL-keyed residual row so
    the released totals still reconcile (classic small-cell
    suppression, the SDC rule census releases apply). One row per
    publishable group — (c_nationkey, c_mktsegment, bal_band, n_rows,
    n_groups=1, suppressed=0) — plus, when anything was suppressed,
    a single residual row with NULL QI columns carrying the summed
    suppressed rows and group count (suppressed=1). A zero-row
    warehouse yields an empty release (no residual row), per the
    analytics degenerate-input contract.

    Scale shape: identical to the report — one data-sized QI groupBy
    with map-side combine; the publish/suppress split and the residual
    fold both run on the metadata-sized group frame."""
    cust = load_table(spark, "customer", sf_dir)
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        _bal_band().alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    k = F.col("k")
    pub = g.filter(k >= K_ANON_THRESHOLD).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        k.alias("n_rows"),
        F.lit(1).cast("long").alias("n_groups"),
        F.lit(0).alias("suppressed"),
    )
    residual = (
        g.filter(k < K_ANON_THRESHOLD)
        .agg(
            F.sum("k").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .filter(F.col("n_groups") > 0)
        .select(
            F.lit(None).cast("long").alias("c_nationkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
            F.lit(None).cast("string").alias("bal_band"),
            "n_rows",
            "n_groups",
            F.lit(1).alias("suppressed"),
        )
    )
    return pub.unionByName(residual)


def _oracle_k_anonymize_release() -> str:
    return f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         {_ORACLE_BAL_BAND} AS bal_band,
         COUNT(*) AS k
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, bal_band,
       k AS n_rows, CAST(1 AS BIGINT) AS n_groups, 0 AS suppressed
FROM g WHERE k >= {K_ANON_THRESHOLD}
UNION ALL
SELECT NULL, NULL, NULL,
       CAST(SUM(k) AS BIGINT), COUNT(*), 1
FROM g WHERE k < {K_ANON_THRESHOLD}
HAVING COUNT(*) > 0
"""


ORACLE_K_ANONYMIZE_RELEASE = _oracle_k_anonymize_release()


#: l-diversity alarm threshold: QI groups whose sensitive attribute
#: takes fewer than this many distinct values are homogeneity-attack
#: exposed even when the group is large enough to pass k-anonymity.
L_DIVERSITY = 3


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release audit — the homogeneity-attack companion to
    :func:`k_anonymity_report` (Machanavajjhala et al. 2007): a QI
    group can be k-anonymous yet leak the sensitive attribute outright
    when every member SHARES it, so the gate here is distinct sensitive
    values per group, not group size. QI is (nation, market segment)
    over the customer table with the account-balance band as the
    sensitive attribute; the report is one row — (n_rows, n_groups,
    l_min, groups_l_lt{L}, rows_l_lt{L}, pct_rows_l_lt{L}) — where
    ``l_min`` is the worst-case diversity of the release and the
    ``lt{L}`` columns size the exposure needing generalization.

    Scale shape: identical to the k-anonymity gate — the QI groupBy is
    the only data-sized shuffle (count + count-distinct reduce
    map-side via partial aggregation), and the audit aggregates that
    metadata-sized group frame to a single row. No window, no
    collect."""
    cust = load_table(spark, "customer", sf_dir)
    lcol = F.col("l")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(_bal_band()).alias("l"),
    )
    agg = g.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l").alias("l_min"),
        F.sum((lcol < L_DIVERSITY).cast("long")).alias("groups_l_lt3"),
        F.sum(F.when(lcol < L_DIVERSITY, F.col("n")).otherwise(0)).alias(
            "rows_l_lt3"
        ),
    )
    return agg.select(
        "n_rows",
        "n_groups",
        "l_min",
        "groups_l_lt3",
        "rows_l_lt3",
        F.round(F.col("rows_l_lt3") / F.col("n_rows"), 6).alias(
            "pct_rows_l_lt3"
        ),
    )


ORACLE_L_DIVERSITY_REPORT = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
         COUNT(DISTINCT {_ORACLE_BAL_BAND}) AS l
  FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       MIN(l) AS l_min,
       CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_l_lt3,
       CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN n ELSE 0 END) AS BIGINT)
         AS rows_l_lt3,
       ROUND(SUM(CASE WHEN l < {L_DIVERSITY} THEN n ELSE 0 END) * 1.0
             / SUM(n), 6) AS pct_rows_l_lt3
FROM g
"""


#: t-closeness alarm threshold: QI groups whose sensitive-value
#: distribution sits further than this (normalized 1-D EMD) from the
#: global distribution leak a skew attackers exploit even when the
#: group is large (k) and varied (l). Spec constant, like the k/l
#: gates; the tests check internal consistency, not a firing rate.
T_CLOSENESS = 0.2


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit — the third classic privacy gate
    (Li, Li & Venkatasubramanian 2007) after
    :func:`k_anonymity_report` and :func:`l_diversity_report`: a group
    can be large AND varied yet still reveal that its members skew
    toward one end of the sensitive attribute, so the gate here is the
    DISTANCE between each QI group's sensitive-value distribution and
    the global one. Sensitive attribute is the ordered balance band
    (:func:`_bal_band`), so the distance is the 1-D earth-mover's
    distance — sum of |cumulative p − cumulative q| over the band
    order, normalized by (m − 1) bands into [0, 1]. One row:
    (n_rows, n_groups, t_max, groups_t_gt, rows_t_gt, pct_rows_t_gt).

    Scale shape: the ONLY data-sized operation is the first
    (QI, band) groupBy (map-side partial aggregation); everything
    after runs on dimension-bounded frames — groups are
    nation × segment and bands span the fixed balance domain, so the
    group × band grid (built by cross join so zero-count cells exist,
    then left-joined onto the cell counts) is a few thousand rows at
    ANY corpus size. The cumulative sum is a window over that
    metadata-sized grid, never over data. The cell frame is eagerly
    checkpointed: FOUR consumers read it (group totals, band totals,
    the global roll, the grid join-back) and without materialization
    each re-executes the customer scan + data-sized groupBy —
    measured 4 FileScans in the un-checkpointed plan; the
    checkpointed rows are groups × bands at most. No collect."""
    cust = load_table(spark, "customer", sf_dir)
    cell = (
        cust.select(
            "c_nationkey", "c_mktsegment", _bal_band().alias("band")
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    grp = cell.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n").alias("grp_n")
    )
    band = cell.groupBy("band").agg(F.sum("n").alias("band_n"))
    glob = band.agg(
        F.sum("band_n").alias("tot"),
        F.count(F.lit(1)).alias("m"),
        F.max("band").alias("band_max"),
    )
    grid = (
        grp.crossJoin(F.broadcast(band))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .crossJoin(F.broadcast(glob))
    )
    diff = F.coalesce(F.col("n"), F.lit(0)) / F.col("grp_n") - F.col(
        "band_n"
    ) / F.col("tot")
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the final band's cumulative diff is 0 by construction — exclude
    # it so float noise there can't leak into the sum
    # cross-engine float rule: each |cumulative| term is rounded to
    # 8 dp and summed as DECIMAL (exact, order-independent), so a
    # different summation order in the other engine cannot flip a
    # last-ulp value at the 6-dp rounding boundary — same convention
    # as the MinHash/SimHash calibration reports
    # the exclusion is a CONDITIONAL inside the aggregate (not a row
    # filter) so every group survives even a single-band sensitive
    # domain, where the grid holds only band_max rows; m == 1 means
    # the global distribution is one point mass and every group
    # trivially matches it — t is 0 by definition (0/0 otherwise)
    per_group = (
        grid.withColumn("__cum", F.sum(diff).over(w))
        .groupBy("c_nationkey", "c_mktsegment", "grp_n", "m")
        .agg(
            F.sum(
                F.when(
                    F.col("band") < F.col("band_max"),
                    F.round(F.abs(F.col("__cum")), 8).cast("decimal(30,10)"),
                )
            ).alias("__emd_dec")
        )
        .select(
            "grp_n",
            F.when(F.col("m") == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("__emd_dec").cast("double") / (F.col("m") - 1), 6
                )
            )
            .alias("t"),
        )
    )
    agg = per_group.agg(
        F.sum("grp_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.max("t").alias("t_max"),
        F.sum((F.col("t") > T_CLOSENESS).cast("long")).alias("groups_t_gt"),
        F.sum(
            F.when(F.col("t") > T_CLOSENESS, F.col("grp_n")).otherwise(0)
        ).alias("rows_t_gt"),
    )
    return agg.select(
        "n_rows",
        "n_groups",
        "t_max",
        "groups_t_gt",
        "rows_t_gt",
        F.round(F.col("rows_t_gt") / F.col("n_rows"), 6).alias(
            "pct_rows_t_gt"
        ),
    )


ORACLE_T_CLOSENESS_REPORT = f"""
WITH cell AS (
  SELECT c_nationkey, c_mktsegment, {_ORACLE_BAL_BAND} AS band,
         COUNT(*) AS n
  FROM customer GROUP BY 1, 2, 3
), grp AS (
  SELECT c_nationkey, c_mktsegment, SUM(n) AS grp_n
  FROM cell GROUP BY 1, 2
), band AS (
  SELECT band, SUM(n) AS band_n FROM cell GROUP BY 1
), totals AS (
  SELECT SUM(band_n) AS tot, COUNT(*) AS m, MAX(band) AS band_max
  FROM band
), grid AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.grp_n, b.band, b.band_n,
         gl.tot, gl.m, gl.band_max, COALESCE(c.n, 0) AS n
  FROM grp g CROSS JOIN band b CROSS JOIN totals gl
  LEFT JOIN cell c ON c.c_nationkey = g.c_nationkey
   AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band
), cum AS (
  SELECT c_nationkey, c_mktsegment, grp_n, m, band, band_max,
         SUM(n * 1.0 / grp_n - band_n * 1.0 / tot) OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM grid
), per_group AS (
  SELECT grp_n,
         CASE WHEN ANY_VALUE(m) = 1 THEN 0.0
              ELSE ROUND(CAST(SUM(CASE WHEN band < band_max THEN
                           CAST(ROUND(ABS(c), 8) AS DECIMAL(30,10)) END)
                         AS DOUBLE) / (ANY_VALUE(m) - 1), 6) END AS t
  FROM cum
  GROUP BY c_nationkey, c_mktsegment, grp_n
)
SELECT CAST(SUM(grp_n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       MAX(t) AS t_max,
       CAST(SUM(CASE WHEN t > {T_CLOSENESS} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_t_gt,
       CAST(SUM(CASE WHEN t > {T_CLOSENESS} THEN grp_n ELSE 0 END)
            AS BIGINT) AS rows_t_gt,
       ROUND(SUM(CASE WHEN t > {T_CLOSENESS} THEN grp_n ELSE 0 END) * 1.0
             / SUM(grp_n), 6) AS pct_rows_t_gt
FROM per_group
"""


# --------------------------------------------------------------------------
# k-means over the embedding column
# --------------------------------------------------------------------------
def _l2(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def assign_to_centroids(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffles: the K centroids
    are driver-state (k×dim floats — the same thing MLlib broadcasts
    every Lloyd step), inlined as literal arrays, and the argmin runs
    per row via ``array_min`` over (distance, cluster) structs, which
    orders lexicographically — exactly the (l2, cluster) tie-break.
    The corpus is scanned once and never leaves its partitions; the
    alternative broadcast-join + per-vec window would shuffle K× the
    corpus just to pick a row group's minimum."""
    return emb.select("vec_id", _nearest(centroids).alias("b")).select(
        "vec_id", F.col("b.cluster").alias("cluster"), F.col("b.dist").alias("dist")
    )


def _nearest(centroids: list[tuple[int, list[float]]]) -> Column:
    """(dist, cluster) struct of the nearest centroid to column ``v``
    — lexicographic array_min gives the L2-argmin with cluster-id
    tie-break, per row, no shuffle."""
    if not centroids:
        # Empty centroid state — an empty table, or the first batch of
        # an incremental pipeline before any seed vectors exist. A
        # literal F.array() of zero structs is VOID-typed and fails
        # ANALYSIS on field extraction, so return a typed NULL struct:
        # every row's assignment is NULL (unassigned), and an empty
        # input yields an empty, correctly-typed frame instead of an
        # AnalysisException.
        return F.lit(None).cast("struct<dist:double,cluster:bigint>")

    def build() -> Column:
        # each centroid vector renders as ONE parsed SQL array literal
        # instead of dim F.lit() py4j round trips (K=8 × dim=64 was
        # ~500 calls ≈ 0.5 s of driver latency per construction; the
        # string->double CAST parse is bit-exact — localframe._sql_value)
        from pyspark.sql import types as T

        from udacity_dsnd_projects_spark.operators.localframe import (
            _sql_value,
        )

        def vec(c: list[float]) -> Column:
            return F.expr(
                "array("
                + ",".join(_sql_value(float(x), T.DoubleType()) for x in c)
                + ")"
            )

        return F.array_min(
            F.array(
                *[
                    F.struct(
                        F.round(_l2(F.col("v"), vec(c)), 5).alias("dist"),
                        F.lit(cid).cast("long").alias("cluster"),
                    )
                    for cid, c in centroids
                ]
            )
        )

    # the finished argmin is an unresolved template over column "v" —
    # cache it per (app, centroid values) so every consumer (and every
    # Lloyd iteration's re-assignment with ITS centroids) builds it
    # once per session (operators/exprcache.py)
    spark = SparkSession.getActiveSession()
    if spark is None:
        return build()
    key = ("nearest", tuple((cid, tuple(c)) for cid, c in centroids))
    return cached_expr(spark, key, build)


def first_k_centroids(emb: DataFrame, k: int = KMEANS_K) -> list[tuple[int, list[float]]]:
    """Deterministic init: the first k vectors by vec_id, collected as
    driver state (k×dim doubles — metadata-sized, like any centroid
    broadcast)."""
    rows = emb.filter(F.col("vec_id") < k).select("vec_id", "v").collect()
    return [(int(r["vec_id"]), [float(x) for x in r["v"]]) for r in rows]


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic k-means assignment step: centroids are the
    first K vectors (vec_id < K), every vector goes to its nearest
    centroid by L2. This is the oracle-checkable face of
    :func:`kmeans_lloyd` (same assignment logic, fixed centroids)."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return assign_to_centroids(emb, first_k_centroids(emb))


ORACLE_KMEANS_ASSIGN = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cluster, v AS c FROM e WHERE vec_id < {KMEANS_K}
), scored AS (
  SELECT e.vec_id, c.cluster,
         ROUND(sqrt(list_reduce(list_prepend(0.0,
           list_transform(range(1, len(e.v) + 1),
                          i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))),
           (acc, x) -> acc + x)), 5) AS l2
  FROM e CROSS JOIN c
)
SELECT vec_id, cluster, dist FROM (
  SELECT vec_id, cluster, l2 AS dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY l2, cluster) AS rn
  FROM scored
) t WHERE rn = 1
"""


def kmeans_lloyd(emb: DataFrame, k: int = KMEANS_K, n_iters: int = 5) -> DataFrame:
    """Distributed Lloyd iterations with deterministic init (first k
    vectors by vec_id): assign → recompute centroids → repeat, fixed
    iteration count (no data-dependent convergence test, so runs are
    reproducible). Per iteration the corpus is scanned ONCE (the
    assignment is inlined into the same projection as the per-cluster
    sum, zero shuffles beyond the k-row aggregation exchange) and only
    the k×dim centroid matrix comes back to the driver — the textbook
    distributed k-means shape (points never move between executors;
    MLlib's KMeans collects the same matrix per step). Returns the
    final assignment (vec_id, cluster, dist)."""
    dim = emb.select(F.size("v").alias("d")).first()["d"]
    centroids = first_k_centroids(emb, k)
    for _ in range(n_iters):
        sums = (
            emb.select("v", _nearest(centroids).getField("cluster").alias("cluster"))
            .groupBy("cluster")
            .agg(
                F.array(*[F.sum(F.col("v")[i]) for i in range(dim)]).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        centroids = [
            (int(r["cluster"]), [s / r["n"] for s in r["s"]]) for r in sums
        ]
        centroids.sort()
    return assign_to_centroids(emb, centroids)


# --------------------------------------------------------------------------
# Per-stratum normalization (grouped-map applyInPandas face)
# --------------------------------------------------------------------------
def lang_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document token counts — the per-stratum
    feature-normalization primitive. JVM face: per-stratum moments via
    a map-side-combined ``groupBy`` (the stats frame is strata-sized —
    metadata) broadcast-joined back onto the rows. NOT a
    ``Window.partitionBy(lang)`` aggregate: an unordered window still
    gathers every row of a stratum into one task, so a handful of
    languages would funnel the whole corpus through a handful of
    tasks; the agg+broadcast shape keeps both passes fully parallel.
    Degenerate strata (zero variance) normalize to 0."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", "lang", F.size(_toks()).alias("n_tok"))
    stats = d.groupBy("lang").agg(
        F.avg("n_tok").alias("__mu"), F.stddev_pop("n_tok").alias("__sd")
    )
    z = F.when(F.col("__sd") == 0, F.lit(0.0)).otherwise(
        (F.col("n_tok") - F.col("__mu")) / F.col("__sd")
    )
    return d.join(F.broadcast(stats), "lang").select(
        "doc_id", "lang", "n_tok", F.round(z, 5).alias("z")
    )


ORACLE_LANG_ZSCORE = rf"""
WITH d AS (
  SELECT doc_id, lang, len({_ORACLE_TOKS}) AS n_tok FROM documents
)
SELECT doc_id, lang, n_tok,
       ROUND(CASE WHEN stddev_pop(n_tok) OVER (PARTITION BY lang) = 0
                  THEN 0.0
                  ELSE (n_tok - avg(n_tok) OVER (PARTITION BY lang))
                       / stddev_pop(n_tok) OVER (PARTITION BY lang)
             END, 5) AS z
FROM d
"""


#: Hard ceiling on rows per language stratum for the grouped-map face.
#: ``applyInPandas`` materializes each stratum as ONE pandas frame in
#: ONE task — a corpus whose biggest language exceeds this would OOM an
#: executor, so the builder fails loudly instead of building that plan
#: (the agg+broadcast twin :func:`lang_zscore` has no such bound).
LANG_ZSCORE_MAX_STRATUM = 10_000_000


def lang_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map face of :func:`lang_zscore` via ``applyInPandas``:
    each language stratum arrives as one pandas frame and is
    normalized with numpy. Same shuffle shape as the window face (one
    exchange on the stratum key); the trade is JVM window arithmetic
    vs an Arrow hop + per-group vectorized Python — worth it when the
    per-group transform outgrows SQL (rank-gauss, winsorized scaling,
    sklearn-style fitting). Asserted equal to the JVM face; shares its
    oracle.

    Scale contract: strata must fit in executor memory. Enforced, not
    assumed — a pre-flight map-side-combined count (metadata-sized
    result) raises ``RuntimeError`` if any stratum exceeds
    :data:`LANG_ZSCORE_MAX_STRATUM`, naming the scale-safe twin. The
    extra scan is the price of a grouped-map face that can never
    silently OOM; heavy-tailed corpora should use :func:`lang_zscore`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", "lang", F.size(_toks()).alias("n_tok"))

    over = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > LANG_ZSCORE_MAX_STRATUM)
        .limit(3)
        .collect()
    )
    if over:
        raise RuntimeError(
            "lang_zscore_pandas: stratum too large for grouped-map "
            f"(applyInPandas funnels each lang into one task): "
            f"{[(r['lang'], r['__n']) for r in over]} exceed "
            f"LANG_ZSCORE_MAX_STRATUM={LANG_ZSCORE_MAX_STRATUM}; use the "
            "agg+broadcast face lang_zscore instead."
        )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("z", T.DoubleType()),
        ]
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_tok"].to_numpy(dtype=np.float64)
        sd = x.std()  # population, ddof=0 — matches stddev_pop
        z = np.zeros_like(x) if sd == 0 else (x - x.mean()) / sd
        return pdf.assign(z=np.round(z, 5))

    return d.groupBy("lang").applyInPandas(normalize, out_schema)


# --------------------------------------------------------------------------
# Sequence packing (round-4 addition)
# --------------------------------------------------------------------------
#: Token budget per packed training sequence/bin.
SEQ_PACK_BUDGET = 2048


def seq_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: documents stream in doc_id
    order within each language and fill fixed token-budget bins — the
    batch-prep step that turns a shuffled corpus into dense
    fixed-length training sequences. ``bin`` is the budget bucket the
    document STARTS in (``floor(tokens_before / budget)``), so bins are
    contiguous, deterministic, and independent of partitioning.

    The running token count is
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_cumsum`
    — the distributed prefix-sum (quantile buckets + driver-folded
    partial sums + parallel per-bucket windows), NOT
    ``sum() over (partition by lang order by doc_id)``, which would
    drag the whole corpus through one task per language."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_cumsum

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id", "lang", F.size(_toks()).cast("long").alias("n_tok")
        # slim one-row-per-doc frame; the cumsum primitive scans its
        # input 3× (sketch, partials, final window — ranks.py
        # prescribes the caller persists it), and un-checkpointed each
        # scan re-tokenizes the whole corpus
    ).localCheckpoint(eager=True)
    c = exact_group_cumsum(
        d, ["lang"], "doc_id", [], "n_tok", cumsum_col="cum_tok"
    )
    return c.select(
        "doc_id",
        "lang",
        "n_tok",
        "cum_tok",
        F.floor((F.col("cum_tok") - F.col("n_tok")) / F.lit(float(SEQ_PACK_BUDGET)))
        .cast("long")
        .alias("bin"),
    )


def seq_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed sequences: one row per (lang, bin) with
    the bin's documents concatenated in stream order plus token
    accounting — the artifact a training loader actually reads. The
    ordered concat is ``array_sort(collect_list(struct(doc_id, text)))``
    folded to a string: collect_list is per-bin (bins are budget-sized
    by construction, so each group is bounded at ~SEQ_PACK_BUDGET
    tokens — the grouped payload can never blow an executor), and the
    struct sort makes the aggregation order-deterministic under any
    partitioning."""
    bins = seq_pack_bins(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d = bins.join(docs, "doc_id")
    packed = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
    )
    return d.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        packed.alias("packed_text"),
    )


ORACLE_SEQ_PACK_CONCAT = rf"""
WITH d AS (
  SELECT doc_id, lang, text, len({_ORACLE_TOKS}) AS n_tok FROM documents
), c AS (
  SELECT doc_id, lang, text, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM d
), b AS (
  SELECT doc_id, lang, text, n_tok,
         CAST(FLOOR((cum_tok - n_tok) / {SEQ_PACK_BUDGET}.0) AS BIGINT) AS bin
  FROM c
)
SELECT lang, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       string_agg(text, ' ' ORDER BY doc_id) AS packed_text
FROM b GROUP BY lang, bin
"""


ORACLE_SEQ_PACK_BINS = rf"""
WITH d AS (
  SELECT doc_id, lang, len({_ORACLE_TOKS}) AS n_tok FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM d
)
SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_tok AS BIGINT) AS cum_tok,
       CAST(FLOOR((cum_tok - n_tok) / {SEQ_PACK_BUDGET}.0) AS BIGINT) AS bin
FROM c
"""


# --------------------------------------------------------------------------
# Deterministic global shuffle + sharding (round-4 addition)
# --------------------------------------------------------------------------
#: Number of output shards for the training-order shuffle.
N_SHARDS = 16


def _shard_ranked(docs: DataFrame, *payload: Column) -> DataFrame:
    """Shared shuffle-key / global-rank / shard derivation — ONE
    definition so :func:`shard_balance_report` can never grade a
    different sharding than the one :func:`shard_assign` ships (the
    oracles share ``ORACLE_SHARD_ASSIGN`` for the same reason).
    Returns (doc_id, sort_key, rk, shard [+ payload columns], which
    ride the rank's range-bucket shuffle — no second documents scan).

    The global rank comes from
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    with NO group key: this is a distributed total-order sort
    (range-bucket the sort key, rank within buckets in parallel, add
    broadcast bucket offsets) — ``row_number() over (order by ...)``
    would pull the entire corpus through one task."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    d = docs.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("sort_key"),
        *payload,
    )
    # sort_key is a 60-bit md5 prefix — uniform on [0, 16^15), so the
    # range buckets come from arithmetic (uniform_domain) instead of a
    # quantile sketch pass over the corpus: one full scan + metadata
    # action fewer (exactness never depends on boundaries; ranks.py)
    ranked = exact_group_rank(
        d,
        [],
        "sort_key",
        ["doc_id"],
        rank_col="rk",
        uniform_domain=(0.0, float(16**15)),
    )
    return ranked.withColumn(
        "shard", ((F.col("rk") - 1) % N_SHARDS).cast("long")
    )


def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: order documents by a
    pseudo-random-but-reproducible sort key (the first 60 bits of
    ``md5(doc_id)``), then deal them round-robin into ``N_SHARDS``
    equal shards with a within-shard position — the
    shuffle-then-shard step every epoch-based training pipeline runs,
    with bit-identical output on every rerun (no RNG state). Rank and
    shard derivation shared with the balance report via
    :func:`_shard_ranked`."""
    docs = load_table(spark, "documents", sf_dir)
    return _shard_ranked(docs).select(
        "doc_id",
        "sort_key",
        "shard",
        ((F.col("rk") - 1) / N_SHARDS).cast("long").alias("pos"),
    )


ORACLE_SHARD_ASSIGN = f"""
WITH d AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS sort_key
  FROM documents
), r AS (
  SELECT doc_id, sort_key,
         ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS rk
  FROM d
)
SELECT doc_id, sort_key,
       CAST((rk - 1) % {N_SHARDS} AS BIGINT) AS shard,
       CAST((rk - 1) // {N_SHARDS} AS BIGINT) AS pos
FROM r
"""


def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Straggler readout for :func:`shard_assign`: per shard, the doc /
    whitespace-token / char mass plus the largest single document, and
    each shard's token share and skew ratio (shard tokens over the
    uniform per-shard expectation). Round-robin dealing balances DOC
    counts by construction (±1), but training-step wall-clock follows
    TOKEN mass — a shard that drew the long-document tail is the
    epoch's straggler, and this is the gate that catches it before a
    1000-GPU job does. The companion of :func:`pack_efficiency`, which
    grades packing within a shard.

    Scale shape: ONE documents scan — the token/char payload rides the
    shared :func:`_shard_ranked` derivation (payload columns carry
    through the rank's range-bucket shuffle), so the report costs no
    second scan over text AND cannot drift from the sharding it
    grades. The rollup is N_SHARDS rows; the totals come from a 1-row
    aggregate over THAT, broadcast back. Ratios divide exact integer
    counts in double — engine-identical."""
    docs = load_table(spark, "documents", sf_dir)
    ranked = _shard_ranked(
        docs,
        F.size(_toks("text")).cast("bigint").alias("__toks"),
        F.length("text").cast("bigint").alias("__chars"),
    )
    per = (
        ranked.select("shard", "__toks", "__chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__toks").alias("n_tokens"),
            F.sum("__chars").alias("n_chars"),
            F.max("__toks").alias("max_doc_tokens"),
        )
        # N_SHARDS rows; materialized because BOTH the totals aggregate
        # and the final select consume it — without this the documents
        # scan executes twice
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_tokens").alias("__t"), F.count(F.lit(1)).alias("__n")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        "max_doc_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("__t"), 6).alias(
            "token_share"
        ),
        F.round(
            (F.col("n_tokens") * F.col("__n")).cast("double") / F.col("__t"), 6
        ).alias("token_skew_ratio"),
    )


#: The oracle reuses ORACLE_SHARD_ASSIGN's rank→shard mapping verbatim
#: (join formulation; the Spark side fuses the payload into the rank
#: scan — same mapping, so the rollups agree).
ORACLE_SHARD_BALANCE_REPORT = rf"""
WITH sa AS ({ORACLE_SHARD_ASSIGN}),
d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars_doc
  FROM documents
), per AS (
  SELECT sa.shard,
         COUNT(*) AS n_docs,
         CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens,
         CAST(SUM(d.n_chars_doc) AS BIGINT) AS n_chars,
         MAX(d.n_toks) AS max_doc_tokens
  FROM sa JOIN d USING (doc_id)
  GROUP BY sa.shard
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS n FROM per
)
SELECT shard, n_docs, n_tokens, n_chars, max_doc_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share,
       ROUND(CAST(n_tokens * n AS DOUBLE) / t, 6) AS token_skew_ratio
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# Source mixture weights (round-4 addition)
# --------------------------------------------------------------------------
#: Token budget the mixture planner allocates across sources.
MIXTURE_TOKEN_BUDGET = 20_000


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning: give every source an equal share of the token
    budget and emit the per-source sampling weight
    ``min(1, share / tokens)`` plus the planned token count — the
    knob-setting step before weighted corpus sampling (the
    domain-mixing table in LLM data recipes). One groupBy over the
    corpus; the per-source frame is metadata-sized (sources number in
    the thousands at web scale, not billions), and the source count
    joins back as a broadcast 1-row cross join — no single-partition
    window anywhere in the plan."""
    docs = load_table(spark, "documents", sf_dir)
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_toks())).cast("long").alias("n_tokens"),
    )
    s = s.crossJoin(
        F.broadcast(s.groupBy().agg(F.count(F.lit(1)).alias("__n_sources")))
    )
    share = F.lit(float(MIXTURE_TOKEN_BUDGET)) / F.col("__n_sources")
    weight = F.least(F.lit(1.0), share / F.col("n_tokens"))
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(weight, 6).alias("weight"),
        F.round(weight * F.col("n_tokens"), 0).cast("long").alias("planned_tokens"),
    )


ORACLE_SOURCE_MIXTURE_WEIGHTS = rf"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_ORACLE_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT *, COUNT(*) OVER () AS n_sources FROM s
)
SELECT source, n_docs, n_tokens,
       ROUND(LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources) / n_tokens), 6)
         AS weight,
       CAST(ROUND(LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources) / n_tokens)
                  * n_tokens, 0) AS BIGINT) AS planned_tokens
FROM t
"""


# --------------------------------------------------------------------------
# Mixture sample materialization (round-5 addition)
# --------------------------------------------------------------------------
#: Salt for the mixture sampler's uniform hash — distinct from the
#: unsalted md5 used by shard_assign so the sampling decision is
#: statistically independent of the training-shuffle order.
MIX_SALT = "mix:"

#: 2^60 — the md5-prefix uniform variate's range (15 hex digits).
_MIX_RANGE = float(1 << 60)


def _mixture_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tok) rows surviving the weighted sample:
    keep a document iff its salted-md5 uniform variate (first 60 bits,
    uniform on [0, 2^60)) falls below ``weight * 2^60``. Both engines
    evaluate the threshold in IEEE double arithmetic on the identical
    6-dp-rounded weight, so the comparison is deterministic and
    engine-independent (the variate itself is exact integer md5
    arithmetic — the ``hash_split`` / ``shard_assign`` family)."""
    w = source_mixture_weights(spark, sf_dir).select("source", "weight")
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id", "source", F.size(_toks()).cast("long").alias("n_tok")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(MIX_SALT), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return d.join(F.broadcast(w), "source").filter(
        u < F.col("weight") * F.lit(_MIX_RANGE)
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the mixture plan: apply
    :func:`source_mixture_weights` as a deterministic per-source
    hash-threshold sampler and emit the sampled corpus — the step that
    turns the domain-mixing table into an actual training corpus.
    Rerun-stable (no RNG state: a doc's fate depends only on its id
    and its source's weight) and growth-stable per doc.

    Scale shape: the weights frame is source-cardinality (metadata)
    and broadcasts onto a single corpus scan; the filter is pure JVM
    hash arithmetic inside whole-stage codegen. No shuffle at all —
    the sampled corpus streams out partition-local."""
    return _mixture_kept(spark, sf_dir).select("doc_id", "source", "n_tok")


def mixture_sample_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planned-vs-achieved accounting of :func:`mixture_sample`: one
    row per source with the planned token count next to what the
    hash-threshold sampler actually kept — the report that closes the
    mixture-planning loop (sampling is Bernoulli per doc, so achieved
    ≈ planned with relative error shrinking as doc counts grow).
    Sources sampled to zero still appear (left join from the plan)."""
    w = source_mixture_weights(spark, sf_dir)
    got = (
        _mixture_kept(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("achieved_tokens"),
        )
    )
    return w.join(got, "source", "left").select(
        "source",
        "weight",
        "planned_tokens",
        F.coalesce(F.col("n_docs_kept"), F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce(F.col("achieved_tokens"), F.lit(0))
        .cast("long")
        .alias("achieved_tokens"),
    )


_ORACLE_MIX_CTES = rf"""
s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_ORACLE_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT *, COUNT(*) OVER () AS n_sources FROM s
), w AS (
  -- w_raw (unrounded) feeds planned_tokens exactly as the Spark face
  -- does; the 6-dp weight is what the sampler thresholds on
  SELECT source, n_tokens,
         LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources) / n_tokens) AS w_raw,
         ROUND(LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources) / n_tokens), 6)
           AS weight
  FROM t
), d AS (
  SELECT doc_id, source, CAST(len({_ORACLE_TOKS}) AS BIGINT) AS n_tok,
         CAST(concat('0x', substr(md5('{MIX_SALT}' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS uv
  FROM documents
), kept AS (
  SELECT d.doc_id, d.source, d.n_tok
  FROM d JOIN w ON d.source = w.source
  WHERE d.uv < w.weight * {int(_MIX_RANGE)}.0
)
"""

ORACLE_MIXTURE_SAMPLE = f"""
WITH {_ORACLE_MIX_CTES}
SELECT doc_id, source, n_tok FROM kept
"""

ORACLE_MIXTURE_SAMPLE_ACCOUNTING = f"""
WITH {_ORACLE_MIX_CTES},
got AS (
  SELECT source, COUNT(*) AS n_docs_kept,
         CAST(SUM(n_tok) AS BIGINT) AS achieved_tokens
  FROM kept GROUP BY source
)
SELECT w.source, w.weight,
       CAST(ROUND(w.w_raw * w.n_tokens, 0) AS BIGINT) AS planned_tokens,
       COALESCE(got.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(got.achieved_tokens, 0) AS achieved_tokens
FROM w LEFT JOIN got ON w.source = got.source
"""


# --------------------------------------------------------------------------
# Mixture UPsampling — epoch repeats for under-represented sources
# (round-5 addition)
# --------------------------------------------------------------------------
#: Target share multiplier: every source aims at FACTOR × the mean
#: per-source token mass, so below-average sources get weight > 1
#: (epoch repeats) and above-average sources get thinned — the
#: "balance the mixture" recipe, sf-invariant by construction.
UPSAMPLE_FACTOR = 1.5
#: Hard cap on the per-source weight — bounds output amplification the
#: same way MAX_BUCKET_SIZE bounds pair expansion: a tiny source can
#: never explode the corpus by more than MAX_W epochs.
UPSAMPLE_MAX_W = 4.0
#: Salt for the fractional-epoch Bernoulli draw (independent of both
#: the downsampler's MIX_SALT and shard_assign's unsalted md5).
UPSAMPLE_SALT = "mixup:"


def mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture with weights ABOVE 1: under-represented
    sources repeat for multiple training epochs (the Pile/Llama-recipe
    ``epochs`` column) while over-represented ones thin — one emitted
    row per (document, epoch). A weight ``w`` yields ``floor(w)``
    guaranteed epochs plus one more with probability ``w - floor(w)``,
    decided by the salted-md5 uniform variate (the ``hash_split`` /
    ``mixture_sample`` family) — deterministic, rerun-stable, no RNG
    state.

    Scale shape: the weight frame is source-cardinality metadata and
    broadcasts onto a single corpus scan; epoch expansion is a
    JVM-side ``explode(sequence(1, copies))`` whose amplification is
    bounded by :data:`UPSAMPLE_MAX_W` — no shuffle anywhere, output
    streams partition-local exactly like :func:`mixture_sample`."""
    docs = load_table(spark, "documents", sf_dir)
    s = docs.groupBy("source").agg(
        F.sum(F.size(_toks())).cast("long").alias("n_tokens")
    )
    tot = s.groupBy().agg(
        F.sum("n_tokens").alias("__tot"), F.count(F.lit(1)).alias("__n_sources")
    )
    target = F.lit(UPSAMPLE_FACTOR) * F.col("__tot") / F.col("__n_sources")
    w = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(
                F.least(F.lit(UPSAMPLE_MAX_W), target / F.col("n_tokens")), 6
            ).alias("up_weight"),
        )
    )
    d = docs.select(
        "doc_id", "source", F.size(_toks()).cast("long").alias("n_tok")
    ).join(F.broadcast(w), "source")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(UPSAMPLE_SALT), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    frac = F.col("up_weight") - F.floor("up_weight")
    copies = (
        F.floor("up_weight") + F.when(u < frac * F.lit(_MIX_RANGE), 1).otherwise(0)
    ).cast("int")
    return (
        d.withColumn("__copies", copies)
        .select(
            "doc_id",
            "source",
            "n_tok",
            "up_weight",
            F.explode(
                F.when(
                    F.col("__copies") > 0, F.sequence(F.lit(1), F.col("__copies"))
                ).otherwise(F.array().cast("array<int>"))
            ).alias("epoch"),
        )
        .select("doc_id", "source", "epoch", "n_tok", "up_weight")
    )


ORACLE_MIXTURE_UPSAMPLE = f"""
WITH s AS (
  SELECT source, CAST(SUM(len({_ORACLE_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT *, SUM(n_tokens) OVER () AS tot, COUNT(*) OVER () AS n_sources
  FROM s
), w AS (
  SELECT source,
         ROUND(LEAST({UPSAMPLE_MAX_W}, {UPSAMPLE_FACTOR} * tot / n_sources
                     / n_tokens), 6) AS up_weight
  FROM t
), d AS (
  SELECT doc_id, source, CAST(len({_ORACLE_TOKS}) AS BIGINT) AS n_tok,
         CAST(concat('0x',
              substr(md5('{UPSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) AS uv
  FROM documents
), c AS (
  SELECT d.doc_id, d.source, d.n_tok, w.up_weight,
         CAST(FLOOR(w.up_weight) AS INTEGER)
           + CASE WHEN d.uv < (w.up_weight - FLOOR(w.up_weight))
                             * {int(_MIX_RANGE)}.0
                  THEN 1 ELSE 0 END AS copies
  FROM d JOIN w ON d.source = w.source
)
SELECT doc_id, source,
       CAST(unnest(range(1, copies + 1)) AS INTEGER) AS epoch,
       n_tok, up_weight
FROM c
"""


# --------------------------------------------------------------------------
# Winsorized robust scaling (round-5 addition)
# --------------------------------------------------------------------------
#: Winsorization percentiles (clamp below/above these per-stratum ranks).
WINSOR_LO, WINSOR_HI = 0.05, 0.95


def robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-stratum scaling: clamp each document's token
    count at its language's EXACT 5th/95th-percentile values — the
    outlier-robust normalization used before z-scoring heavy-tailed
    features (a mega-doc shouldn't drag the stratum mean).

    "Exact percentile" means the value at rank ``ceil(q·n)`` under the
    total order ``(n_tok, doc_id)`` — computed with
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    (groups × buckets parallel windows, no per-language funnel). The
    two bound rows per language are metadata-sized and broadcast back;
    clamping is pure JVM arithmetic on the scan."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", "lang", F.size(_toks()).cast("long").alias("n_tok"))
    ranked = exact_group_rank(
        d, ["lang"], "n_tok", ["doc_id"], rank_col="rk", count_col="n"
    ).localCheckpoint(eager=True)
    lo_b = (
        ranked.filter(
            F.col("rk") == F.greatest(F.lit(1), F.ceil(F.lit(WINSOR_LO) * F.col("n")))
        )
        .groupBy("lang")
        .agg(F.min("n_tok").alias("lo_val"))
    )
    hi_b = (
        ranked.filter(F.col("rk") == F.ceil(F.lit(WINSOR_HI) * F.col("n")))
        .groupBy("lang")
        .agg(F.min("n_tok").alias("hi_val"))
    )
    return (
        ranked.join(F.broadcast(lo_b), "lang")
        .join(F.broadcast(hi_b), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            "lo_val",
            "hi_val",
            F.least(F.greatest(F.col("n_tok"), F.col("lo_val")), F.col("hi_val"))
            .alias("winsorized"),
        )
    )


ORACLE_ROBUST_SCALE = rf"""
WITH d AS (
  SELECT doc_id, lang, CAST(len({_ORACLE_TOKS}) AS BIGINT) AS n_tok
  FROM documents
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM d
), lo AS (
  SELECT lang, MIN(n_tok) AS lo_val FROM r
  WHERE rk = GREATEST(1, CEIL({WINSOR_LO} * n)) GROUP BY lang
), hi AS (
  SELECT lang, MIN(n_tok) AS hi_val FROM r
  WHERE rk = CEIL({WINSOR_HI} * n) GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_tok, lo.lo_val, hi.hi_val,
       LEAST(GREATEST(d.n_tok, lo.lo_val), hi.hi_val) AS winsorized
FROM d JOIN lo ON d.lang = lo.lang JOIN hi ON d.lang = hi.lang
"""


# --------------------------------------------------------------------------
# Packing efficiency report (round-5 addition)
# --------------------------------------------------------------------------
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting face of :func:`seq_pack_bins`: per (lang, bin) the
    document count, used tokens, fill ratio against the
    :data:`SEQ_PACK_BUDGET`, and the straddle overflow (a document is
    assigned to the bin it STARTS in, so a bin's used tokens can
    exceed the budget by up to one document) — the padding-waste /
    truncation report that tells a training pipeline whether its
    packing budget matches the document length distribution.

    Scale shape: rides the distributed prefix-sum of
    ``seq_pack_bins`` and adds ONE map-side-combined groupBy on
    (lang, bin); output is bin-count-sized."""
    bins = seq_pack_bins(spark, sf_dir)
    per = bins.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("used_tokens"),
    )
    return per.select(
        "lang",
        "bin",
        "n_docs",
        "used_tokens",
        F.round(F.col("used_tokens") / F.lit(float(SEQ_PACK_BUDGET)), 6).alias(
            "fill_ratio"
        ),
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("used_tokens") - F.lit(SEQ_PACK_BUDGET)).cast("long"),
        ).alias("overflow_tokens"),
    )


ORACLE_PACK_EFFICIENCY = rf"""
WITH d AS (
  SELECT doc_id, lang, len({_ORACLE_TOKS}) AS n_tok FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tok
  FROM d
), b AS (
  SELECT lang,
         CAST(FLOOR((cum_tok - n_tok) / {SEQ_PACK_BUDGET}.0) AS BIGINT) AS bin,
         n_tok
  FROM c
), per AS (
  SELECT lang, bin, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS used_tokens
  FROM b GROUP BY lang, bin
)
SELECT lang, bin, n_docs, used_tokens,
       ROUND(used_tokens / {SEQ_PACK_BUDGET}.0, 6) AS fill_ratio,
       GREATEST(0, used_tokens - {SEQ_PACK_BUDGET}) AS overflow_tokens
FROM per
"""


# --------------------------------------------------------------------------
# Cluster-quality report over the deterministic k-means assignment
# --------------------------------------------------------------------------
def cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quality metrics of the deterministic assignment
    (:func:`kmeans_assign`'s fixed first-K centroids): member count,
    inertia (sum of squared distance to the assigned centroid) and
    mean distance — the monitoring table a clustering-based curation
    stage (semantic dedup, kNN-graph) publishes each run to catch
    centroid drift or a collapsed cluster.

    Scale shape: the assignment is the zero-shuffle inlined-centroid
    scan; the rollup reduces to K rows map-side. Inertia accumulates
    in DECIMAL over the per-row squared distance (each side squares
    the SAME 5-dp-rounded dist double, so the products are
    bit-identical and the decimal sum is order-independent)."""
    assigned = kmeans_assign(spark, sf_dir)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum((F.col("dist") * F.col("dist")).cast("decimal(30,10)")), 4
        )
        .cast("double")
        .alias("inertia"),
        F.round(
            F.sum(F.col("dist").cast("decimal(30,10)")), 4
        )
        .cast("double")
        .alias("total_dist"),
    )


ORACLE_CLUSTER_QUALITY = f"""
WITH assigned AS ({ORACLE_KMEANS_ASSIGN})
SELECT cluster, COUNT(*) AS n_vecs,
       CAST(ROUND(SUM(CAST(dist * dist AS DECIMAL(30,10))), 4) AS DOUBLE)
         AS inertia,
       CAST(ROUND(SUM(CAST(dist AS DECIMAL(30,10))), 4) AS DOUBLE)
         AS total_dist
FROM assigned GROUP BY cluster
"""


def contamination_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-method validation of the two decontamination gates in one
    row — the :func:`~udacity_dsnd_projects_spark.functions.dedup.dedup_method_agreement`
    pattern applied to eval-leakage detection: the n-gram gate
    (:func:`ngram_contamination` at the :data:`CONTAM_DROP` action
    threshold) and the embedding gate
    (:func:`~udacity_dsnd_projects_spark.functions.similarity.semantic_contamination`)
    flag overlapping-but-different doc sets by construction — n-grams
    catch verbatim leakage, embeddings catch paraphrase — so their
    overlap statistics are the regression signal: a tokenizer change
    that silently breaks the n-gram gate, or an embedding refresh that
    shifts the cosine geometry, craters the agreement before any
    downstream eval moves. Universe = non-benchmark docs carrying BOTH
    signals (an embedding row exists — the established
    ``vec_id == doc_id`` convention); output:
    (n_docs, n_ngram, n_semantic, n_both, agreement_jaccard,
    ngram_only_share, semantic_only_share).

    Scale shape: both gates' outputs are doc-id-sized; the comparison
    is two id equi-joins onto the id universe and a one-row rollup.
    Exact-count ratios divide in double, identically in both
    engines."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        SEM_BENCH_MOD,
        semantic_contamination,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    emb_ids = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    universe = docs.join(emb_ids, "doc_id").filter(
        F.col("doc_id") % SEM_BENCH_MOD != 0
    )
    ng = (
        contamination_for(load_table(spark, "documents", sf_dir))
        .filter(F.col("contamination") >= CONTAM_DROP)
        .select("doc_id", F.lit(1).alias("__n"))
    )
    sem = (
        semantic_contamination(spark, sf_dir)
        .filter(F.col("contaminated") == 1)
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("__s"))
    )
    j = universe.join(ng, "doc_id", "left").join(sem, "doc_id", "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("__n"), F.lit(0))).alias("n_ngram"),
        F.sum(F.coalesce(F.col("__s"), F.lit(0))).alias("n_semantic"),
        F.sum(
            F.when(
                F.col("__n").isNotNull() & F.col("__s").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_both"),
        F.sum(
            F.when(
                F.col("__n").isNotNull() | F.col("__s").isNotNull(), 1
            ).otherwise(0)
        ).alias("__n_either"),
    )
    either = F.col("__n_either")
    return agg.select(
        "n_docs",
        "n_ngram",
        "n_semantic",
        "n_both",
        F.when(
            either > 0,
            F.round(F.col("n_both").cast("double") / either, 6),
        ).alias("agreement_jaccard"),
        F.when(
            either > 0,
            F.round((F.col("n_ngram") - F.col("n_both")).cast("double") / either, 6),
        ).alias("ngram_only_share"),
        F.when(
            either > 0,
            F.round(
                (F.col("n_semantic") - F.col("n_both")).cast("double") / either, 6
            ),
        ).alias("semantic_only_share"),
    )


def _oracle_contamination_agreement() -> str:
    from udacity_dsnd_projects_spark.functions.similarity import (
        ORACLE_SEMANTIC_CONTAMINATION,
        SEM_BENCH_MOD,
    )

    return f"""
WITH ng AS (
  SELECT doc_id FROM ({ORACLE_NGRAM_CONTAMINATION})
  WHERE contamination >= {CONTAM_DROP}
), sem AS (
  SELECT vec_id AS doc_id FROM ({ORACLE_SEMANTIC_CONTAMINATION})
  WHERE contaminated = 1
), u AS (
  SELECT d.doc_id FROM documents d
  JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.doc_id % {SEM_BENCH_MOD} <> 0
), j AS (
  SELECT u.doc_id,
         CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_ng,
         CASE WHEN sem.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem
  FROM u LEFT JOIN ng ON u.doc_id = ng.doc_id
         LEFT JOIN sem ON u.doc_id = sem.doc_id
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(f_ng) AS BIGINT) AS n_ngram,
       CAST(SUM(f_sem) AS BIGINT) AS n_semantic,
       CAST(SUM(f_ng * f_sem) AS BIGINT) AS n_both,
       CASE WHEN SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END) > 0
            THEN ROUND(SUM(f_ng * f_sem) * 1.0
                       / SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END), 6)
       END AS agreement_jaccard,
       CASE WHEN SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END) > 0
            THEN ROUND((SUM(f_ng) - SUM(f_ng * f_sem)) * 1.0
                       / SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END), 6)
       END AS ngram_only_share,
       CASE WHEN SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END) > 0
            THEN ROUND((SUM(f_sem) - SUM(f_ng * f_sem)) * 1.0
                       / SUM(CASE WHEN f_ng + f_sem > 0 THEN 1 ELSE 0 END), 6)
       END AS semantic_only_share
FROM j
"""


def __getattr__(name: str):
    """PEP 562 lazy attribute: ORACLE_CONTAMINATION_METHOD_AGREEMENT
    embeds similarity's ORACLE_SEMANTIC_CONTAMINATION, and similarity's
    own init imports THIS module (KMEANS_K, ORACLE_KMEANS_ASSIGN for
    its semantic-dedup/IVF oracles) — composing the string at module
    init would make import ORDER load-bearing (`import similarity`
    first failed while `import pipeline` first worked). Deferring the
    composition to first attribute access (registry registration time,
    when both modules are complete) breaks the init-time cycle in both
    orders."""
    if name == "ORACLE_CONTAMINATION_METHOD_AGREEMENT":
        value = _oracle_contamination_agreement()
        globals()[name] = value  # compose once, then behave static
        return value
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )
