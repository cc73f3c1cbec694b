"""Text analysis for training-data pipelines (SURVEY.md §7 phase 4).

Language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + a BPE-ish regex) and document fingerprinting (md5 +
polynomial rolling hash). Everything is built-in column expressions —
array/lambda higher-order functions, regexp counting, no Python in the
data path — so the whole module rides whole-stage codegen and scales
linearly with a parquet scan. Doc order: one pass, no shuffle.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.operators.localframe import local_frame
from udacity_dsnd_projects_spark.sources.catalog import load_table

#: Modulus for the polynomial rolling hash (fits acc*31+255 in int64).
HASH_MOD = 2_147_483_647  # 2^31 - 1
#: BPE-ish token regex: word pieces or single non-space punctuation.
BPE_TOKEN_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"

#: Tiny per-language stopword profiles for the n-gram/stopword
#: heuristic language ID.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai", "you"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash h = (h*31 + byte) mod (2^31-1) over the
    string — the classic Rabin-Karp-style document fingerprint,
    chosen because it is exactly reproducible in any SQL engine
    (plain integer arithmetic, no engine-specific hash)."""
    codes = F.transform(F.split(text, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_MOD,
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE)).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length("text").alias("len_chars"),
    )


ORACLE_TOKEN_STATS = rf"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS INTEGER)
         AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
            AS INTEGER) AS n_unique_tokens,
       CAST(length(text) AS INTEGER) AS len_chars
FROM documents
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio,
    digit ratio, mean token length, and a composite [0,1] score.
    Ratio weights follow the usual web-corpus heuristics (length in
    range, low punctuation/digit noise, healthy stopword density).
    Scores land on exact quarter steps (0.25 = 2^-2 is binary-exact),
    so SUMs of the score are order-independent in IEEE double."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"))
    n_digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]"))
    en = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    punct_ratio = n_punct / n_chars
    digit_ratio = n_digit / n_chars
    stop_ratio = n_stop / n_tok
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok
    score = (
        F.when(n_tok >= 10, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(digit_ratio < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        F.round(punct_ratio, 5).alias("punct_ratio"),
        F.round(digit_ratio, 5).alias("digit_ratio"),
        F.round(stop_ratio, 5).alias("stopword_ratio"),
        F.round(mean_tok_len, 5).alias("mean_token_len"),
        score.alias("quality"),
    )


_EN = "', '".join(LANG_STOPWORDS["en"])

ORACLE_QUALITY_SCORE = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
  FROM documents
), s AS (
  SELECT doc_id, n_chars, n_punct, n_digit,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(toks, x -> list_contains(['{_EN}'], x))) AS DOUBLE)
           AS n_stop
  FROM t
)
SELECT doc_id,
       ROUND(n_punct / n_chars, 5) AS punct_ratio,
       ROUND(n_digit / n_chars, 5) AS digit_ratio,
       ROUND(n_stop / n_tok, 5) AS stopword_ratio,
       ROUND((n_chars - (n_tok - 1)) / n_tok, 5) AS mean_token_len,
       CASE WHEN n_tok >= 10 THEN 0.25 ELSE 0.0 END
         + CASE WHEN n_punct / n_chars < 0.1 THEN 0.25 ELSE 0.0 END
         + CASE WHEN n_digit / n_chars < 0.1 THEN 0.25 ELSE 0.0 END
         + CASE WHEN n_stop / n_tok > 0.01 THEN 0.25 ELSE 0.0 END AS quality
FROM s
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count profile hits per language,
    argmax with a fixed precedence order. (A character-n-gram model is
    the production upgrade; the hit-count heuristic keeps the whole
    thing in codegen'd column expressions.)"""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_col(F.col("text"))
    def profile_hits(words: tuple[str, ...]) -> Column:
        arr = F.array([F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    hits = {lang: profile_hits(words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    pred = F.lit("unknown")
    # precedence: later langs win ties only if strictly greater —
    # build the CASE in reverse fixed order
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return docs.select(
        "doc_id",
        "lang",
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_STOPWORDS],
        pred.alias("predicted_lang"),
    )


def _oracle_language_id() -> str:
    hit_exprs = []
    for lang, words in LANG_STOPWORDS.items():
        lst = "', '".join(words)
        hit_exprs.append(
            f"CAST(len(list_filter(toks, x -> list_contains(['{lst}'], x))) AS INTEGER)"
            f" AS hits_{lang}"
        )
    langs = list(LANG_STOPWORDS)
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "'unknown'"
    for lang in reversed(langs):
        case = f"CASE WHEN hits_{lang} = best THEN '{lang}' ELSE {case} END"
    return rf"""
WITH t AS (
  SELECT doc_id, lang,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang, {', '.join(hit_exprs)} FROM t
), b AS (
  SELECT *, {best} AS best FROM h
)
SELECT doc_id, lang, {', '.join(f'hits_{lang}' for lang in langs)},
       CASE WHEN best = 0 THEN 'unknown' ELSE {case} END AS predicted_lang
FROM b
"""


ORACLE_LANGUAGE_ID = _oracle_language_id()


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text plus the
    cross-engine polynomial rolling hash."""
    docs = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("md5_fp"),
        rolling_hash(norm).alias("rolling_fp"),
    )


ORACLE_DOC_FINGERPRINT = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm) AS md5_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(norm, ''),
                                     ch -> CAST(ascii(ch) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % {HASH_MOD}) AS rolling_fp
FROM t
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf × ln(N/df)) — the
    classic keyword/feature-extraction primitive.

    Scale shape: one (doc, term) shuffle builds the term frequencies
    with map-side combine; document frequencies re-aggregate that
    table on term alone (the shuffle moves vocab-sized partial counts,
    not token rows) and come back as a BROADCAST join because df is
    vocab-sized; the corpus count N is a one-row broadcast. The final
    per-doc top-k is the top-k-per-group window. Ties break on the
    term string, and tfidf values with equal (tf, df) are bit-identical
    across engines, so the ordering is deterministic."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    # explode_outer + isNotNull, deliberately: plain explode makes
    # Catalyst infer a size()>0 guard, pushed below the projection and
    # re-evaluating the split per row; split elements are never null,
    # so the cheap attribute filter restores exact explode semantics
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term").isNotNull())
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("tfidf", 5).alias("tfidf"),
            F.col("rn").alias("term_rank"),
        )
    )


ORACLE_TFIDF_TOP_TERMS = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln(n.n * 1.0 / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, ROUND(tfidf, 5) AS tfidf, term_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS term_rank
  FROM scored
) t WHERE term_rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Char-bigram LM perplexity (CCNet-style quality signal)
# --------------------------------------------------------------------------
def perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a char-bigram language model
    trained on the corpus itself — the CCNet/KenLM quality-filtering
    shape (docs that look unlike the corpus score high). Two passes:
    (1) global bigram + unigram-context counts (one shuffle each with
    map-side combine, vocabulary-sized results), (2) score every doc
    by joining its bigrams to the broadcast log-prob table and
    averaging -ln P(c2|c1). The model is vocabulary-sized (~1k rows
    here; ≤65k for full byte bigrams) so the score join is always a
    broadcast — the corpus shuffles only for the per-doc rollup.
    Every bigram seen at scoring time exists in the model (same
    corpus), so no smoothing term muddies the oracle.

    The explode feeds BOTH the model aggregation and the scoring join,
    so the shared subtree is reduced to per-doc bigram COUNTS first
    (one shuffle, frame size = docs x distinct-bigrams-per-doc, far
    smaller than the raw gram stream) and checkpointed — evaluated
    once, and the scoring join then moves counts, not repeated
    grams."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("s")).filter(
        F.length("s") >= 2
    )
    doc_grams = (
        d.select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.length("s") - 1),
                    lambda i: F.col("s").substr(i, F.lit(2)),
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    counts = doc_grams.groupBy("bg").agg(F.sum("n").alias("c_bg"))
    ctx = counts.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c_bg").alias("c_ctx")
    )
    model = counts.select(
        "bg",
        F.substring("bg", 1, 1).alias("c1"),
        "c_bg",
    ).join(ctx, "c1").select(
        "bg", (F.log("c_ctx") - F.log("c_bg")).alias("nll")
    )
    return (
        doc_grams.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(F.sum(F.col("n") * F.col("nll")) / F.sum("n"), 5).alias(
                "cross_entropy"
            ),
        )
    )


ORACLE_PERPLEXITY_SCORE = r"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS s FROM documents
  WHERE len(lower(trim(text))) >= 2
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(s)), i -> s[i:i+1])) AS bg
  FROM d
), counts AS (
  SELECT bg, COUNT(*) AS c_bg FROM grams GROUP BY bg
), ctx AS (
  SELECT bg[1:1] AS c1, SUM(c_bg) AS c_ctx FROM counts GROUP BY 1
), model AS (
  SELECT bg, ln(c_ctx) - ln(c_bg) AS nll
  FROM counts JOIN ctx ON counts.bg[1:1] = ctx.c1
)
SELECT g.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(m.nll), 5) AS cross_entropy
FROM grams g JOIN model m USING (bg)
GROUP BY g.doc_id
"""


# --------------------------------------------------------------------------
# Bigram collocations by PMI (round-5 addition)
# --------------------------------------------------------------------------
#: Minimum bigram frequency before a PMI score is emitted — standard
#: collocation-mining floor (PMI of rare pairs is pure noise, and the
#: cap keeps the output vocabulary² in theory, frequency-bounded in
#: practice).
PMI_MIN_COUNT = 5


def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: pointwise mutual information of adjacent
    token pairs, ``ln(c12·N / (c1·c2))`` with left/right marginal
    counts — the classic phrase-mining / tokenizer-vocabulary signal
    (engine addition; reference has no text analytics).

    Scale shape: ONE corpus scan explodes adjacent pairs (``zip_with``
    over the token array — JVM, no UDF) into a single map-side-combined
    pair-count groupBy; the marginals and the total then derive from
    that (much smaller, vocabulary²-bounded, frequency-bounded in
    practice) counts table — ``c1 = Σ_w2 c12`` etc. — which is eagerly
    checkpointed so its four consumers don't re-scan the corpus. The
    joins key on words — high-cardinality, AQE handles hot stopword
    pairs — and the 1-row total broadcasts via cross join, the same
    shape as ``source_mixture_weights``. No windows, no driver-side
    data."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(tokens_col(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    # explode_outer, deliberately: plain explode infers a size()>0
    # guard that re-evaluates the zip_with (and the tokenize it
    # inlines) once more per row; size(tk) >= 2 guarantees >= 1 bigram
    pairs = t.select(
        F.explode_outer(
            F.zip_with(
                F.slice("tk", 1, F.size("tk") - 1),
                F.slice("tk", 2, F.size("tk") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = c12.groupBy().agg(F.sum("c12").alias("n_big"))
    pmi = F.log(
        (F.col("c12").cast("double") * F.col("n_big"))
        / (F.col("c1").cast("double") * F.col("c2"))
    )
    return (
        c12.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", F.round(pmi, 5).alias("pmi"))
    )


ORACLE_TOKEN_BIGRAM_PMI = rf"""
WITH d AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
), e AS (
  SELECT unnest(list_transform(range(1, len(tk)), j ->
           struct_pack(w1 := tk[j], w2 := tk[j+1]))) AS bg FROM d
), p AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM e),
tot AS (SELECT COUNT(*) AS n_big FROM p),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM p GROUP BY w1),
c2 AS (SELECT w2, COUNT(*) AS c2 FROM p GROUP BY w2)
SELECT c12.w1, c12.w2, c12.c12,
       ROUND(ln((CAST(c12.c12 AS DOUBLE) * tot.n_big)
                / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 5) AS pmi
FROM c12, tot
JOIN c1 ON c12.w1 = c1.w1 JOIN c2 ON c12.w2 = c2.w2
WHERE c12.c12 >= {PMI_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# Vocabulary coverage curve (round-5 addition)
# --------------------------------------------------------------------------
#: How many top-frequency tokens the coverage report emits.
VOCAB_TOP = 500


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary planning artifact: the top-N corpus tokens
    by frequency with their exact global rank and the cumulative
    fraction of all token occurrences a vocabulary truncated at that
    rank would cover — the coverage curve that decides vocab size.

    Scale shape: one corpus explode + map-side-combined count gives
    the (distinct-token-sized, much smaller than corpus) frequency
    table, eagerly checkpointed; the DESCENDING total order is then a
    distributed range-bucket sort — global rank via
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    and running occurrence sum via ``exact_group_cumsum`` (both with
    NO group key: this is the ``shard_assign`` total-order machinery),
    never a single-task ``row_number() over (order by cnt desc)``.
    The grand total broadcasts via a 1-row cross join."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_cumsum,
        exact_group_rank,
    )

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            # explode_outer + isNotNull: stops the inferred size()>0
            # guard from re-tokenizing per row; split elements are
            # never null so the attribute filter restores exactness
            F.explode_outer(tokens_col(F.col("text"))).alias("token")
        )
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("neg_cnt", -F.col("cnt"))
        .localCheckpoint(eager=True)
    )
    ranked = exact_group_rank(
        counts, [], "cnt", ["token"], descending=True, rank_col="rk"
        # the cumsum pass scans its input 3x (sketch, partials, final
        # window) — materialize so the rank window runs once, not 3x;
        # distinct-token-sized at any scale
    ).localCheckpoint(eager=True)
    # ascending neg_cnt == descending cnt: same total order for the sum
    summed = exact_group_cumsum(
        ranked, [], "neg_cnt", ["token"], "cnt", cumsum_col="cum_cnt"
    )
    total = counts.groupBy().agg(F.sum("cnt").alias("__total"))
    return (
        summed.filter(F.col("rk") <= VOCAB_TOP)
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            "rk",
            F.round(F.col("cum_cnt") / F.col("__total"), 6).alias("coverage"),
        )
    )


ORACLE_VOCAB_COVERAGE = rf"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
), c AS (
  SELECT token, COUNT(*) AS cnt FROM t GROUP BY token
), r AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk,
         SUM(cnt) OVER (ORDER BY cnt DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cnt,
         SUM(cnt) OVER () AS total
  FROM c
)
SELECT token, cnt, rk, ROUND(cum_cnt * 1.0 / total, 6) AS coverage
FROM r WHERE rk <= {VOCAB_TOP}
"""


# --------------------------------------------------------------------------
# Per-document OOV rate against the top-N vocabulary (round-5 addition)
# --------------------------------------------------------------------------
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary report: for every document, how many of its
    token occurrences fall outside the corpus's top-:data:`VOCAB_TOP`
    vocabulary — the per-document counterpart of
    :func:`vocab_coverage` (the curve says what a vocab size buys
    globally; this says which documents it fails).

    Scale shape: the vocabulary is the same exact-ranked frequency
    table (distributed total order via ``exact_group_rank``, never a
    single-task window), truncated to N rows — metadata-sized, so it
    BROADCASTS against the exploded corpus; the per-doc rollup is one
    map-side-combined groupBy on doc_id. The corpus shuffles once,
    already reduced to one row per document."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            # same explode_outer + isNotNull rationale as above
            F.explode_outer(tokens_col(F.col("text"))).alias("token")
        )
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        exact_group_rank(counts, [], "cnt", ["token"], descending=True, rank_col="rk")
        .filter(F.col("rk") <= VOCAB_TOP)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    toks = docs.select(
        # same explode_outer + isNotNull rationale as the counts above
        "doc_id", F.explode_outer(tokens_col(F.col("text"))).alias("token")
    ).filter(F.col("token").isNotNull())
    j = toks.join(F.broadcast(vocab), "token", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


ORACLE_VOCAB_OOV_RATE = rf"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
), c AS (
  SELECT token, COUNT(*) AS cnt FROM t GROUP BY token
), v AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk FROM c
  ) r WHERE rk <= {VOCAB_TOP}
)
SELECT t.doc_id, COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS oov_rate
FROM t LEFT JOIN v ON t.token = v.token
GROUP BY t.doc_id
"""


# --------------------------------------------------------------------------
# Unicode NFC normalization (round-5 addition — a genuine pandas-UDF
# case: Spark SQL has no built-in Unicode normalizer)
# --------------------------------------------------------------------------
def synthesize_messy_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw) — deterministic mixed-normalization text: residue
    classes append combining-mark sequences (``e`` + U+0301, ``A`` +
    U+030A) that NFC composes, alongside already-composed and plain
    ASCII tails, so normalization does real work on a known fraction
    of the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    tail = (
        F.when(did % 4 == 0, " cafe\u0301")  # e + combining acute (decomposed)
        .when(did % 4 == 1, " caf\u00e9")  # precomposed e-acute
        .when(did % 4 == 2, " A\u030a")  # A + combining ring (decomposed)
        .otherwise("")
    )
    return docs.select("doc_id", F.concat("text", tail).alias("raw"))


def nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over the corpus — the canonical first
    step of any multilingual text pipeline (composed vs decomposed
    accents must hash identically before dedup). Spark SQL has no
    Unicode normalizer, so this is one of the few places Python
    belongs in the data path: a vectorized ``pandas_udf`` applying
    ``unicodedata.normalize`` per Arrow batch (never per-row Python).
    Output: code-point counts before/after, a changed flag, and the
    md5 of the normalized text — byte-compatible with the DuckDB
    oracle's ``nfc_normalize`` (both implement UAX #15; asserted
    equal including md5 over UTF-8).

    Scale shape: pure projection — one scan, zero shuffle; Python
    touches only the normalize itself (``mapInPandas`` per Arrow
    batch, the repo-wide vectorized-UDF shape); lengths, the changed
    flag, and the md5 are JVM expressions over the returned column."""

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf[["doc_id", "raw"]].copy()
            # NULL text propagates as NULL (a cleaning primitive runs
            # BEFORE the guards that count null rows — it must not
            # crash the Arrow worker on them)
            pdf["nfc"] = pdf["raw"].map(
                lambda x: None
                if x is None
                else unicodedata.normalize("NFC", x)
            )
            yield pdf

    raw = synthesize_messy_unicode(spark, sf_dir)
    d = raw.mapInPandas(_norm, "doc_id long, raw string, nfc string")
    return d.select(
        "doc_id",
        F.length("raw").alias("n_raw_cp"),
        F.length("nfc").alias("n_nfc_cp"),
        (F.col("raw") != F.col("nfc")).alias("changed"),
        F.md5(F.col("nfc").cast("binary")).alias("nfc_md5"),
    )


ORACLE_NFC_NORMALIZE = """
WITH raw AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
                      WHEN doc_id % 4 = 1 THEN ' caf' || chr(233)
                      WHEN doc_id % 4 = 2 THEN ' A' || chr(778)
                      ELSE '' END AS raw
  FROM documents
)
SELECT doc_id,
       CAST(length(raw) AS INTEGER) AS n_raw_cp,
       CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_nfc_cp,
       raw <> nfc_normalize(raw) AS changed,
       md5(nfc_normalize(raw)) AS nfc_md5
FROM raw
"""


# --------------------------------------------------------------------------
# Gopher-style rule filter (round-5 addition)
# --------------------------------------------------------------------------
#: Rule constants (the Gopher/MassiveText repetition-free document
#: gate, thresholds scaled to this corpus' 10-99-token documents; at
#: web scale the canonical values are 50..100k tokens etc. — they are
#: constants, not logic).
GOPHER_MIN_TOK = 20
GOPHER_MAX_TOK = 100_000
GOPHER_MEAN_LEN_LO = 3.5
GOPHER_MEAN_LEN_HI = 5.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_ALPHA_MIN = 0.8
GOPHER_MIN_STOP = 2

#: The stopword probe set the rule counts against (Gopher uses a tiny
#: fixed list too — presence of ANY common function words).
_GOPHER_STOPS = ("the", "of", "and", "to", "in", "a", "is", "that")


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document gate (the Gopher/MassiveText quality rules,
    as opposed to :func:`quality_score`'s soft composite): each rule
    is a named boolean column so downstream triage can see WHICH rule
    killed a document, plus the conjunction as ``passes``. Rules:
    token count in range, mean token length in range, symbol-to-token
    ratio (``#``/``...`` per token) under cap, alphabetic-word ratio
    over floor, and a minimum stopword count.

    Scale shape: one corpus scan, all rules are codegen'd JVM
    expressions over the same token split — zero shuffles, zero UDFs;
    the output is row-per-doc and the filter composes with any
    downstream gate via ``passes``."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    mean_len = (n_chars - (n_tok - 1)) / n_tok
    n_sym = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.")).cast("double")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stops = F.array([F.lit(w) for w in _GOPHER_STOPS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    r_ntok = (n_tok >= GOPHER_MIN_TOK) & (n_tok <= GOPHER_MAX_TOK)
    r_mean = (mean_len >= GOPHER_MEAN_LEN_LO) & (mean_len <= GOPHER_MEAN_LEN_HI)
    r_sym = (n_sym / n_tok) <= GOPHER_SYMBOL_MAX
    r_alpha = (n_alpha / n_tok) >= GOPHER_ALPHA_MIN
    r_stop = n_stop >= GOPHER_MIN_STOP
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        r_ntok.cast("int").alias("rule_tok_range"),
        r_mean.cast("int").alias("rule_mean_len"),
        r_sym.cast("int").alias("rule_symbol_ratio"),
        r_alpha.cast("int").alias("rule_alpha_words"),
        r_stop.cast("int").alias("rule_stopwords"),
        (r_ntok & r_mean & r_sym & r_alpha & r_stop).cast("int").alias("passes"),
    )


_GSTOPS = "', '".join(_GOPHER_STOPS)
ORACLE_GOPHER_QUALITY_FILTER = rf"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tok,
         (n_chars - (len(toks) - 1)) / len(toks) AS mean_len,
         CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
           / len(toks) AS sym_ratio,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha_ratio,
         len(list_filter(toks, x -> list_contains(['{_GSTOPS}'], x)))
           AS n_stop
  FROM t
)
SELECT doc_id, n_tok,
       CAST(n_tok >= {GOPHER_MIN_TOK} AND n_tok <= {GOPHER_MAX_TOK}
            AS INTEGER) AS rule_tok_range,
       CAST(mean_len >= {GOPHER_MEAN_LEN_LO}
            AND mean_len <= {GOPHER_MEAN_LEN_HI} AS INTEGER) AS rule_mean_len,
       CAST(sym_ratio <= {GOPHER_SYMBOL_MAX} AS INTEGER) AS rule_symbol_ratio,
       CAST(alpha_ratio >= {GOPHER_ALPHA_MIN} AS INTEGER) AS rule_alpha_words,
       CAST(n_stop >= {GOPHER_MIN_STOP} AS INTEGER) AS rule_stopwords,
       CAST(n_tok >= {GOPHER_MIN_TOK} AND n_tok <= {GOPHER_MAX_TOK}
            AND mean_len >= {GOPHER_MEAN_LEN_LO}
            AND mean_len <= {GOPHER_MEAN_LEN_HI}
            AND sym_ratio <= {GOPHER_SYMBOL_MAX}
            AND alpha_ratio >= {GOPHER_ALPHA_MIN}
            AND n_stop >= {GOPHER_MIN_STOP} AS INTEGER) AS passes
FROM s
"""


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets (round-5 addition)
# --------------------------------------------------------------------------
def ccnet_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: within each language, order
    documents by LM cross-entropy (:func:`perplexity_score`'s
    char-bigram model) and cut into terciles — head = least
    perplexing third (keep), tail = most perplexing (drop or
    down-weight). The canonical perplexity-filtering recipe.

    Scale shape: the rank is
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    (groups × buckets parallel sort partitions — never one task per
    language), with the group count carried by the same pass
    (``count_col``), so the tercile arithmetic is a pure projection.
    Ties at the rounded 5-dp entropy break on doc_id, giving both
    engines an identical total order."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    ppl = perplexity_score(spark, sf_dir)
    langs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    # slim (doc_id, cross_entropy, lang) rows; the rank primitive scans
    # its input 3× (sketch, counts, final — ranks.py prescribes the
    # caller persists it), and un-checkpointed each scan re-runs the
    # bigram-LM scoring join over the corpus
    d = ppl.join(langs, "doc_id").localCheckpoint(eager=True)
    ranked = exact_group_rank(
        d,
        ["lang"],
        "cross_entropy",
        ["doc_id"],
        rank_col="rk",
        count_col="n_lang",
    )
    bucket = F.floor((F.col("rk") - 1) * 3 / F.col("n_lang")).cast("int")
    return ranked.select(
        "doc_id",
        "lang",
        "cross_entropy",
        F.col("rk").cast("long").alias("rk"),
        bucket.alias("bucket"),
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), bucket + 1
        ).alias("bucket_label"),
    )


ORACLE_CCNET_PERPLEXITY_BUCKET = f"""
WITH ppl AS ({ORACLE_PERPLEXITY_SCORE}),
ranked AS (
  SELECT p.doc_id, d.lang, p.cross_entropy,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY p.cross_entropy, p.doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY d.lang) AS n_lang
  FROM ppl p JOIN documents d ON p.doc_id = d.doc_id
)
SELECT doc_id, lang, cross_entropy, rk,
       CAST(((rk - 1) * 3) // n_lang AS INTEGER) AS bucket,
       (['head', 'middle', 'tail'])[CAST(((rk - 1) * 3) // n_lang AS INTEGER) + 1]
         AS bucket_label
FROM ranked
"""


def language_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of corpus metadata
    lang vs :func:`language_id`'s prediction, with each cell's share
    of its true-lang row (``row_share``) — the QA readout a curation
    pipeline checks before trusting the classifier gate. Recall is the
    DIAGONAL subset of ``row_share`` (predicted_lang == lang);
    off-diagonal cells are misclassification rates.

    Scale shape: the per-doc scoring is the same single codegen'd
    scan as ``language_id``; the matrix rollup reduces to ≤ langs²
    rows before the recall window runs, so the window's
    ``partitionBy(lang)`` operates on a metadata-sized aggregated
    frame (never on corpus rows). Recall divides exact integer counts
    as doubles — IEEE-identical in both engines."""
    from pyspark.sql import Window

    per_doc = language_id(spark, sf_dir).select("lang", "predicted_lang")
    cells = per_doc.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "predicted_lang",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("row_share"),
    )


ORACLE_LANGUAGE_CONFUSION_MATRIX = f"""
WITH per_doc AS ({ORACLE_LANGUAGE_ID}),
cells AS (
  SELECT lang, predicted_lang, COUNT(*) AS n_docs
  FROM per_doc GROUP BY lang, predicted_lang
)
SELECT lang, predicted_lang, n_docs,
       CAST(n_docs AS DOUBLE)
       / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS row_share
FROM cells
"""


# --------------------------------------------------------------------------
# Tokenizer induction: the first BPE merge table (round 6)
# --------------------------------------------------------------------------
#: How many top pairs the merge-candidate report returns.
BPE_TOP_PAIRS = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies WITHIN
    whitespace words — the statistic the first BPE merge step argmaxes
    over (Sennrich et al. 2016), emitted as the top
    :data:`BPE_TOP_PAIRS` merge candidates (pair, n_occurrences, rank).
    Differs from :func:`perplexity_score`'s bigram LM (whole-text,
    crosses spaces) and :func:`token_bigram_pmi` (word-level): BPE
    merges never cross word boundaries, so pairs are counted inside
    each word only.

    Scale shape: pair generation is a per-row projection inside the
    scan's stage (explode of substring bigrams — no join); the count
    reduces map-side to a frame bounded by charset² (≤ a few thousand
    rows at ANY corpus size), so the global order-and-rank at the end
    is a metadata-frame sort, never a corpus sort. Subsequent merge
    rounds would re-run this over the re-segmented corpus; the
    per-round cost is always one scan + one bounded aggregation."""
    from udacity_dsnd_projects_spark.functions.pipeline import _toks

    docs = load_table(spark, "documents", sf_dir)
    # explode_outer on both hops: plain explode infers size()>0
    # guards that re-tokenize (hop 1) and re-expand the char pairs
    # (hop 2) once more per row. The length >= 2 filter both bounds
    # the pair expansion non-empty and drops any null token row, so
    # semantics are exactly explode's.
    words = docs.select(F.explode_outer(_toks()).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("pair", "n_occurrences", F.col("rank").cast("long").alias("rank"))
    )


ORACLE_BPE_PAIR_COUNTS = rf"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, len(w)),
                               i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
  FROM words WHERE len(w) >= 2
), counts AS (
  SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences, rank FROM (
  SELECT pair, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS rank
  FROM counts
) t WHERE rank <= {BPE_TOP_PAIRS}
"""


# --------------------------------------------------------------------------
# Tokenizer induction, closed loop (round 12): learn N ordered merges,
# then re-tokenize the corpus with them
# --------------------------------------------------------------------------
#: How many merge rounds bpe_learn_merges runs. Small and FIXED so the
#: DuckDB oracle (an unrolled N-stage CTE pyramid) stays tractable; a
#: production tokenizer run would raise it — per-round cost is constant
#: (one bounded aggregation + one vocab rewrite, see _learn_merges).
BPE_MERGE_ROUNDS = 10

#: Symbol separator in the delimited-segmentation representation
#: (ASCII unit separator). Below every printable character, so the
#: (n DESC, x, y) argmax tie order is identical whether symbols are
#: compared as tuples or as SEP-joined strings; words CONTAINING the
#: separator are excluded from the vocabulary on both engines (the
#: synthetic corpus has none — the filter is the honesty gate).
BPE_SEP = "\x1f"


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(w, cnt): the word vocabulary with occurrence counts — the frame
    BPE learning actually iterates on (Sennrich et al. 2016 operate on
    the vocab-with-counts, never the corpus: pair statistics are
    count-weighted, so one corpus scan up front is sufficient). At
    100 TB the corpus is petabyte-scale but the vocab is merely
    large — this reduction is what makes iterative BPE feasible as a
    Spark job at all."""
    from udacity_dsnd_projects_spark.functions.pipeline import _toks

    return (
        # explode_outer: the inferred size()>0 guard would re-tokenize
        # per row; the length filter below drops a null row exactly as
        # explode would have dropped the (impossible) empty array
        docs.select(F.explode_outer(_toks()).alias("w"))
        .filter((F.length("w") >= 1) & ~F.col("w").contains(BPE_SEP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _char_syms(w: Column) -> Column:
    """array<string> of single characters — the initial segmentation."""
    return F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )


def _learn_merges(
    vocab: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> list[tuple[str, str, int]]:
    """The BPE training loop (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units", alg. 1): start from
    character segmentations, then ``rounds`` times (a) count adjacent
    symbol pairs weighted by word count — EVERY adjacent position, so
    'aaa' contributes (a,a) twice, exactly the reference get_stats —
    (b) argmax with the deterministic (n DESC, x, y) tie order,
    (c) rewrite every segmentation by merging that pair greedily
    left-to-right (a fold whose accumulator-tail check reproduces the
    reference's skip-after-merge scan: a symbol just created by a merge
    is never the left side of another merge in the same pass).

    Scale shape: the loop never touches the corpus — it iterates on
    the checkpointed VOCAB frame (one corpus scan builds it). Per
    round: one map-side-combined groupBy whose result is bounded by
    the count of distinct adjacent symbol pairs (charset² initially,
    vocab-bounded always), one 1-row collect (the argmax — metadata,
    the same driver-side exception as the k-means seeds), and one
    eager ``localCheckpoint`` of the rewritten vocab so lineage stays
    flat.
    Returns the ordered merge list [(x, y, n), ...]; stops early if no
    pair remains (fully merged vocab)."""
    return _learn_merges_with_vocab(vocab, rounds)[0]


def _learn_merges_with_vocab(
    vocab: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """:func:`_learn_merges` plus the FINAL segmented vocab frame
    (syms, cnt) — already localCheckpoint'ed by the loop, so faces that
    need the post-merge segmentation (:func:`bpe_vocab_table`) read it
    for free instead of re-running the merges."""
    merges, stages = _learn_merges_with_stages(vocab, rounds)
    return merges, stages[-1]


#: Memo for the BPE training loop:
#: {(applicationId, vocab-analyzed-plan semanticHash, rounds):
#: (merges, stages)}. The loop is ~2 Spark actions per round (argmax
#: TakeOrdered + eager localCheckpoint) plus the corpus scan that
#: builds the vocab, and EIGHT faces construct it over the same corpus
#: — without the memo a registry sweep re-trains the identical
#: tokenizer per face. The trained artifact is ideal cache material: a
#: driver-side list of BPE_MERGE_ROUNDS string pairs plus the
#: localCheckpoint'ed stage frames (context-lifetime by construction,
#: same as the cache key: checkpointed RDDs belong to the
#: SparkContext, and ``sparkContext.applicationId`` — unlike the
#: ``id(session)`` an earlier draft used — is timestamp-derived and
#: can never alias a dead context after GC recycles an address;
#: VERDICT r13 task 3 / ADVICE r13). semanticHash is computed on the
#: already-analyzed logical plan (analysis is cached by Spark), so
#: distinct corpora — half-corpus learns in bpe_merge_stability,
#: train-half in tokenizer_drift_report, planted-dup test frames —
#: key separately for free; identical plans hit. Never invalidated:
#: the learn is deterministic for a given input plan (fixed tie
#: order). CAVEAT: if the parquet AT THE SAME PATH is rewritten with
#: different rows mid-session, the analyzed plan (and so the key) is
#: unchanged and the memo hands back merges for the old bytes — the
#: test corpus is immutable per the driver contract; mutable-table
#: callers must clear the cache on rewrite. Bounded at
#: _BPE_LEARN_CAP entries with LRU eviction (hits refresh recency;
#: dropping a frame reference merely lets the checkpointed RDDs be
#: GC-unpersisted). Memory class: each entry pins rounds+1 VOCAB-sized
#: stage frames (never corpus-sized — the loop's whole premise), so
#: the cap bounds block-manager residency at cap × (rounds+1) vocab
#: frames; a long-lived session cycling many corpora evicts
#: least-recently-used first, and callers may clear explicitly after
#: a corpus is retired.
_BPE_LEARN_CACHE: "OrderedDict[tuple[str, int, int], tuple[list[tuple[str, str, int]], list[DataFrame]]]" = (
    OrderedDict()
)
_BPE_LEARN_CAP = 32


def _learn_merges_with_stages(
    vocab: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> tuple[list[tuple[str, str, int]], list[DataFrame]]:
    """:func:`_learn_merges` plus EVERY intermediate segmented vocab
    frame: ``stages[k]`` is the (syms, cnt) frame after ``k`` merges
    (``stages[0]`` = character segmentation), each already
    localCheckpoint'ed by the loop so per-stage readouts
    (:func:`bpe_compression_sweep`) aggregate the materialized frames
    instead of re-running any merge. ``len(stages) == len(merges)+1``;
    the loop stops early when no adjacent pair remains. MEMOIZED per
    (applicationId, vocab plan, rounds) — see :data:`_BPE_LEARN_CACHE`
    — so the eight BPE faces train once per corpus per context."""
    key = (
        vocab.sparkSession.sparkContext.applicationId,
        vocab._jdf.queryExecution().analyzed().semanticHash(),
        rounds,
    )
    hit = _BPE_LEARN_CACHE.get(key)
    if hit is not None:
        _BPE_LEARN_CACHE.move_to_end(key)
        return hit
    v = vocab.select(_char_syms(F.col("w")).alias("syms"), "cnt").localCheckpoint(
        eager=True
    )
    stages: list[DataFrame] = [v]
    merges: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        pairs = v.filter(F.size("syms") >= 2).select(
            "cnt",
            # explode_outer: stops the inferred size()>0 guard from
            # running the pair expansion twice per word row, every
            # merge round; size(syms) >= 2 guarantees >= 1 pair
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda j: F.struct(
                        F.element_at(F.col("syms"), j).alias("x"),
                        F.element_at(F.col("syms"), j + 1).alias("y"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "x", "y")
            .limit(1)
            .collect()
        )
        if not top:
            break
        x, y, n = top[0]["x"], top[0]["y"], int(top[0]["n"])
        merges.append((x, y, n))
        # greedy left-to-right merge: append, unless the accumulator
        # tail is x and the current symbol is y — then fuse them.
        # try_element_at, not element_at: ANSI mode evaluates every
        # conjunct, so the tail probe must be NULL-safe on empty acc.
        v = v.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.try_element_at(acc, F.lit(-1)) == F.lit(x))
                    & (s == F.lit(y)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(x + y)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
        stages.append(v)
    while len(_BPE_LEARN_CACHE) >= _BPE_LEARN_CAP:
        _BPE_LEARN_CACHE.popitem(last=False)
    _BPE_LEARN_CACHE[key] = (merges, stages)
    return merges, stages


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORDERED BPE merge table learned from the corpus — what
    :func:`bpe_pair_counts` computes one round of, iterated to a
    tokenizer artifact: (step, lhs, rhs, merged, n_occurrences), one
    row per merge in learning order. Step 1 equals
    ``bpe_pair_counts``'s rank-1 pair by construction (same statistic,
    same tie order) — pinned in tests.

    NOTE: construction runs the training loop (2 Spark actions per
    round on the vocab frame — the documented eager exception, like
    ``guard_metrics_report``); the returned frame is the metadata-sized
    merge list itself."""
    vocab = _bpe_vocab(load_table(spark, "documents", sf_dir))
    rows = [
        (i + 1, x, y, x + y, n)
        for i, (x, y, n) in enumerate(_learn_merges(vocab))
    ]
    # literal relation (operators/localframe.py): createDataFrame on a
    # driver-local list is a pickled Python RDD whose every action
    # forks Python workers; the merge list is metadata-sized
    return local_frame(
        spark,
        rows,
        "step long, lhs string, rhs string, merged string, n_occurrences long",
    )


def _seg_str(w: Column) -> Column:
    """The SEP-delimited segmentation string: every symbol wrapped in
    single separators, symbols joined by a DOUBLE separator —
    ``␟h␟␟i␟`` — so a literal ``replace(␟x␟␟y␟ → ␟xy␟)`` is exactly
    one greedy left-to-right merge pass that can never match inside a
    multi-character symbol (the pattern spans the inter-symbol gap)."""
    return F.concat(
        F.lit(BPE_SEP), F.array_join(_char_syms(w), BPE_SEP + BPE_SEP), F.lit(BPE_SEP)
    )


def _eligible_words() -> Column:
    """The word array the BPE faces operate on: non-empty,
    separator-free whitespace tokens (the same domain gate as
    :func:`_bpe_vocab`)."""
    from udacity_dsnd_projects_spark.functions.pipeline import _toks

    return F.filter(
        _toks(), lambda w: (F.length(w) >= 1) & ~w.contains(BPE_SEP)
    )


def _word_units_fn(merges: list[tuple[str, str, int]]):
    """Per-word merged-unit counter: the learned merges baked in as a
    chain of literal ``replace`` calls over the delimited segmentation
    (each replace IS one greedy merge pass — see :func:`_seg_str`),
    then symbol count by separator arithmetic."""
    sep, sep2 = BPE_SEP, BPE_SEP + BPE_SEP

    def n_units(w: Column) -> Column:
        seg = _seg_str(w)
        for x, y, _ in merges:
            seg = F.replace(
                seg,
                F.lit(sep + x + sep2 + y + sep),
                F.lit(sep + x + y + sep),
            )
        # k symbols ↔ k-1 double-separator gaps
        return (
            F.length(seg) - F.length(F.replace(seg, F.lit(sep2), F.lit(sep))) + 1
        )

    return n_units


def _sum_over_words(fn) -> Column:
    """Sum a per-word integer expression over the ``ws`` word array —
    a fold, so the whole reduction stays row-local (no explode, no
    shuffle)."""
    return F.aggregate(
        F.transform("ws", lambda w: fn(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


# Unresolved-expression templates for the baked replace-chain folds:
# building the chain costs hundreds of py4j round trips (~0.4-0.5 s
# per query construction at BPE_MERGE_ROUNDS=10 — round-16 profile).
# See operators/exprcache.py for the safety argument; this caches a
# plan FRAGMENT keyed on the merge artifact, never data.
from udacity_dsnd_projects_spark.operators.exprcache import (  # noqa: E402
    _CACHE as _FOLD_EXPR_CACHE,  # exposed for tests
    cached_expr as _cached_fold_expr,
)


def _merged_units_sum(spark: SparkSession, merges) -> Column:
    """``_sum_over_words(_word_units_fn(merges))`` as a cached
    template — the merge-aware per-document unit total every
    token-budget face projects (see :data:`_FOLD_EXPR_CACHE`)."""
    merges = list(merges)
    return _cached_fold_expr(
        spark,
        ("merged_units_sum", tuple(merges)),
        lambda: _sum_over_words(_word_units_fn(merges)),
    )


def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-tokenize the corpus with the merges :func:`bpe_learn_merges`
    learned — the merge-aware token counter the token-budget faces
    (``seq_pack_bins``, ``source_mixture_weights``) approximate with
    whitespace tokens: per document, (doc_id, n_words, n_char_units,
    n_merged_units, merge_ratio) where n_char_units is the pre-merge
    symbol count (characters in eligible words), n_merged_units the
    count after applying all learned merges IN ORDER, and merge_ratio
    their quotient (≤ 1; how much the learned tokenizer compresses
    this doc — NULL for docs with no eligible words).

    Scale shape: the learned merges are a driver-side list of
    :data:`BPE_MERGE_ROUNDS` string pairs (metadata — the trained
    artifact), baked into the plan as a chain of literal ``replace``
    calls over the delimited segmentation string (see :func:`_seg_str`
    — string replace IS the greedy merge pass). The whole apply is one
    per-row projection inside the documents scan: no join against the
    vocab, no shuffle, no Python in the data path; unit counts come
    from separator arithmetic (symbols = inter-symbol gaps + 1).

    NOTE: construction runs the training loop first (the same eager
    exception as :func:`bpe_learn_merges`)."""
    docs = load_table(spark, "documents", sf_dir)
    merges = _learn_merges(_bpe_vocab(docs))
    per = docs.select("doc_id", _eligible_words().alias("ws")).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        _sum_over_words(lambda w: F.length(w)).alias("n_char_units"),
        _merged_units_sum(spark, merges).alias("n_merged_units"),
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_char_units",
        "n_merged_units",
        F.when(
            F.col("n_char_units") > 0,
            F.round(F.col("n_merged_units") / F.col("n_char_units"), 6),
        ).alias("merge_ratio"),
    )


def _oracle_bpe_stages(
    rounds: int = BPE_MERGE_ROUNDS, train_where: str = "", prefix: str = ""
) -> str:
    """The shared CTE pyramid both BPE oracles build on: words → v0
    (char segmentation as SEP-delimited strings) → per-stage pair
    counts p{k}, argmax m{k}, rewritten vocab v{k+1}. Every v{k} is
    MATERIALIZED — it is referenced twice (pair counts + next stage),
    and inlining would blow up the plan exponentially in rounds.
    ``train_where`` optionally restricts which documents TRAIN the
    merges (e.g. ``" WHERE doc_id % 2 = 0"`` for the drift report's
    snapshot split); ``prefix`` renames every CTE so TWO pyramids can
    coexist in one query (the stability face). Degenerate-proof
    (ADVICE r12): each stage rewrite reads its merge via a
    COALESCE'd scalar subquery, so when a vocab fully merges before
    ``rounds`` the later stages CARRY FORWARD (``v{k+1} = v{k}``,
    empty-pattern replace is a no-op) instead of collapsing to empty
    through a CROSS JOIN — final-stage readers (``bpe_vocab_table``)
    see what the Spark side's early-stopped loop returns."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    p = prefix
    parts = [
        f"""{p}words AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents{train_where}
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || {sep} || '%'
  GROUP BY w
), {p}v0 AS MATERIALIZED (
  SELECT {sep} || array_to_string(
           list_transform(range(1, len(w)+1),
                          i -> w[CAST(i AS INTEGER)]),
           {sep2}) || {sep} AS seg,
         cnt
  FROM {p}words
)"""
    ]
    for k in range(rounds):
        parts.append(
            f"""{p}p{k} AS (
  SELECT p.x AS x, p.y AS y, CAST(SUM(cnt) AS BIGINT) AS n FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(l)),
                                 i -> {{'x': l[CAST(i AS INTEGER)],
                                       'y': l[CAST(i AS INTEGER)+1]}})) AS p
    FROM (SELECT str_split(substr(seg, 2, len(seg)-2), {sep2}) AS l, cnt
          FROM {p}v{k}) s
  ) q GROUP BY 1, 2
), {p}m{k} AS MATERIALIZED (
  SELECT CAST({k + 1} AS BIGINT) AS step, x, y, n
  FROM {p}p{k} ORDER BY n DESC, x, y LIMIT 1
), {p}v{k + 1} AS MATERIALIZED (
  SELECT replace(seg,
           COALESCE((SELECT {sep}||x||{sep2}||y||{sep} FROM {p}m{k}), ''),
           COALESCE((SELECT {sep}||x||y||{sep} FROM {p}m{k}), '')) AS seg,
         cnt
  FROM {p}v{k}
)"""
        )
    return ",\n".join(parts)


def _oracle_seg_chain(rounds: int, prefix: str = "", w: str = "w") -> str:
    """The SEP-delimited replace chain applying every learned merge in
    order to a word column ``w`` — the oracle twin of
    :func:`_word_units_fn`'s baked chain. Each merge is read via a
    scalar subquery against its ``m{k}`` CTE and COALESCE'd to ``''``:
    DuckDB's ``replace`` with an empty pattern is a no-op, so a stage
    left empty by early stop (fully merged vocab) SKIPS its replace —
    matching the Spark side's shorter learned chain — instead of
    annihilating the row set the way the former
    ``docwords CROSS JOIN m{k}`` did (ADVICE r12: the train-half
    restriction in the drift report makes empty stages likelier)."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    p = prefix
    seg = (
        f"{sep} || array_to_string(list_transform(range(1, len({w})+1), "
        f"i -> {w}[CAST(i AS INTEGER)]), {sep2}) || {sep}"
    )
    for k in range(rounds):
        pat = f"COALESCE((SELECT {sep}||x||{sep2}||y||{sep} FROM {p}m{k}), '')"
        rep = f"COALESCE((SELECT {sep}||x||y||{sep} FROM {p}m{k}), '')"
        seg = f"replace({seg}, {pat}, {rep})"
    return seg


def _oracle_bpe_learn_merges(rounds: int = BPE_MERGE_ROUNDS) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM m{k}" for k in range(rounds))
    return f"""
WITH {_oracle_bpe_stages(rounds)}
SELECT step, x AS lhs, y AS rhs, x || y AS merged, n AS n_occurrences
FROM ({union}) u
"""


ORACLE_BPE_LEARN_MERGES = _oracle_bpe_learn_merges()


def _oracle_bpe_apply_merges(rounds: int = BPE_MERGE_ROUNDS) -> str:
    seg = _oracle_seg_chain(rounds)
    return f"""
WITH {_oracle_bpe_stages(rounds)},
docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
),
counted AS (
  SELECT doc_id,
         COUNT(*) AS n_words,
         CAST(SUM(len(w)) AS BIGINT) AS n_char_units,
         CAST(SUM(len(seg) - len(replace(seg, chr(31)||chr(31), chr(31))) + 1)
              AS BIGINT) AS n_merged_units
  FROM (SELECT doc_id, w, {seg} AS seg FROM docwords) s
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(c.n_words, 0) AS n_words,
       COALESCE(c.n_char_units, 0) AS n_char_units,
       COALESCE(c.n_merged_units, 0) AS n_merged_units,
       ROUND(c.n_merged_units * 1.0 / NULLIF(c.n_char_units, 0), 6)
         AS merge_ratio
FROM documents d LEFT JOIN counted c ON d.doc_id = c.doc_id
"""


ORACLE_BPE_APPLY_MERGES = _oracle_bpe_apply_merges()


def bpe_token_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``source_mixture_weights`` with an HONEST token denominator —
    the integration the training-prep family was missing: the
    whitespace-token budget split is re-planned on MERGE-AWARE unit
    counts from :func:`bpe_apply_merges`, so sources whose text
    compresses well under the learned tokenizer (natural language)
    get budget proportional to what the model will actually see, not
    to their whitespace token count. One row per source: (source,
    n_docs, n_merged_tokens, weight, planned_tokens) with the same
    equal-share formula as ``source_mixture_weights``
    (``min(1, share / tokens)``).

    Scale shape: the learn loop iterates on the vocab frame (see
    :func:`_learn_merges`); the apply is a shuffle-free per-row fold
    inside the documents scan; the rollup is one source-cardinality
    groupBy with the source count joined back as a broadcast 1-row
    cross join — the exact plan of ``source_mixture_weights``, just a
    different token expression. NOTE: construction runs the training
    loop (the documented eager exception)."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        MIXTURE_TOKEN_BUDGET,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = _learn_merges(_bpe_vocab(docs))
    s = (
        docs.select("source", _eligible_words().alias("ws"))
        .select("source", _merged_units_sum(spark, merges).alias("u"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("u").alias("n_merged_tokens"),
        )
    )
    s = s.crossJoin(
        F.broadcast(s.groupBy().agg(F.count(F.lit(1)).alias("__n_sources")))
    )
    share = F.lit(float(MIXTURE_TOKEN_BUDGET)) / F.col("__n_sources")
    weight = F.least(F.lit(1.0), share / F.col("n_merged_tokens"))
    return s.select(
        "source",
        "n_docs",
        "n_merged_tokens",
        F.round(weight, 6).alias("weight"),
        F.round(weight * F.col("n_merged_tokens"), 0)
        .cast("long")
        .alias("planned_tokens"),
    )


def _oracle_bpe_token_mixture_weights(rounds: int = BPE_MERGE_ROUNDS) -> str:
    from udacity_dsnd_projects_spark.functions.pipeline import (
        MIXTURE_TOKEN_BUDGET,
    )

    seg = _oracle_seg_chain(rounds)
    return f"""
WITH {_oracle_bpe_stages(rounds)},
docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
),
perdoc AS (
  SELECT doc_id,
         CAST(SUM(len(seg) - len(replace(seg, chr(31)||chr(31), chr(31))) + 1)
              AS BIGINT) AS units
  FROM (SELECT doc_id, {seg} AS seg FROM docwords) s
  GROUP BY doc_id
),
s AS (
  SELECT d.source,
         COUNT(*) AS n_docs,
         CAST(SUM(COALESCE(p.units, 0)) AS BIGINT) AS n_merged_tokens
  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
  GROUP BY d.source
),
t AS (SELECT *, COUNT(*) OVER () AS n_sources FROM s)
SELECT source, n_docs, n_merged_tokens,
       ROUND(LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources)
                        / n_merged_tokens), 6) AS weight,
       CAST(ROUND(LEAST(1.0, ({MIXTURE_TOKEN_BUDGET}.0 / n_sources)
                             / n_merged_tokens)
                  * n_merged_tokens, 0) AS BIGINT) AS planned_tokens
FROM t
"""


ORACLE_BPE_TOKEN_MIXTURE_WEIGHTS = _oracle_bpe_token_mixture_weights()


def bpe_vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned subword VOCABULARY — the second tokenizer artifact
    next to :func:`bpe_learn_merges`' rule table: every unit the
    post-merge segmentation uses, with its corpus frequency. One row
    per unit: (unit, n_chars, n_occurrences) where n_occurrences is
    count-weighted over word occurrences — the table a tokenizer ships
    as vocab.json, and the frequency readout that says which merges
    actually carry corpus mass (a unit can also VANISH from here when
    a later merge consumes every occurrence, e.g. 'er' swallowed by
    'mer' — the merge table alone cannot show that).

    Scale shape: reads the learn loop's final checkpointed vocab frame
    (no re-run — :func:`_learn_merges_with_vocab`), explodes symbols
    weighted by word count, and reduces map-side to a frame bounded by
    charset + :data:`BPE_MERGE_ROUNDS` new units. NOTE: construction
    runs the training loop (the documented eager exception)."""
    vocab = _bpe_vocab(load_table(spark, "documents", sf_dir))
    _, v = _learn_merges_with_vocab(vocab)
    return (
        v.select(F.explode("syms").alias("unit"), "cnt")
        .groupBy("unit")
        .agg(F.sum("cnt").cast("long").alias("n_occurrences"))
        .select(
            "unit",
            F.length("unit").cast("long").alias("n_chars"),
            "n_occurrences",
        )
    )


def _oracle_bpe_vocab_table(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return f"""
WITH {_oracle_bpe_stages(rounds)},
ex AS (
  SELECT unnest(str_split(substr(seg, 2, len(seg)-2), chr(31)||chr(31)))
           AS unit,
         cnt
  FROM v{rounds}
)
SELECT unit,
       CAST(len(unit) AS BIGINT) AS n_chars,
       CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM ex GROUP BY unit
"""


ORACLE_BPE_VOCAB_TABLE = _oracle_bpe_vocab_table()


def bpe_compression_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-budget tuning CURVE for the tokenizer family — what
    :func:`~udacity_dsnd_projects_spark.functions.similarity.ivf_probe_sweep`
    is to ANN nprobe: corpus size in tokenizer units after EVERY merge
    stage 0..:data:`BPE_MERGE_ROUNDS`, one row per stage —
    (step, merged, total_units, compression_ratio). ``total_units`` is
    the count-weighted symbol total over the segmented vocabulary
    (= what the corpus tokenizes to at that stage), ``merged`` the pair
    the step fused (NULL at step 0), ``compression_ratio`` the quotient
    against the character baseline — the curve a tokenizer-induction
    run reads to pick its merge budget (it flattens when new merges
    stop buying compression).

    Scale shape: the loop iterates on the checkpointed VOCAB frame
    (one corpus scan builds it — see :func:`_learn_merges`); each
    stage's readout is ONE map-side-combined aggregation over the
    already-materialized stage frame, reduced to a single row before
    the (rounds+1)-row union, and the character baseline rides a 1-row
    broadcast join rather than a driver-side count. If the vocabulary
    fully merges before the budget (early stop), the remaining steps
    pad with NULL rows — the oracle guards each post-stop step on its
    merge CTE being non-empty, so the curve length is fixed either
    way. NOTE: construction
    runs the training loop (the documented eager exception, like
    :func:`bpe_learn_merges`)."""
    return _compression_sweep_frame(spark, load_table(spark, "documents", sf_dir))


def _compression_sweep_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """:func:`bpe_compression_sweep` over an explicit documents frame —
    the injectable face crafted-corpus tests drive (the registry face
    is built ON it, so the two cannot drift)."""
    vocab = _bpe_vocab(docs)
    merges, stages = _learn_merges_with_stages(vocab)
    rows = []
    for k, v in enumerate(stages):
        merged = (
            F.lit(merges[k - 1][0] + merges[k - 1][1])
            if k >= 1
            else F.lit(None).cast("string")
        )
        rows.append(
            v.agg(
                F.sum(F.col("cnt") * F.size("syms"))
                .cast("long")
                .alias("total_units")
            ).select(
                F.lit(k).cast("long").alias("step"),
                merged.alias("merged"),
                "total_units",
            )
        )
    for k in range(len(stages), BPE_MERGE_ROUNDS + 1):
        rows.append(
            spark.range(0, 1, 1, 1).select(
                F.lit(k).cast("long").alias("step"),
                F.lit(None).cast("string").alias("merged"),
                F.lit(None).cast("long").alias("total_units"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    base = stages[0].agg(
        F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("__base_units")
    )
    return out.crossJoin(F.broadcast(base)).select(
        "step",
        "merged",
        "total_units",
        F.round(
            F.col("total_units") / F.nullif(F.col("__base_units"), F.lit(0)), 6
        ).alias("compression_ratio"),
    )


def _oracle_bpe_compression_sweep(rounds: int = BPE_MERGE_ROUNDS) -> str:
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    units = (
        f"CAST(SUM(cnt * (len(seg) - len(replace(seg, {sep2}, {sep})) + 1)) "
        "AS BIGINT)"
    )
    blocks = []
    for k in range(rounds + 1):
        merged = (
            "CAST(NULL AS VARCHAR)" if k == 0 else f"(SELECT x || y FROM m{k - 1})"
        )
        # steps past an early stop (m{k-1} empty — fully merged vocab)
        # must read NULL, matching the Spark side's NULL padding; the
        # stage frames themselves CARRY FORWARD (v{k+1} = v{k}) since
        # the round-13 degenerate-proofing, so the guard is explicit
        # instead of riding a collapsed-empty-stage artifact
        total = (
            units
            if k == 0
            else f"CASE WHEN EXISTS (SELECT 1 FROM m{k - 1}) THEN {units} END"
        )
        blocks.append(
            f"SELECT CAST({k} AS BIGINT) AS step, {merged} AS merged, "
            f"{total} AS total_units FROM v{k}"
        )
    union = " UNION ALL ".join(blocks)
    return f"""
WITH {_oracle_bpe_stages(rounds)},
u AS ({union}),
b AS (SELECT total_units AS base_units FROM u WHERE step = 0)
SELECT u.step, u.merged, u.total_units,
       ROUND(u.total_units * 1.0 / NULLIF(b.base_units, 0), 6)
         AS compression_ratio
FROM u CROSS JOIN b
"""


ORACLE_BPE_COMPRESSION_SWEEP = _oracle_bpe_compression_sweep()


#: Unit budget per packed training sequence for the merge-aware
#: packing face. Distinct from pipeline.SEQ_PACK_BUDGET (2048
#: WHITESPACE tokens): merged units are finer-grained than words
#: (~chars/2 at these merge budgets), so the bin budget is wider to
#: pack a comparable number of documents per bin.
BPE_PACK_BUDGET = 8192


def bpe_seq_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``seq_pack_bins`` with the HONEST token denominator — the third
    consumer of the learned tokenizer (after
    :func:`bpe_token_mixture_weights` and :func:`bpe_apply_merges`):
    documents stream in doc_id order within each language and fill
    fixed :data:`BPE_PACK_BUDGET`-unit bins, where a document's cost is
    its MERGE-AWARE unit count (what the model actually sees), not its
    whitespace token count. One row per document: (doc_id, lang,
    n_units, cum_units, bin) with ``bin = floor(units_before /
    budget)`` — contiguous, deterministic, partitioning-independent,
    exactly ``seq_pack_bins``'s contract.

    Scale shape: the learned merges bake into the plan as literal
    ``replace`` chains (see :func:`bpe_apply_merges` — per-row
    projection, no join, no Python); the running unit count is
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_cumsum`
    (bucketed distributed prefix-sum), never a single-task-per-language
    window. NOTE: construction runs the training loop (the documented
    eager exception)."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_cumsum

    docs = load_table(spark, "documents", sf_dir)
    merges = _learn_merges(_bpe_vocab(docs))
    d = docs.select("doc_id", "lang", _eligible_words().alias("ws")).select(
        "doc_id",
        "lang",
        _merged_units_sum(spark, merges).alias("n_units"),
        # slim one-row-per-doc frame; the cumsum primitive scans its
        # input 3× (sketch, partials, final window — ranks.py
        # prescribes the caller persists it), and un-checkpointed each
        # scan re-runs the baked replace chain over every word
    ).localCheckpoint(eager=True)
    c = exact_group_cumsum(
        d, ["lang"], "doc_id", [], "n_units", cumsum_col="cum_units"
    )
    return c.select(
        "doc_id",
        "lang",
        "n_units",
        "cum_units",
        F.floor(
            (F.col("cum_units") - F.col("n_units"))
            / F.lit(float(BPE_PACK_BUDGET))
        )
        .cast("long")
        .alias("bin"),
    )


def _oracle_bpe_seq_pack_bins(rounds: int = BPE_MERGE_ROUNDS) -> str:
    seg = _oracle_seg_chain(rounds)
    return f"""
WITH {_oracle_bpe_stages(rounds)},
docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
),
perdoc AS (
  SELECT doc_id,
         CAST(SUM(len(seg) - len(replace(seg, chr(31)||chr(31), chr(31))) + 1)
              AS BIGINT) AS units
  FROM (SELECT doc_id, {seg} AS seg FROM docwords) s
  GROUP BY doc_id
),
c AS (
  SELECT d.doc_id, d.lang, COALESCE(p.units, 0) AS n_units,
         SUM(COALESCE(p.units, 0)) OVER (
           PARTITION BY d.lang ORDER BY d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_units
  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
)
SELECT doc_id, lang, CAST(n_units AS BIGINT) AS n_units,
       CAST(cum_units AS BIGINT) AS cum_units,
       CAST(FLOOR((cum_units - n_units) / {BPE_PACK_BUDGET}.0) AS BIGINT)
         AS bin
FROM c
"""


ORACLE_BPE_SEQ_PACK_BINS = _oracle_bpe_seq_pack_bins()


def tokenizer_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAIN/EVAL drift — the readout a crawl pipeline needs
    before trusting a shipped tokenizer on new data: merges are learned
    ONLY on the snapshot half (even doc_ids — the same history split
    the crawl-loop bench replays), then fertility (merged units per
    word) is measured on BOTH halves per source. A source whose eval
    fertility runs hot is drifting away from the tokenizer's training
    distribution (new jargon, new language, markup creep) and inflates
    its real token budget. One row per source: (source, train_docs,
    eval_docs, train_fertility, eval_fertility, fertility_drift), NULL
    where a split has no eligible words.

    Scale shape: the learn loop iterates on the TRAIN vocab frame (one
    filtered corpus scan builds it — see :func:`_learn_merges`); the
    apply is the baked replace-chain projection inside one full-corpus
    scan, and the rollup is a single source-cardinality groupBy with
    conditional aggregates — no join between the halves. NOTE:
    construction runs the training loop (the documented eager
    exception)."""
    return _tokenizer_drift_frame(
        spark, load_table(spark, "documents", sf_dir)
    )


def _tokenizer_drift_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """:func:`tokenizer_drift_report` over an explicit documents frame —
    the injectable face crafted-corpus tests drive (the registry face
    is built ON it, so the two cannot drift)."""
    train = docs.filter(F.col("doc_id") % 2 == 0)
    merges = _learn_merges(_bpe_vocab(train))
    per = docs.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("tr"),
        _eligible_words().alias("ws"),
    ).select(
        "source",
        "tr",
        F.size("ws").cast("long").alias("w"),
        _merged_units_sum(spark, merges).alias("u"),
    )
    g = per.groupBy("source").agg(
        F.sum(F.when(F.col("tr"), 1).otherwise(0)).cast("long").alias("train_docs"),
        F.sum(F.when(~F.col("tr"), 1).otherwise(0)).cast("long").alias("eval_docs"),
        F.sum(F.when(F.col("tr"), F.col("w"))).alias("tw"),
        F.sum(F.when(F.col("tr"), F.col("u"))).alias("tu"),
        F.sum(F.when(~F.col("tr"), F.col("w"))).alias("ew"),
        F.sum(F.when(~F.col("tr"), F.col("u"))).alias("eu"),
    )
    tf = F.round(F.col("tu") / F.nullif(F.col("tw"), F.lit(0)), 6)
    ef = F.round(F.col("eu") / F.nullif(F.col("ew"), F.lit(0)), 6)
    return g.select(
        "source",
        "train_docs",
        "eval_docs",
        tf.alias("train_fertility"),
        ef.alias("eval_fertility"),
        F.round(ef - tf, 6).alias("fertility_drift"),
    )


def _oracle_tokenizer_drift_report(rounds: int = BPE_MERGE_ROUNDS) -> str:
    seg = _oracle_seg_chain(rounds)
    return f"""
WITH {_oracle_bpe_stages(rounds, train_where=" WHERE doc_id % 2 = 0")},
docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
),
perdoc AS (
  SELECT doc_id,
         COUNT(*) AS w,
         CAST(SUM(len(seg) - len(replace(seg, chr(31)||chr(31), chr(31))) + 1)
              AS BIGINT) AS u
  FROM (SELECT doc_id, w, {seg} AS seg FROM docwords) s
  GROUP BY doc_id
),
d AS (
  SELECT dd.source, (dd.doc_id % 2 = 0) AS tr,
         COALESCE(p.w, 0) AS w, COALESCE(p.u, 0) AS u
  FROM documents dd LEFT JOIN perdoc p ON dd.doc_id = p.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
       CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT) AS eval_docs,
       ROUND(SUM(CASE WHEN tr THEN u END) * 1.0
             / NULLIF(SUM(CASE WHEN tr THEN w END), 0), 6)
         AS train_fertility,
       ROUND(SUM(CASE WHEN NOT tr THEN u END) * 1.0
             / NULLIF(SUM(CASE WHEN NOT tr THEN w END), 0), 6)
         AS eval_fertility,
       ROUND(ROUND(SUM(CASE WHEN NOT tr THEN u END) * 1.0
                   / NULLIF(SUM(CASE WHEN NOT tr THEN w END), 0), 6)
             - ROUND(SUM(CASE WHEN tr THEN u END) * 1.0
                     / NULLIF(SUM(CASE WHEN tr THEN w END), 0), 6), 6)
         AS fertility_drift
FROM d GROUP BY source
"""


ORACLE_TOKENIZER_DRIFT_REPORT = _oracle_tokenizer_drift_report()


def bpe_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting face of :func:`bpe_seq_pack_bins` — the exact twin of
    ``pack_efficiency``/``seq_pack_bins``, on MERGE-AWARE units: per
    (lang, bin) the document count, used units, fill ratio against
    :data:`BPE_PACK_BUDGET`, and the straddle overflow (a document
    belongs to the bin it STARTS in, so a bin can exceed the budget by
    up to one document). Together with the whitespace twin this shows
    how much padding waste the honest token denominator removes.

    Scale shape: rides :func:`bpe_seq_pack_bins`' distributed
    prefix-sum and adds ONE map-side-combined groupBy on (lang, bin);
    output is bin-count-sized. NOTE: construction runs the training
    loop (the documented eager exception)."""
    bins = bpe_seq_pack_bins(spark, sf_dir)
    per = bins.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_units").alias("used_units"),
    )
    return per.select(
        "lang",
        "bin",
        "n_docs",
        "used_units",
        F.round(F.col("used_units") / F.lit(float(BPE_PACK_BUDGET)), 6).alias(
            "fill_ratio"
        ),
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("used_units") - F.lit(BPE_PACK_BUDGET)).cast("long"),
        ).alias("overflow_units"),
    )


def _oracle_bpe_pack_efficiency(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return f"""
WITH z AS ({_oracle_bpe_seq_pack_bins(rounds)})
SELECT lang, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_units) AS BIGINT) AS used_units,
       ROUND(SUM(n_units) / {BPE_PACK_BUDGET}.0, 6) AS fill_ratio,
       GREATEST(0, CAST(SUM(n_units) - {BPE_PACK_BUDGET} AS BIGINT))
         AS overflow_units
FROM z GROUP BY lang, bin
"""


ORACLE_BPE_PACK_EFFICIENCY = _oracle_bpe_pack_efficiency()


def bpe_merge_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer REPRODUCIBILITY gate — the resample-stability twin of
    :func:`tokenizer_drift_report`: merges are learned INDEPENDENTLY on
    the even-doc and odd-doc halves, and the two learned rule tables
    are compared step by step. A tokenizer whose early merges already
    disagree across halves is fit to sampling noise, not the corpus —
    the go/no-go a pipeline reads before shipping the artifact. One
    row per budgeted step: (step, merged_even, merged_odd, agree),
    NULL where a half stopped early (fully merged), ``agree`` NULL-safe
    so two exhausted halves agree.

    Scale shape: both learn loops iterate on their half's vocab frame
    (one filtered corpus scan each — see :func:`_learn_merges`); the
    comparison is the two driver-side merge lists (metadata — the
    trained artifacts), emitted as a BPE_MERGE_ROUNDS-row frame. NOTE:
    construction runs BOTH training loops (the documented eager
    exception, twice)."""
    docs = load_table(spark, "documents", sf_dir)
    m_even = _learn_merges(_bpe_vocab(docs.filter(F.col("doc_id") % 2 == 0)))
    m_odd = _learn_merges(_bpe_vocab(docs.filter(F.col("doc_id") % 2 == 1)))
    rows = []
    for k in range(BPE_MERGE_ROUNDS):
        e = m_even[k][0] + m_even[k][1] if k < len(m_even) else None
        o = m_odd[k][0] + m_odd[k][1] if k < len(m_odd) else None
        rows.append((k + 1, e, o, e == o))
    return local_frame(
        spark,
        rows,
        "step long, merged_even string, merged_odd string, agree boolean",
    )


def _oracle_bpe_merge_stability(rounds: int = BPE_MERGE_ROUNDS) -> str:
    e_union = " UNION ALL ".join(f"SELECT * FROM e_m{k}" for k in range(rounds))
    o_union = " UNION ALL ".join(f"SELECT * FROM o_m{k}" for k in range(rounds))
    return f"""
WITH {_oracle_bpe_stages(rounds, " WHERE doc_id % 2 = 0", "e_")},
{_oracle_bpe_stages(rounds, " WHERE doc_id % 2 = 1", "o_")},
steps AS (SELECT unnest(range(1, {rounds + 1})) AS step),
em AS (SELECT step, x || y AS merged FROM ({e_union}) t),
om AS (SELECT step, x || y AS merged FROM ({o_union}) t)
SELECT CAST(s.step AS BIGINT) AS step,
       em.merged AS merged_even,
       om.merged AS merged_odd,
       (em.merged IS NOT DISTINCT FROM om.merged) AS agree
FROM steps s
LEFT JOIN em ON s.step = em.step
LEFT JOIN om ON s.step = om.step
"""


ORACLE_BPE_MERGE_STABILITY = _oracle_bpe_merge_stability()


#: Merge-aware unit budget per within-document training chunk. Narrower
#: than BPE_PACK_BUDGET (which packs WHOLE documents into bins) so the
#: corpus' longer documents exercise the multi-chunk path at every SF —
#: the same reasoning as training.WINDOW_TOKS.
BPE_CHUNK_BUDGET = 128


def bpe_encode_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing BPE consumer (VERDICT r12 task 3): cut each document
    into training chunks of at most :data:`BPE_CHUNK_BUDGET` MERGE-AWARE
    units — ``sliding_window_chunks``' job done in the unit every other
    token-budget face in the repo now speaks, closing the loop from
    tokenizer induction to the training artifact. Words stream in
    document order and a word belongs to the chunk it STARTS in (the
    :func:`bpe_seq_pack_bins` straddle arithmetic applied
    within-document), so a chunk can exceed the budget by part of one
    word — observable in ``n_units``, never silently split mid-word.
    One row per (doc, chunk): (doc_id, chunk_id, n_words, n_units,
    start_word, chunk_hash) with ``start_word`` the 0-based index of
    the chunk's first eligible word and ``chunk_hash`` the md5 of the
    chunk's space-joined words — the identity column that makes chunk
    rows dedup-able downstream (``win_hash``'s role in
    ``sliding_window_chunks``); documents with no eligible words yield
    no rows (the ``window_chunks`` convention).

    Scale shape: the learned merges bake into the plan as the literal
    replace chain (see :func:`bpe_apply_merges`); per-word unit costs,
    the running prefix sum, chunk assignment, and the per-chunk rollup
    are ALL row-local array folds inside the documents scan — zero
    exchanges in the whole plan (plan-asserted), embarrassingly
    parallel at any corpus size. NOTE: construction runs the training
    loop (the documented eager exception; memoized —
    :data:`_BPE_LEARN_CACHE`)."""
    docs = load_table(spark, "documents", sf_dir)
    merges = _learn_merges(_bpe_vocab(docs))
    return encode_chunks_frame(docs, merges)


def encode_chunks_frame(docs: DataFrame, merges) -> DataFrame:
    """:func:`bpe_encode_chunks`' transform over an explicit documents
    frame and an already-learned merge list — stateless and row-local,
    so it also runs unchanged under a ``readStream``.

    The whole chunking is ONE linear fold: a struct accumulator
    carries (finished chunks, running unit total, word index, open
    chunk) and each word either extends the open chunk or flushes it
    and starts the next — the per-word unit cost (the baked replace
    chain, expensive) is evaluated EXACTLY once per word inside the
    fold's input. An earlier draft staged us/cums/cs as separate
    projected columns and rolled chunks up by re-filtering them;
    Catalyst's projection collapse then inlined the replace chain into
    every reference (~20× the work — measured 29 s vs 1.6 s at
    sf 0.1). Chunk ids can SKIP past a word bigger than the budget —
    the fold naturally emits no empty filler chunk (a dense 0..last
    sequence would), matching the oracle's GROUP BY."""
    n_units = _word_units_fn(merges)
    b = float(BPE_CHUNK_BUDGET)
    d = docs.select("doc_id", _eligible_words().alias("ws")).filter(
        F.size("ws") >= 1
    )
    chunk_t = (
        "array<struct<chunk_id:bigint,n_words:bigint,"
        "n_units:bigint,start_word:bigint>>"
    )
    spark = docs.sparkSession

    def fin_chunk(acc):
        return F.struct(
            acc["ck"].alias("chunk_id"),
            acc["cw"].alias("n_words"),
            acc["cu"].alias("n_units"),
            acc["st"].alias("start_word"),
        )

    zero = F.struct(
        F.array().cast(chunk_t).alias("done"),
        F.lit(0).cast("long").alias("cum"),  # units before current word
        F.lit(0).cast("long").alias("idx"),  # 0-based current word index
        F.lit(-1).cast("long").alias("ck"),  # open chunk id (-1 = none)
        F.lit(0).cast("long").alias("cw"),  # words in open chunk
        F.lit(0).cast("long").alias("cu"),  # units in open chunk
        F.lit(0).cast("long").alias("st"),  # start_word of open chunk
    )

    def step(acc, u):
        # the chunk THIS word starts in: floor(units_before / budget)
        k = F.floor(acc["cum"] / F.lit(b)).cast("long")
        fresh = acc["ck"] != k  # first word included (ck = -1)
        return F.struct(
            F.when(
                fresh & (acc["ck"] >= 0),
                F.concat(acc["done"], F.array(fin_chunk(acc))),
            )
            .otherwise(acc["done"])
            .alias("done"),
            (acc["cum"] + u).alias("cum"),
            (acc["idx"] + 1).alias("idx"),
            k.alias("ck"),
            F.when(fresh, F.lit(1).cast("long"))
            .otherwise(acc["cw"] + 1)
            .alias("cw"),
            F.when(fresh, u).otherwise(acc["cu"] + u).alias("cu"),
            F.when(fresh, acc["idx"]).otherwise(acc["st"]).alias("st"),
        )

    def finish(acc):
        return F.when(
            acc["ck"] >= 0, F.concat(acc["done"], F.array(fin_chunk(acc)))
        ).otherwise(acc["done"])

    # the full fold expression is an unresolved template over "ws" —
    # cached per (app, merges, budget) so repeated constructions skip
    # the ~0.4 s of py4j expression building (_FOLD_EXPR_CACHE)
    chunks = _cached_fold_expr(
        spark,
        ("chunks", tuple(merges), BPE_CHUNK_BUDGET),
        lambda: F.aggregate(
            F.transform("ws", lambda w: n_units(w).cast("long")),
            zero,
            step,
            finish,
        ),
    )
    # chunk identity: md5 of the chunk's space-joined words, computed
    # from the (start_word, n_words) span against the retained word
    # array — cheap string ops (no replace chain), still row-local
    return d.select("doc_id", "ws", F.explode(chunks).alias("__c")).select(
        "doc_id",
        "__c.chunk_id",
        "__c.n_words",
        "__c.n_units",
        "__c.start_word",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "ws",
                    (F.col("__c.start_word") + 1).cast("int"),
                    F.col("__c.n_words").cast("int"),
                ),
            )
        ).alias("chunk_hash"),
    )


def _oracle_bpe_encode_chunks(rounds: int = BPE_MERGE_ROUNDS) -> str:
    seg = _oracle_seg_chain(rounds, w="p.w")
    return f"""
WITH {_oracle_bpe_stages(rounds)},
dw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)+1),
                i -> {{'i': i, 'w': ws[CAST(i AS INTEGER)]}})) AS p
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> len(w) >= 1
                        AND w NOT LIKE '%' || chr(31) || '%') AS ws
    FROM documents
  ) t WHERE len(ws) >= 1
),
u AS (
  SELECT doc_id, i, w,
         CAST(len(seg) - len(replace(seg, chr(31)||chr(31), chr(31))) + 1
              AS BIGINT) AS u
  FROM (SELECT doc_id, p.i AS i, p.w AS w, {seg} AS seg FROM dw) s
),
c AS (
  SELECT doc_id, i, w, u,
         SUM(u) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM u
)
SELECT doc_id,
       CAST(FLOOR((cum - u) / {BPE_CHUNK_BUDGET}.0) AS BIGINT) AS chunk_id,
       COUNT(*) AS n_words,
       CAST(SUM(u) AS BIGINT) AS n_units,
       CAST(MIN(i) - 1 AS BIGINT) AS start_word,
       md5(string_agg(w, ' ' ORDER BY i)) AS chunk_hash
FROM c
GROUP BY doc_id, CAST(FLOOR((cum - u) / {BPE_CHUNK_BUDGET}.0) AS BIGINT)
"""


ORACLE_BPE_ENCODE_CHUNKS = _oracle_bpe_encode_chunks()


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — ``exact_dedup``'s recipe applied to
    the TRAINING SEQUENCES themselves (the step a pretraining pipeline
    runs right after chunking: repeated boilerplate passages produce
    byte-identical chunks across documents, and every duplicate chunk
    is wasted compute AND a memorization amplifier). One row per
    distinct chunk content: (chunk_hash, canonical_doc_id,
    canonical_chunk_id, n_copies, n_units, saved_units) with the
    keeper the lexicographic minimum (doc_id, chunk_id) — deterministic
    even when one document repeats the same content — and
    ``saved_units`` = (n_copies − 1) × n_units, the token budget the
    dedup returns to the mixture planner.

    Scale shape: rides :func:`bpe_encode_chunks` (zero-exchange chunk
    construction), then ONE map-side-combined groupBy on the 32-char
    md5 — the shuffle carries hash + four small ints, never a word of
    text (the hash-before-shuffle doctrine of ``exact_dedup``, here
    with the text column never even reaching the exchange). NOTE:
    construction runs the training loop (the documented eager
    exception; memoized — :data:`_BPE_LEARN_CACHE`)."""
    return chunk_dedup_frame(bpe_encode_chunks(spark, sf_dir))


def chunk_dedup_frame(chunks: DataFrame) -> DataFrame:
    """:func:`chunk_dedup`'s transform over an explicit chunk frame
    (the :func:`encode_chunks_frame` schema) — shared verbatim by the
    batch face and :func:`pack_deduped_chunks`, so the packer consumes
    EXACTLY the keeper set the dedup report describes."""
    agg = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("__k"),
        F.count(F.lit(1)).alias("n_copies"),
        # identical words → identical unit count; min is the compat
        # reduction, not a choice
        F.min("n_units").alias("n_units"),
    )
    return agg.select(
        "chunk_hash",
        F.col("__k.doc_id").alias("canonical_doc_id"),
        F.col("__k.chunk_id").alias("canonical_chunk_id"),
        "n_copies",
        "n_units",
        ((F.col("n_copies") - 1) * F.col("n_units"))
        .cast("long")
        .alias("saved_units"),
    )


def _oracle_chunk_dedup(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return f"""
WITH z AS ({_oracle_bpe_encode_chunks(rounds)}),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY chunk_hash
                            ORDER BY doc_id, chunk_id) AS rn,
         COUNT(*) OVER (PARTITION BY chunk_hash) AS n_copies
  FROM z
)
SELECT chunk_hash,
       doc_id AS canonical_doc_id,
       chunk_id AS canonical_chunk_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       n_units,
       CAST((n_copies - 1) * n_units AS BIGINT) AS saved_units
FROM r WHERE rn = 1
"""


ORACLE_CHUNK_DEDUP = _oracle_chunk_dedup()


def pack_deduped_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training WRITER consuming :func:`chunk_dedup`'s keepers
    (VERDICT r13 task 2 — the report→action step): the deduplicated
    chunk stream, ordered by its canonical
    (doc_id, chunk_id) identity, fills fixed
    :data:`BPE_PACK_BUDGET`-unit training bins — so the packed
    artifact holds every distinct chunk content EXACTLY once and the
    budget :func:`chunk_dedup` reported as ``saved_units`` is actually
    reclaimed (gated by :func:`chunk_dedup_accounting`). One row per
    keeper chunk: (chunk_hash, canonical_doc_id, canonical_chunk_id,
    n_units, cum_units, bin) with ``bin = floor(units_before /
    budget)`` — contiguous, deterministic, partitioning-independent,
    exactly :func:`bpe_seq_pack_bins`'s straddle contract at chunk
    granularity (a chunk belongs to the bin it STARTS in).

    Scale shape: chunk construction is the zero-exchange fold
    (:func:`encode_chunks_frame`); the dedup is ONE map-side-combined
    groupBy on the 32-char hash; the running unit count is
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_cumsum`
    (bucketed distributed prefix-sum over the KEEPER frame — already
    corpus-dedup-compressed before the prefix-sum machinery touches
    it), never a single-task global window. The keeper frame is
    lazily localCheckpoint'ed (the ``ann_probe_agreement`` one-frame
    doctrine): the prefix-sum machinery takes three passes over it
    (quantile probe, per-bucket partials, the ranked output itself),
    and without the checkpoint each pass would re-run the baked
    replace chain over the whole corpus — measured 10.3 s vs 3.1 s at
    sf 0.1. NOTE: construction runs the training loop and the
    prefix-sum's two metadata-sized actions (the documented eager
    exception; memoized — :data:`_BPE_LEARN_CACHE`)."""
    return pack_deduped_chunks_frame(bpe_encode_chunks(spark, sf_dir))


def pack_deduped_chunks_frame(chunks: DataFrame) -> DataFrame:
    """:func:`pack_deduped_chunks`' transform over an explicit chunk
    frame (the :func:`encode_chunks_frame` schema) — factored so
    :func:`chunk_dedup_accounting` can grade the writer over the SAME
    materialized chunk frame its other two totals read, instead of
    re-running the whole encode fold once per total."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_cumsum

    keepers = (
        chunk_dedup_frame(chunks)
        .select(
            "chunk_hash", "canonical_doc_id", "canonical_chunk_id", "n_units"
        )
        .localCheckpoint(eager=False)
    )
    c = exact_group_cumsum(
        keepers,
        [],
        "canonical_doc_id",
        ["canonical_chunk_id"],
        "n_units",
        cumsum_col="cum_units",
    )
    return c.select(
        "chunk_hash",
        "canonical_doc_id",
        "canonical_chunk_id",
        "n_units",
        "cum_units",
        F.floor(
            (F.col("cum_units") - F.col("n_units"))
            / F.lit(float(BPE_PACK_BUDGET))
        )
        .cast("long")
        .alias("bin"),
    )


def _oracle_pack_deduped_chunks(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return f"""
WITH z AS ({_oracle_chunk_dedup(rounds)}),
c AS (
  SELECT chunk_hash, canonical_doc_id, canonical_chunk_id, n_units,
         SUM(n_units) OVER (
           ORDER BY canonical_doc_id, canonical_chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_units
  FROM z
)
SELECT chunk_hash, canonical_doc_id, canonical_chunk_id,
       CAST(n_units AS BIGINT) AS n_units,
       CAST(cum_units AS BIGINT) AS cum_units,
       CAST(FLOOR((cum_units - n_units) / {BPE_PACK_BUDGET}.0) AS BIGINT)
         AS bin
FROM c
"""


ORACLE_PACK_DEDUPED_CHUNKS = _oracle_pack_deduped_chunks()


def chunk_dedup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk path's conservation gate (VERDICT r13 task 2 — the
    :func:`bpe_unit_total_agreement` pattern applied to the writer):
    every merge-aware unit the chunker produced must be either PACKED
    exactly once or REPORTED saved — ``packed_units + saved_units =
    pre_dedup_units``. The three totals come from three different
    frames: ``packed_units`` sums the WRITER's output
    (:func:`pack_deduped_chunks` — so a keeper dropped or double-packed
    by the prefix-sum machinery breaks the identity), ``saved_units``
    sums the dedup REPORT (:func:`chunk_dedup`), and
    ``pre_dedup_units`` re-aggregates the raw chunk frame
    (:func:`bpe_encode_chunks`). One row: (packed_units, saved_units,
    pre_dedup_units, agree); an empty corpus agrees vacuously (sums
    coalesce to 0).

    Scale shape: three map-side-reduced single-row aggregates joined
    by broadcast cross joins — the compare costs nothing beyond the
    frames it grades. The three totals still come from three different
    DERIVATIONS (writer output / dedup report / raw re-aggregation),
    but all read one eagerly-checkpointed chunk frame: the encode fold
    (the baked replace chain over every word — the family's dominant
    cost) used to re-run once per total, three times in all, for
    bit-identical chunk rows each time. NOTE: construction runs the
    training loop and the packer's prefix-sum actions (the documented
    eager exception; memoized — :data:`_BPE_LEARN_CACHE`)."""
    z = F.lit(0).cast("long")
    chunks = bpe_encode_chunks(spark, sf_dir).localCheckpoint(eager=True)
    packed = pack_deduped_chunks_frame(chunks).agg(
        F.coalesce(F.sum("n_units"), z).alias("packed_units")
    )
    saved = chunk_dedup_frame(chunks).agg(
        F.coalesce(F.sum("saved_units"), z).alias("saved_units")
    )
    pre = chunks.agg(
        F.coalesce(F.sum("n_units"), z).alias("pre_dedup_units")
    )
    return (
        packed.crossJoin(F.broadcast(saved))
        .crossJoin(F.broadcast(pre))
        .select(
            "packed_units",
            "saved_units",
            "pre_dedup_units",
            (F.col("packed_units") + F.col("saved_units") == F.col("pre_dedup_units")).alias(
                "agree"
            ),
        )
    )


def _oracle_chunk_dedup_accounting(rounds: int = BPE_MERGE_ROUNDS) -> str:
    return f"""
WITH raw AS ({_oracle_bpe_encode_chunks(rounds)}),
d AS (
  SELECT chunk_hash, COUNT(*) AS n_copies, MIN(n_units) AS n_units
  FROM raw GROUP BY chunk_hash
),
p AS (
  SELECT CAST(COALESCE(SUM(n_units), 0) AS BIGINT) AS packed_units
  FROM d
),
s AS (
  SELECT CAST(COALESCE(SUM((n_copies - 1) * n_units), 0) AS BIGINT)
           AS saved_units
  FROM d
),
r AS (
  SELECT CAST(COALESCE(SUM(n_units), 0) AS BIGINT) AS pre_dedup_units
  FROM raw
)
SELECT p.packed_units, s.saved_units, r.pre_dedup_units,
       (p.packed_units + s.saved_units = r.pre_dedup_units) AS agree
FROM p CROSS JOIN s CROSS JOIN r
"""


ORACLE_CHUNK_DEDUP_ACCOUNTING = _oracle_chunk_dedup_accounting()


def shard_packed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last writer step on the chunk spine (VERDICT r13 task 8):
    deal the PACKED BINS — the training sequences
    :func:`pack_deduped_chunks` filled — round-robin into
    :data:`~udacity_dsnd_projects_spark.functions.pipeline.N_SHARDS`
    epoch shards under the same deterministic md5 shuffle
    ``shard_assign`` applies to raw documents, making
    documents → chunks → dedup → pack → shards one oracle-checked
    path end-to-end. One row per bin: (bin, n_chunks, n_units,
    sort_key, shard, pos) with ``sort_key`` the first 60 bits of
    ``md5(bin)`` (pseudo-random but bit-reproducible — no RNG state),
    ``shard = (rank−1) mod N`` and ``pos`` the within-shard position,
    so every shard draws a uniform sample of the bin stream and the
    per-bin ``n_units`` mass makes shard balance observable
    (``shard_balance_report``'s readout, here at sequence granularity
    where bins are budget-equalized by construction).

    Scale shape: the bin rollup is ONE map-side-combined groupBy on a
    long; the global order is
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    with no group key (range-bucketed distributed total sort — never a
    single-task window). NOTE: construction runs the training loop and
    the pack/rank metadata actions (the documented eager exception;
    memoized — :data:`_BPE_LEARN_CACHE`)."""
    from udacity_dsnd_projects_spark.functions.pipeline import N_SHARDS
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    bins = (
        pack_deduped_chunks(spark, sf_dir)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_units").cast("long").alias("n_units"),
        )
        .select(
            "bin",
            "n_chunks",
            "n_units",
            F.conv(F.substring(F.md5(F.col("bin").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("sort_key"),
        )
        # bin-cardinality slim frame feeding the rank primitive's
        # passes (ranks.py module docstring says to persist exactly
        # this input): without the checkpoint each pass re-runs the
        # packer's prefix-sum window + rollup
        .localCheckpoint(eager=True)
    )
    # sort_key is a 60-bit md5 prefix — uniform on [0, 16^15), so the
    # buckets come from arithmetic (uniform_domain) instead of a
    # quantile sketch pass: one metadata action fewer per construction
    ranked = exact_group_rank(
        bins,
        [],
        "sort_key",
        ["bin"],
        rank_col="rk",
        uniform_domain=(0.0, float(16**15)),
    )
    return ranked.select(
        "bin",
        "n_chunks",
        "n_units",
        "sort_key",
        ((F.col("rk") - 1) % N_SHARDS).cast("long").alias("shard"),
        # integer DIV, not double /-then-truncate: exact over the full
        # long domain, matching the oracle's `//` (ADVICE r14 — double
        # rounding could diverge once rk-1 exceeds 2^53)
        F.expr(f"CAST((rk - 1) DIV {N_SHARDS} AS LONG)").alias("pos"),
    )


def _oracle_shard_packed_chunks(rounds: int = BPE_MERGE_ROUNDS) -> str:
    from udacity_dsnd_projects_spark.functions.pipeline import N_SHARDS

    return f"""
WITH p AS ({_oracle_pack_deduped_chunks(rounds)}),
b AS (
  SELECT bin, COUNT(*) AS n_chunks, CAST(SUM(n_units) AS BIGINT) AS n_units,
         CAST(concat('0x', substr(md5(CAST(bin AS VARCHAR)), 1, 15))
              AS BIGINT) AS sort_key
  FROM p GROUP BY bin
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sort_key, bin) AS rk FROM b
)
SELECT bin, n_chunks, n_units, sort_key,
       CAST((rk - 1) % {N_SHARDS} AS BIGINT) AS shard,
       CAST((rk - 1) // {N_SHARDS} AS BIGINT) AS pos
FROM r
"""


ORACLE_SHARD_PACKED_CHUNKS = _oracle_shard_packed_chunks()


def curriculum_pack_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule over the PACKED BINS (VERDICT r14 task 5 —
    the chunk spine's ordering policy, closing the writer path:
    documents → chunks → dedup → pack → order):
    :func:`~udacity_dsnd_projects_spark.functions.training.curriculum_order`'s
    NTILE-phase recipe applied at training-sequence granularity. Bins
    are ordered easy-to-hard by ``max_units`` — the longest single
    sequence a bin contains, an integer-exact difficulty proxy (bins
    are budget-equalized in TOTAL units by construction, so the total
    cannot rank them; the longest member can) — cut into
    :data:`~udacity_dsnd_projects_spark.functions.training.CURRICULUM_PHASES`
    equal phases, then deterministically shuffled WITHIN each phase by
    ``md5(bin)`` (no RNG state — a resumed run replays the identical
    order). One row per bin: (bin, n_chunks, n_units, max_units,
    phase, position) with ``position`` 1-based inside the phase.

    Scale shape: the bin rollup is ONE map-side-combined groupBy on a
    long; both orderings ride the distributed exact-rank primitive
    (range-bucketed parallel windows + broadcast bucket offsets —
    never a one-task global window); the phase frame is one slim row
    per bin, localCheckpoint'ed so the length-rank pass runs once, not
    3× under the position pass's triple scan. NOTE: construction runs
    the training loop and the pack/rank metadata actions (the
    documented eager exception; memoized — :data:`_BPE_LEARN_CACHE`)."""
    from udacity_dsnd_projects_spark.functions.training import CURRICULUM_PHASES
    from udacity_dsnd_projects_spark.operators.ranks import (
        checkpoint_with_sketch,
        exact_group_rank,
        ntile_from_rank,
    )

    # same three-pass rationale as shard_packed_chunks' bins
    # checkpoint: the rank primitive scans its input three times, and
    # un-checkpointed each scan re-runs the packer's prefix-sum window
    # + rollup (ranks.py prescribes persisting the input; same-window
    # A/Bs at sf 0.1 measured 17-28% off the whole query). The
    # length-rank's quantile sketch rides the SAME materialization job
    # as an observe() metric (checkpoint_with_sketch) instead of a
    # separate sketch pass — round-16 driver-residual work: each extra
    # metadata action cost ~0.3-0.5 s of driver latency.
    bins, bnds = checkpoint_with_sketch(
        pack_deduped_chunks(spark, sf_dir)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_units").cast("long").alias("n_units"),
            F.max("n_units").cast("long").alias("max_units"),
        )
        .withColumn("__k", F.md5(F.col("bin").cast("string"))),
        ["max_units"],
    )
    ranked = exact_group_rank(
        bins,
        [],
        "max_units",
        ["bin"],
        rank_col="__rk",
        count_col="__cnt",
        bounds=bnds["max_units"],
    )
    # same 60-bit-prefix trick as curriculum_order: equal-length
    # lowercase-hex strings sort like their numeric value, so the
    # prefix is the rank primitive's numeric bucket key and the full
    # digest breaks its (vanishingly rare) prefix collisions
    phased = ranked.select(
        "bin",
        "n_chunks",
        "n_units",
        "max_units",
        "__k",
        F.conv(F.substring("__k", 1, 15), 16, 10).cast("long").alias("__kn"),
        ntile_from_rank(F.col("__rk"), F.col("__cnt"), CURRICULUM_PHASES)
        .cast("int")
        .alias("phase"),
    ).localCheckpoint(eager=True)
    return exact_group_rank(
        phased,
        ["phase"],
        "__kn",
        ["__k", "bin"],
        rank_col="position",
        # __kn is the first 60 bits of an md5 digest — uniform on
        # [0, 16^15) by construction, so the buckets come from
        # arithmetic instead of a quantile sketch pass (exactness
        # never depends on the boundaries; ranks.py module docstring)
        uniform_domain=(0.0, float(16**15)),
    ).select(
        "bin",
        "n_chunks",
        "n_units",
        "max_units",
        "phase",
        F.col("position").cast("long").alias("position"),
    )


def _oracle_curriculum_pack_order(rounds: int = BPE_MERGE_ROUNDS) -> str:
    from udacity_dsnd_projects_spark.functions.training import CURRICULUM_PHASES

    return f"""
WITH p AS ({_oracle_pack_deduped_chunks(rounds)}),
b AS (
  SELECT bin, COUNT(*) AS n_chunks, CAST(SUM(n_units) AS BIGINT) AS n_units,
         CAST(MAX(n_units) AS BIGINT) AS max_units,
         md5(CAST(bin AS VARCHAR)) AS k
  FROM p GROUP BY bin
),
phased AS (
  SELECT *, CAST(NTILE({CURRICULUM_PHASES})
                 OVER (ORDER BY max_units, bin) AS INTEGER) AS phase
  FROM b
)
SELECT bin, n_chunks, n_units, max_units, phase,
       row_number() OVER (PARTITION BY phase ORDER BY k, bin) AS position
FROM phased
"""


ORACLE_CURRICULUM_PACK_ORDER = _oracle_curriculum_pack_order()


def bpe_unit_total_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer family's :func:`~udacity_dsnd_projects_spark.functions.similarity.ann_probe_agreement`-style
    consistency gate (VERDICT r12 task 8): the corpus-wide unit total
    computed TWO independent ways must match exactly —
    ``vocab_total_units`` reads the learn loop's FINAL segmented stage
    frame (count-weighted symbol total: array-segmentation world, what
    :func:`bpe_compression_sweep`'s last step reports), while
    ``corpus_total_units`` re-tokenizes every document through the
    BAKED replace chain (string-replace world, what
    :func:`bpe_apply_merges` and every downstream budget face count
    with). The two machineries share nothing past the learned merge
    list, so a greedy-pass divergence between the loop's array rewrite
    and the literal-replace bake shows up here as ``agree = false`` at
    corpus scale — the same blind spot the pure-Python Sennrich
    referee pins on tiny vocabs, self-graded as a registry face. One
    row: (vocab_total_units, corpus_total_units, agree), null-safe so
    an empty corpus agrees vacuously.

    Scale shape: side one aggregates the already-checkpointed
    vocab-sized stage frame; side two is the shuffle-free baked
    projection reduced map-side to one row; the compare is a 1×1-row
    broadcast cross join. NOTE: construction runs the training loop
    (the documented eager exception; memoized —
    :data:`_BPE_LEARN_CACHE`)."""
    docs = load_table(spark, "documents", sf_dir)
    merges, v = _learn_merges_with_vocab(_bpe_vocab(docs))
    a = v.agg(
        F.sum(F.col("cnt") * F.size("syms"))
        .cast("long")
        .alias("vocab_total_units")
    )
    b = (
        docs.select(_eligible_words().alias("ws"))
        .select(_merged_units_sum(spark, merges).alias("u"))
        .agg(F.sum("u").cast("long").alias("corpus_total_units"))
    )
    return a.crossJoin(F.broadcast(b)).select(
        "vocab_total_units",
        "corpus_total_units",
        F.col("vocab_total_units")
        .eqNullSafe(F.col("corpus_total_units"))
        .alias("agree"),
    )


def _oracle_bpe_unit_total_agreement(rounds: int = BPE_MERGE_ROUNDS) -> str:
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    units = f"len(seg) - len(replace(seg, {sep2}, {sep})) + 1"
    seg = _oracle_seg_chain(rounds)
    return f"""
WITH {_oracle_bpe_stages(rounds)},
a AS (
  SELECT CAST(SUM(cnt * ({units})) AS BIGINT) AS vocab_total_units
  FROM v{rounds}
),
docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) t WHERE len(w) >= 1 AND w NOT LIKE '%' || chr(31) || '%'
),
b AS (
  SELECT CAST(SUM({units}) AS BIGINT) AS corpus_total_units
  FROM (SELECT {seg} AS seg FROM docwords) s
)
SELECT a.vocab_total_units, b.corpus_total_units,
       (a.vocab_total_units IS NOT DISTINCT FROM b.corpus_total_units)
         AS agree
FROM a CROSS JOIN b
"""


ORACLE_BPE_UNIT_TOTAL_AGREEMENT = _oracle_bpe_unit_total_agreement()


def char_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED ARTIFACT behind :func:`perplexity_score`: the
    char-bigram language model itself — (bg, c1, c_bg, c_ctx, nll)
    with nll = ln(c_ctx) − ln(c_bg) = −ln P(c2|c1). Exporting the
    model as its own table is the train/score decomposition a real
    pipeline ships: train once on a reference corpus snapshot,
    broadcast the table to score every later snapshot (scoring joins
    this table instead of re-counting — the KenLM-file analog).

    Scale shape: two map-side-combined aggregations reducing to a
    vocabulary-sized frame (≤65k rows for full byte bigrams at ANY
    corpus size); the context rollup aggregates the already-reduced
    count frame, never the gram stream."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(F.lower(F.trim(F.col("text"))).alias("s")).filter(
        F.length("s") >= 2
    )
    grams = d.select(
        # explode_outer: the inferred size()>0 guard would re-expand
        # the whole char-bigram array per row; length(s) >= 2
        # guarantees >= 1 bigram, so outer semantics are identical
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - 1),
                lambda i: F.col("s").substr(i, F.lit(2)),
            )
        ).alias("bg")
    )
    # vocabulary-sized (≤65k full byte bigrams); materialized because
    # BOTH the context rollup and the final join consume it — without
    # this the corpus-wide gram explode + count would run twice
    counts = (
        grams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_bg"))
        .localCheckpoint(eager=True)
    )
    ctx = counts.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c_bg").alias("c_ctx")
    )
    return (
        counts.withColumn("c1", F.substring("bg", 1, 1))
        .join(F.broadcast(ctx), "c1")
        .select(
            "bg",
            "c1",
            "c_bg",
            "c_ctx",
            F.round(F.log("c_ctx") - F.log("c_bg"), 5).alias("nll"),
        )
    )


ORACLE_CHAR_BIGRAM_LM = r"""
WITH d AS (
  SELECT lower(trim(text)) AS s FROM documents
  WHERE len(lower(trim(text))) >= 2
), grams AS (
  SELECT unnest(list_transform(range(1, len(s)), i -> s[i:i+1])) AS bg
  FROM d
), counts AS (
  SELECT bg, COUNT(*) AS c_bg FROM grams GROUP BY bg
), ctx AS (
  -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas renders as
  -- float (4540.0) — the driver compares stringified values, so the
  -- exported column must come back as BIGINT to match Spark's long
  SELECT bg[1:1] AS c1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx
  FROM counts GROUP BY 1
)
SELECT bg, counts.bg[1:1] AS c1, c_bg, c_ctx,
       ROUND(ln(c_ctx) - ln(c_bg), 5) AS nll
FROM counts JOIN ctx ON counts.bg[1:1] = ctx.c1
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility readout: how many characters
    and UTF-8 bytes a whitespace token carries in each language —
    (lang, n_docs, n_tokens, n_chars, n_bytes, chars_per_token,
    bytes_per_token). The statistic a tokenizer-budget decision reads:
    languages with high bytes-per-whitespace-token (CJK, agglutinative
    scripts) need more BPE merges (:func:`bpe_pair_counts`) or a
    larger vocab (:func:`vocab_coverage`) to reach the same
    compression, and a corpus mixture weighted by documents silently
    over-charges them in token budget.

    Scale shape: one scan, all counting inside codegen'd expressions
    (size/length/octet_length — no explode, no Python), reduced
    map-side to a languages-sized frame. Count sums are exact
    integers; the per-token ratios divide those exact sums in double,
    identically in both engines."""
    docs = load_table(spark, "documents", sf_dir).filter(
        F.length(F.trim("text")) > 0
    )
    d = docs.select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("toks"),
        F.length("text").alias("chars"),
        F.octet_length("text").alias("bytes"),
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.sum("chars").alias("n_chars"),
        F.sum("bytes").alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 6
        ).alias("chars_per_token"),
        F.round(
            F.col("n_bytes").cast("double") / F.col("n_tokens"), 6
        ).alias("bytes_per_token"),
    )


# CASTs: DuckDB SUM(INTEGER/BIGINT) yields HUGEINT, which pandas
# renders as float — the driver compares stringified values, so every
# exported sum must come back as BIGINT (see tests/oracle.py).
ORACLE_TOKENIZER_FERTILITY = r"""
WITH d AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS toks,
         length(text) AS chars,
         strlen(text) AS bytes
  FROM documents WHERE length(trim(text)) > 0
),
agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         CAST(SUM(chars) AS BIGINT) AS n_chars,
         CAST(SUM(bytes) AS BIGINT) AS n_bytes
  FROM d GROUP BY lang
)
SELECT lang, n_docs, n_tokens, n_chars, n_bytes,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token,
       ROUND(CAST(n_bytes AS DOUBLE) / n_tokens, 6) AS bytes_per_token
FROM agg
"""
