"""Deduplication operators for training-data pipelines (SURVEY.md §7
phase 4): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- Candidate generation never compares all pairs. N-gram Jaccard uses an
  inverted-index self-join on shingles (pairs share ≥1 shingle);
  MinHash/SimHash use banded LSH bucket joins. Both are shuffle joins
  on high-cardinality keys — AQE handles stragglers from hot shingles
  (stopword-only shingles are the classic skew source; the distinct
  per-doc shingle step bounds each doc's contribution).
- All hashing is the engine's cross-engine polynomial hash
  (:func:`udacity_dsnd_projects_spark.functions.text.rolling_hash`
  arithmetic), so every stage is reproducible in the DuckDB oracle —
  the MinHash permutation constants below feed BOTH faces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions.text import HASH_MOD
from udacity_dsnd_projects_spark.sources.catalog import load_table

#: MinHash permutation constants h_i(x) = (A[i]*x + B[i]) mod HASH_MOD.
#: A must be large pseudo-random (not small odd numbers): with small
#: multipliers (h*a+b) rarely wraps the modulus, so all permutations
#: pick the same argmin shingle and the signature rows correlate —
#: est_jaccard inflates and LSH drowns in false-positive candidates.
#: h*a stays < 2^62, safe in int64 on both engines.
NUM_PERM = 16
PERM_A = tuple((2654435761 * (i + 1) + 40503) % HASH_MOD for i in range(NUM_PERM))
PERM_B = tuple((1779033703 * (i + 1) + 55665) % HASH_MOD for i in range(NUM_PERM))
#: LSH banding: NUM_BANDS bands of BAND_ROWS rows (16 = 4 × 4).
NUM_BANDS, BAND_ROWS = 4, 4
#: Combiner multiplier for token-hash → shingle-hash (fits int64:
#: HASH_MOD * SHINGLE_P < 2^52).
SHINGLE_P = 1_000_003
#: Near-dup thresholds.
JACCARD_THRESHOLD = 0.2
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6
#: Shingles appearing in more than this many documents are excluded
#: from the n-gram Jaccard inverted index (and from the per-doc
#: shingle counts, so J stays consistent). A stop-shingle ("in the
#: of", boilerplate headers) contributes m² join rows for m sharing
#: docs while carrying no dedup signal; at corpus scale that's the
#: join-blowup analog of the LSH mega-bucket. Mirrored in the DuckDB
#: oracle; at test scale max DF is ~25 so results are unchanged.
SHINGLE_DF_CAP = 128
#: LSH buckets larger than this are dropped before pair expansion — a
#: hyper-common band key (boilerplate / near-constant content) would
#: otherwise collect one m-element array and expand m² pair structs in
#: a single row and OOM the executor. 256 members → ≤32,640 pairs
#: (~10 MB of structs) per bucket row, safely bounded. Dropped buckets
#: are observable via :func:`oversize_buckets`; the cap is mirrored in
#: the DuckDB oracles (QUALIFY over the same window) so both engines
#: agree at every scale. In a full pipeline the members of a dropped
#: bucket are near-constant content that exact dedup already collapses.
MAX_BUCKET_SIZE = 256


def _token_hash(tok: Column) -> Column:
    return F.aggregate(
        F.transform(F.split(tok, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_MOD,
    )


#: Memo for _spread_for_hashing's layout probe:
#: {(id(session), analyzed-plan semanticHash): partition count}.
#: Converting a DataFrame to an RDD to count partitions forces FULL
#: physical planning on the driver, so faces that compose several
#: substrates over one input would otherwise pay that planning per
#: substrate.
#: semanticHash is computed on the already-analyzed logical plan
#: (analysis is cached by Spark) — no physical planning on a hit.
#: Bounded: cleared when it exceeds _SPREAD_PROBE_CAP entries (the
#: decision is a cheap probe, not correctness state).
_SPREAD_PROBE_CACHE: dict[tuple[int, int], int] = {}
_SPREAD_PROBE_CAP = 256


def _probe_partitions(sel: DataFrame) -> int:
    key = (
        id(sel.sparkSession),
        sel._jdf.queryExecution().analyzed().semanticHash(),
    )
    n = _SPREAD_PROBE_CACHE.get(key)
    if n is None:
        n = sel.rdd.getNumPartitions()
        if len(_SPREAD_PROBE_CACHE) >= _SPREAD_PROBE_CAP:
            _SPREAD_PROBE_CACHE.clear()
        _SPREAD_PROBE_CACHE[key] = n
    return n


def _spread_for_hashing(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, text) projected and, ONLY when the incoming layout
    under-parallelizes, hash-repartitioned on doc_id. ``keep_cols``
    rides extra columns through (see :func:`_shingled_docs`).

    The repartition decouples CPU parallelism from the input file
    layout: a corpus delivered as few large files would otherwise
    hash on few cores, and AQE cannot help because it sizes for
    shuffle bytes, not the CPU cost of the hashing that follows
    (hence REPARTITION_BY_NUM, which AQE must respect). But when the
    scan already yields >= defaultParallelism splits — the normal
    case at scale, where maxPartitionBytes carves a 100 TB corpus
    into thousands of splits — the exchange is pure cost: it moves
    the full text column once to buy parallelism the layout already
    provides. So it is applied conditionally: skipped when
    ``getNumPartitions() >= defaultParallelism`` (plan-asserted both
    regimes in tests). The probe is MEMOIZED per (session, analyzed
    plan) — see :data:`_SPREAD_PROBE_CACHE` — so faces that build
    several substrates over the same input pay the physical-planning
    cost of the RDD conversion once, not per substrate; the layout
    decision is point-in-time by design (a scan's split count is
    stable within a session for a given input). Streaming frames
    cannot be probed (``.rdd`` is undefined pre-query); micro-batches
    are small and latency-bound, so they always take the spread."""
    sel = docs.select("doc_id", *keep_cols, "text")
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    if not sel.isStreaming and _probe_partitions(sel) >= n_parts:
        return sel
    return sel.repartition(n_parts, F.col("doc_id"))


def _shingled_docs(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, sh): distinct word-3-gram shingle hashes of normalized
    text, as array<long>. Docs with <3 tokens (no 3-gram) are dropped.
    ``keep_cols`` rides extra columns through unchanged (e.g. an
    event-time column for a streaming caller's watermark — ADVICE r14
    doctrine); the default () keeps every batch face's schema
    byte-identical.

    Each token is char-hashed ONCE into a ``th`` column, then the
    shingle hash combines three consecutive token hashes —
    ``((th[j]·P + th[j+1]) % M · P + th[j+2]) % M`` — so overlapping
    shingles never re-scan characters (3× less char work than hashing
    each shingle string, and the ``th`` materialization stops Catalyst
    from inlining the char-hash into every element_at reference).

    Opens with :func:`_spread_for_hashing` — a LAYOUT-AWARE
    repartition that spreads few-large-file corpora across the
    cluster's cores before the CPU-heavy char hashing, and skips the
    text-sized exchange entirely when the scan already yields enough
    splits (the 100 TB regime)."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = (
        _spread_for_hashing(docs, keep_cols)
        .select("doc_id", *keep_cols, toks.alias("toks"))
        .filter(F.size("toks") >= 3)
    )
    d = d.select("doc_id", *keep_cols, F.transform("toks", _token_hash).alias("th"))
    th = F.col("th")
    sh = F.transform(
        F.sequence(F.lit(1), F.size("th") - 2),
        lambda j: (
            (F.element_at(th, j) * SHINGLE_P + F.element_at(th, j + 1))
            % HASH_MOD
            * SHINGLE_P
            + F.element_at(th, j + 2)
        )
        % HASH_MOD,
    )
    return d.select("doc_id", *keep_cols, F.array_distinct(sh).alias("sh"))


def _oracle_shingles(src: str = "documents") -> str:
    """The shingle CTE body over an arbitrary source relation (must
    expose doc_id, text)."""
    return rf"""
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, len(th) - 1),
             j -> ((th[j] * {SHINGLE_P} + th[j+1]) % {HASH_MOD} * {SHINGLE_P}
                   + th[j+2]) % {HASH_MOD})) AS sh
  FROM (SELECT doc_id,
               list_transform(toks,
                 t -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                                     list_transform(string_split(t, ''),
                                                    ch -> CAST(ascii(ch) AS BIGINT))),
                        (acc, x) -> (acc * 31 + x) % {HASH_MOD})) AS th
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
              FROM {src})
        WHERE len(toks) >= 3)
"""


_ORACLE_SHINGLES = _oracle_shingles()


#: Planted-duplicate corpus knobs — every PLANTED_DUP_MOD-th doc is
#: re-crawled under doc_id + PLANTED_ID_OFFSET; exact_dedup and its
#: oracle read the same planted corpus.
PLANTED_DUP_MOD = 10
PLANTED_ID_OFFSET = 10_000_000


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ copies of every PLANTED_DUP_MOD-th doc (new ids) —
    synthetic exact duplicates so the dedup operators have real work
    on the corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % PLANTED_DUP_MOD == 0).select(
        (F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


_ORACLE_PLANTED = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % {PLANTED_DUP_MOD} = 0
"""


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on content, keep the smallest
    id as canonical. One shuffle on the content hash (never on the
    full text — the md5 keeps shuffle rows narrow at scale)."""
    dup = _docs_with_planted_dups(spark, sf_dir)
    return (
        dup.groupBy(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


ORACLE_EXACT_DEDUP = f"""
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM ({_ORACLE_PLANTED}) d
GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# Incremental dedup vs a prior snapshot (round-5 addition)
# --------------------------------------------------------------------------
#: Bloom bit-array size (bits) for the incremental-dedup pre-filter.
#: Size to ~1.44 · k · |history| bits for a useful FP rate; a
#: too-small array degrades GRACEFULLY (more rows take the exact
#: verify join — never a wrong answer, the filter is only a shuffle
#: saver). 2^20 bits = 128 KiB of set positions worst-case.
BLOOM_BITS = 1 << 20
#: Bloom hash-function count.
BLOOM_K = 3
#: Synthetic new-batch construction: history docs with
#: ``doc_id % INC_RECRAWL_MOD == 1`` reappear in the batch (re-crawled
#: content, new ids at +INC_ID_OFFSET) — real dedup work for the
#: candidate path.
INC_RECRAWL_MOD = 7
INC_ID_OFFSET = 20_000_000


def _inc_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prior corpus snapshot: documents with ``doc_id % 3 != 0``."""
    return (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text")
    )


def _inc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newly-crawled batch: the held-out third of the corpus plus
    re-crawls of some history docs (same content, fresh ids)."""
    docs = load_table(spark, "documents", sf_dir)
    fresh = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    recrawl = (
        docs.filter(
            (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % INC_RECRAWL_MOD == 1)
        )
        .select((F.col("doc_id") + INC_ID_OFFSET).alias("doc_id"), "text")
    )
    return fresh.unionByName(recrawl)


def bloom_bits_for(hashes: DataFrame, col: str) -> DataFrame:
    """DISTINCT Bloom bit positions set by ``col`` values: each value
    sets :data:`BLOOM_K` positions ``pmod(xxhash64(v, j), BLOOM_BITS)``.
    The result is at most ``min(k·n, BLOOM_BITS)`` single-long rows —
    broadcast-able at any history size because it saturates at the
    (configurable) bit-array size rather than growing with the data."""
    return hashes.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(j)), F.lit(BLOOM_BITS))
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("bit")
    ).distinct()


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup of a new batch against a prior corpus
    snapshot WITHOUT re-joining the full history: the recurring-crawl
    primitive (extends :func:`exact_dedup`, whose single-corpus faces
    can't answer "is this new?"). Result: one row per truly-new
    content hash — (content_md5, canonical_id, n_copies) with the
    canonical id and intra-batch copy count.

    Scale shape (exact result, Bloom only prunes work):

    1. batch dedups within itself — one groupBy on the md5, the only
       batch-sized shuffle;
    2. a distributed Bloom filter over history hashes
       (:func:`bloom_bits_for`) is built by one history scan + a
       bit-position distinct bounded at :data:`BLOOM_BITS` rows, and
       broadcast-joined against each batch hash's probe positions —
       hashes missing ANY of the k bits are definitely-new and never
       touch history again;
    3. only Bloom-positive candidates (true matches + FPs) reach the
       exact verify join, and BOTH verify joins broadcast the
       candidate-sized side — history is scanned once more but never
       shuffled (with a bucketed/Z-ordered history-hash table even
       that scan prunes to matching files).

    False positives are resolved by the verify join, so the output is
    exactly the anti-join the DuckDB oracle runs; an undersized Bloom
    just routes more rows through step 3."""
    hist_h = _inc_history(spark, sf_dir).select(
        F.md5(F.col("text").cast("binary")).alias("h")
    )
    # eager checkpoints bound re-evaluation: the branch-and-union below
    # would otherwise recompute each subtree per consumer. Both
    # materializations are BATCH-sized (new data) or BLOOM_BITS-bounded
    # — never history-sized.
    g = (
        _inc_batch(spark, sf_dir)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .localCheckpoint(eager=True)
    )
    bits = (
        bloom_bits_for(hist_h, "h")
        .withColumn("__present", F.lit(1))
        .localCheckpoint(eager=True)
    )
    probes = g.select(
        "content_md5",
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("content_md5"), F.lit(j)),
                        F.lit(BLOOM_BITS),
                    )
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    k_hits = (
        probes.join(F.broadcast(bits), "bit", "left")
        .groupBy("content_md5")
        .agg(F.count("__present").alias("__k_hits"))
    )
    g = g.join(k_hits, "content_md5").localCheckpoint(eager=True)
    definite_new = g.filter(F.col("__k_hits") < BLOOM_K)
    cand = g.filter(F.col("__k_hits") == BLOOM_K)
    # verify join: candidates are small by construction, so broadcast
    # THEM both ways — history is never shuffled
    confirmed = hist_h.join(
        F.broadcast(cand.select(F.col("content_md5").alias("h"))), "h", "left_semi"
    ).distinct()
    fp_new = cand.join(
        F.broadcast(confirmed.select(F.col("h").alias("content_md5"))),
        "content_md5",
        "left_anti",
    )
    return definite_new.unionByName(fp_new).select(
        "content_md5", "canonical_id", "n_copies"
    )


ORACLE_INCREMENTAL_DEDUP = f"""
WITH hist AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {INC_ID_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % {INC_RECRAWL_MOD} = 1
), g AS (
  SELECT md5(text) AS content_md5,
         MIN(doc_id) AS canonical_id,
         COUNT(*) AS n_copies
  FROM batch GROUP BY md5(text)
)
SELECT content_md5, canonical_id, n_copies
FROM g
WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = g.content_md5)
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs via inverted-index self-join:
    explode distinct shingles, join docs sharing a shingle, count the
    intersection per pair, compute J = |∩| / (|A|+|B|−|∩|), keep
    pairs over the threshold. Candidate pairs are exactly those with
    ≥1 common shingle — no quadratic scan.

    The ``merge`` hint forces a sort-merge self-join: both sides then
    need the SAME shuffle exchange on ``s``, which Spark's
    ReuseExchange computes once — the expensive shingle subtree runs
    one time instead of once per join side (a broadcast self-join
    would re-evaluate it to build the hash relation).

    Stop-shingles (document frequency > :data:`SHINGLE_DF_CAP`) are
    excluded from the index AND from the per-doc shingle counts, so
    the Jaccard estimate stays internally consistent — J is then the
    Jaccard of the docs' RARE-shingle sets, which is the signal that
    matters for dedup. The DF comes from a window count over the same
    ``s`` key the join shuffles on, so the guard rides the exchange
    the join needs anyway."""
    return jaccard_pairs_for(load_table(spark, "documents", sf_dir))


def _df_capped(ex: DataFrame, key: str) -> DataFrame:
    """Stop-key guard shared by every inverted-index face: drop keys
    whose document frequency exceeds :data:`SHINGLE_DF_CAP` from a
    (doc_id, key) posting frame. The DF comes from a window count over
    the same key the downstream self-join or publish shuffles on, so
    the guard rides an exchange that stage needs anyway."""
    from pyspark.sql import Window

    return (
        ex.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .filter(F.col("__df") <= SHINGLE_DF_CAP)
        .select("doc_id", key)
    )


def _capped_pair_counts(ex: DataFrame, key: str) -> DataFrame:
    """Capped inverted-index self-join shared by the shingle faces
    (Jaccard / containment) AND the winnowing match stage:
    (doc_a, doc_b, common, na, nb) for every doc pair sharing ≥1 kept
    key. ONE definition so a cap or join-shape change can never drift
    between the families — only the posting key differs. The ``merge``
    hint forces a sort-merge self-join: both sides then need the SAME
    shuffle exchange on the key, which ReuseExchange computes once
    (a broadcast self-join would re-evaluate the expensive posting
    subtree to build the hash relation).

    The kept posting frame is eagerly checkpointed: ReuseExchange
    only covers the two SELF-JOIN sides (their exchange subtrees are
    canonically identical), but the ``sizes`` branch hangs different
    pushed filters under its exchange, so un-checkpointed it
    re-evaluates the whole hashing subtree (tokenize → per-char hash
    fold → window cap) a second time. Postings are (doc_id, key) slim
    — no text — so the materialization is cheap at any scale (on a
    cluster this is the published inverted index being persisted)."""
    kept = _df_capped(ex, key).localCheckpoint(eager=True)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = kept.alias("a").hint("merge"), kept.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("common"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
    )


def shingle_pair_counts(docs: DataFrame) -> DataFrame:
    """Shared candidate-pair substrate of the Jaccard AND containment
    faces: (doc_a, doc_b, common, na, nb) for every doc pair sharing
    ≥1 rare shingle — the stop-shingle-capped inverted-index self-join
    described in :func:`ngram_jaccard_pairs`, via
    :func:`_capped_pair_counts`."""
    sh = _shingled_docs(docs)
    # explode_outer, deliberately: plain explode makes Catalyst infer a
    # `size(sh) > 0` filter and push it below the projections, inlining
    # the whole shingle expression into the Filter — the hashing would
    # run twice per row. _shingled_docs never yields an empty array, so
    # outer semantics are identical here.
    ex = sh.select("doc_id", F.explode_outer("sh").alias("s"))
    return _capped_pair_counts(ex, "s")


def jaccard_pairs_for(docs: DataFrame) -> DataFrame:
    """See :func:`ngram_jaccard_pairs` — over an arbitrary
    (doc_id, text) frame."""
    pairs = shingle_pair_counts(docs)
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.filter(jac > JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 5).alias("jaccard"))
    )


ORACLE_NGRAM_JACCARD_PAIRS = f"""
WITH docs AS ({_ORACLE_SHINGLES}),
ex_all AS (SELECT doc_id, unnest(sh) AS s FROM docs),
ex AS (
  SELECT doc_id, s FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.common * 1.0 / (sa.n + sb.n - p.common), 5) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.common * 1.0 / (sa.n + sb.n - p.common) > {JACCARD_THRESHOLD}
"""


def signatures_for(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """MinHash signatures over an arbitrary (doc_id, text) frame:
    mh[i] = min over shingle hashes of (A[i]*h + B[i]) mod HASH_MOD.
    16 permutations as one array column — one scan, no shuffle.
    ``keep_cols`` rides extra columns through (see
    :func:`_shingled_docs`)."""
    sh = _shingled_docs(docs, keep_cols)
    def perm_min(a: int, b: int) -> Column:
        return F.array_min(F.transform(F.col("sh"), lambda h: (h * a + b) % HASH_MOD))

    mh = F.array(*[perm_min(a, b) for a, b in zip(PERM_A, PERM_B)])
    return sh.select("doc_id", *keep_cols, mh.alias("mh"))


def signatures_vectorized(docs: DataFrame) -> DataFrame:
    """Vectorized MinHash kernel: tokens split JVM-side, then one
    ``mapInPandas`` stage does char-hash → shingle-hash → distinct →
    16 permutation minima as flat numpy array passes (per Arrow batch:
    a byte-matrix Horner loop over token chars, one ``np.unique`` for
    per-doc distinct shingles, and ``np.minimum.reduceat`` per
    permutation over the doc segments). Bit-identical to
    :func:`signatures_for` — same modular arithmetic, asserted equal
    in tests; the JVM expression face stays the oracle reference.

    Scale: the corpus spreads through the same layout-aware opener as
    :func:`_shingled_docs` (:func:`_spread_for_hashing` — the Arrow
    kernel is the CPU hot spot, but the exchange fires only when the
    scan under-parallelizes); tokens move once through Arrow; nothing
    shuffles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = (
        _spread_for_hashing(docs)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("mh", T.ArrayType(T.LongType())),
        ]
    )
    A = np.array(PERM_A, dtype=np.int64)
    B = np.array(PERM_B, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                    "mh": pd.Series([], dtype="object")})
                continue
            u_sh, counts, seg = _np_distinct_shingles(pdf["toks"], n)
            mh = np.empty((n, NUM_PERM), dtype=np.int64)
            for p in range(NUM_PERM):
                vals = (u_sh * A[p] + B[p]) % HASH_MOD
                mh[:, p] = np.minimum.reduceat(vals, seg)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "mh": list(mh)})

    return d.mapInPandas(kernel, out_schema)


def _np_positional_grams(tok_lists, n: int):
    """Positional word-3-gram hash sequence over one Arrow batch of
    token lists: char-hash every token (Horner over a padded byte
    matrix) and combine consecutive triples — identical arithmetic to
    :func:`_shingled_docs`' pre-distinct gram array (asserted in
    tests). Returns ``(sh, doc_of_sh)``: the flat IN-ORDER gram hashes
    and each gram's batch-row index. Shared by the distinct-shingle
    (MinHash) and winnowing (window-min) kernels, which differ only in
    what they reduce over this sequence."""
    import numpy as np

    n_toks = np.fromiter((len(t) for t in tok_lists), np.int64, count=n)
    flat = [t for ts in tok_lists for t in ts]
    lens = np.fromiter((len(t) for t in flat), np.int64, count=len(flat))
    width = int(lens.max()) if len(flat) else 0
    mat = np.zeros((len(flat), width), dtype=np.int64)
    for i, t in enumerate(flat):
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        # non-ASCII chars: the JVM face hashes each character's full
        # code point (F.ascii), so int64 here — uint8 would wrap
        # anything past U+00FF
        if len(b) != len(t):
            b = np.fromiter((ord(c) for c in t), np.int64, count=len(t))
        mat[i, : len(t)] = b
    th = np.zeros(len(flat), dtype=np.int64)
    for j in range(width):
        live = lens > j
        th[live] = (th[live] * 31 + mat[live, j]) % HASH_MOD
    # shingle hashes over consecutive token triples, per doc
    doc_of_tok = np.repeat(np.arange(n), n_toks)
    starts = np.concatenate(([0], np.cumsum(n_toks)))[:-1]
    keep = np.ones(len(flat), dtype=bool)  # last 2 toks per doc: no shingle
    for off in (1, 2):
        keep[np.minimum(starts + n_toks - off, len(flat) - 1)] = False
    t0 = th[keep]
    t1 = np.roll(th, -1)[keep]
    t2 = np.roll(th, -2)[keep]
    sh = ((t0 * SHINGLE_P + t1) % HASH_MOD * SHINGLE_P + t2) % HASH_MOD
    doc_of_sh = doc_of_tok[keep]
    return sh, doc_of_sh


def _np_distinct_shingles(tok_lists, n: int):
    """Per-doc distinct shingle hashes over one Arrow batch (see
    :func:`_np_positional_grams` for the hashing). Returns
    ``(u_sh, counts, seg)``: the per-doc-sorted distinct shingle
    hashes, the distinct count per doc, and the segment start offsets
    for ``np.*.reduceat``."""
    import numpy as np

    sh, doc_of_sh = _np_positional_grams(tok_lists, n)
    # distinct (doc, shingle): np.unique on a fused key
    fused = np.unique(doc_of_sh * (HASH_MOD + 1) + sh)
    u_doc = fused // (HASH_MOD + 1)
    u_sh = fused % (HASH_MOD + 1)
    counts = np.bincount(u_doc.astype(np.intp), minlength=n)
    seg = np.concatenate(([0], np.cumsum(counts)))[:-1]
    return u_sh, counts, seg


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus face of :func:`signatures_for`."""
    return signatures_for(load_table(spark, "documents", sf_dir))


def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle face of :func:`minhash_signatures`: the signature array is
    serialized to a ``_``-joined string so the value representation is
    engine-independent (array columns round-trip differently through
    pandas in Spark vs DuckDB)."""
    return minhash_signatures(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("_", F.col("mh").cast("array<string>")).alias("mh_sig"),
    )


def _mh_exprs() -> list[str]:
    return [
        f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {HASH_MOD}))"
        for a, b in zip(PERM_A, PERM_B)
    ]


ORACLE_MINHASH_SIGNATURES = f"""
WITH docs AS ({_ORACLE_SHINGLES})
SELECT doc_id,
       list_aggregate(list_transform([{', '.join(_mh_exprs())}],
                                     x -> CAST(x AS VARCHAR)),
                      'string_agg', '_') AS mh_sig
FROM docs WHERE len(sh) > 0
"""


def _bucket_pairs(bands: DataFrame, payload: str) -> DataFrame:
    """Within-bucket ordered pair generation WITHOUT a self-join:
    collect each (band, key) bucket's members (sorted by doc_id) and
    expand ordered pairs with array combinators. One shuffle, and the
    expensive signature subtree upstream is evaluated exactly once — a
    self-join would re-evaluate it per side, because the auto-deduped
    right plan gets fresh lambda exprIds that defeat ReuseExchange
    canonicalization.

    Returns columns ``a`` / ``b``: structs of (doc_id, <payload>) with
    ``a.doc_id < b.doc_id``.

    Scale guard: buckets above :data:`MAX_BUCKET_SIZE` are filtered
    out BEFORE ``collect_list`` — the per-bucket size comes from a
    window count partitioned on the same (band, key) keys, so the
    groupBy that follows reuses the window's shuffle exchange (one
    shuffle total, verified via ``explain``). Without the cap a
    hyper-common band key collects one array of m members and expands
    m² pair structs inside a single row — executor OOM at corpus
    scale. Use :func:`oversize_buckets` to observe what was dropped.
    """
    from pyspark.sql import Window

    bucket_w = Window.partitionBy("band", "key")
    members = (
        bands.withColumn("__bucket_n", F.count(F.lit(1)).over(bucket_w))
        .filter(F.col("__bucket_n") <= MAX_BUCKET_SIZE)
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", payload))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # explode_outer, deliberately: plain explode makes Catalyst infer
    # a `size(<expansion>) > 0` guard that evaluates the O(m²) pair
    # expansion a SECOND time per bucket just to test emptiness. The
    # `size(ms) >= 2` filter above guarantees ≥1 pair, so outer
    # semantics are identical.
    return members.select(
        F.explode_outer(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size("ms")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")


def oversize_buckets(bands: DataFrame) -> DataFrame:
    """Accounting face of the :data:`MAX_BUCKET_SIZE` guard: the
    (band, key, n_members) rows that :func:`_bucket_pairs` dropped.
    Run it on the same ``bands`` frame to log/monitor how much content
    the cap excluded — at corpus scale this is the dashboard metric
    that tells you boilerplate is flooding a band."""
    return (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > MAX_BUCKET_SIZE)
    )


def bands_for_sigs(
    sigs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, mh, band, key) exploded banding rows from any
    (doc_id, mh) signature frame — batch or streaming (pure JVM
    expressions, no state). ``keep_cols`` rides extra columns through
    (see :func:`_shingled_docs`)."""
    return sigs.select(
        "doc_id",
        *keep_cols,
        "mh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col("mh")[bi * BAND_ROWS + r].cast("string")
                                for r in range(BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(NUM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *keep_cols, "mh", "bk.band", "bk.key")


def minhash_bands_for(docs: DataFrame) -> DataFrame:
    """(doc_id, mh, band, key) exploded banding rows — the shared input
    of :func:`lsh_pairs_for` and :func:`oversize_buckets`. Signatures
    come from the vectorized kernel (measured faster than the JVM
    expression face even at test scale, and the gap widens with
    per-row lambda-interpretation cost at corpus scale); the JVM face
    remains the registered oracle reference and is asserted
    bit-identical in tests."""
    return bands_for_sigs(signatures_vectorized(docs))


def lsh_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """:func:`lsh_pairs_for` from a precomputed (doc_id, mh) signature
    frame — lets a caller that ALSO needs the shingle arrays (the
    calibration report) hash the corpus once and feed both paths."""
    pairs = _bucket_pairs(bands_for_sigs(sigs), "mh")
    est = (
        F.size(
            F.filter(
                F.zip_with("a.mh", "b.mh", lambda x, y: x == y), lambda eq: eq
            )
        )
        / NUM_PERM
    )
    # est is a pure function of the pair, so full-row distinct() dedups
    # band collisions without a first()-style aggregate over arrays
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est, 5).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .distinct()
    )


def lsh_pairs_for(docs: DataFrame) -> DataFrame:
    """MinHash + LSH near-dup candidates over an arbitrary
    (doc_id, text) frame: band the 16-row signature into 4 bands × 4
    rows; docs colliding on any whole band become candidates (bucket
    grouping, not all-pairs); estimated Jaccard = fraction of matching
    signature rows; keep pairs over threshold.

    This is the 100 TB dedup path: cost is O(docs × bands) rows
    shuffled on band keys instead of an O(n²) comparison; candidate
    pairs are generated inside each bucket (see _bucket_pairs)."""
    return lsh_pairs_from_sigs(signatures_vectorized(docs))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus face of :func:`lsh_pairs_for`."""
    return lsh_pairs_for(load_table(spark, "documents", sf_dir))


def _oracle_band_selects() -> str:
    selects = []
    for bi in range(NUM_BANDS):
        key = " || '_' || ".join(
            f"CAST(mh[{bi * BAND_ROWS + r + 1}] AS VARCHAR)" for r in range(BAND_ROWS)
        )
        selects.append(f"SELECT doc_id, mh, {bi} AS band, {key} AS key FROM sigs")
    return " UNION ALL ".join(selects)


def _oracle_lsh_pairs(src: str = "documents") -> str:
    """The full LSH candidate-pair SQL over an arbitrary source
    relation (doc_id, text) — mirrors :func:`lsh_pairs_for`."""
    return f"""
WITH docs AS ({_oracle_shingles(src)}),
sigs AS (SELECT doc_id, [{', '.join(_mh_exprs())}] AS mh FROM docs
         WHERE len(sh) > 0),
bands_all AS ({_oracle_band_selects()}),
bands AS (
  SELECT doc_id, mh, band, key FROM bands_all
  QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {MAX_BUCKET_SIZE}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.mh AS mha, b.mh AS mhb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(len(list_filter(range(1, {NUM_PERM + 1}), i -> mha[i] = mhb[i]))
             * 1.0 / {NUM_PERM}, 5) AS est_jaccard
FROM cand
WHERE len(list_filter(range(1, {NUM_PERM + 1}), i -> mha[i] = mhb[i]))
      * 1.0 / {NUM_PERM} >= {JACCARD_THRESHOLD}
"""


ORACLE_MINHASH_LSH_PAIRS = _oracle_lsh_pairs()


def _simhash_expr() -> Column:
    """The 32-bit SimHash fingerprint as a JVM expression over a ``sh``
    shingle-hash array column (shared by :func:`simhash_fingerprints`
    and :func:`simhash_calibration_report`)."""

    def bit_vote(j: int) -> Column:
        vote = F.aggregate(
            F.col("sh"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    bits = [bit_vote(j) for j in range(SIMHASH_BITS)]
    fp = bits[0]
    for j in range(1, SIMHASH_BITS):
        fp = fp + F.shiftleft(bits[j], j)
    return fp


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: each shingle hash votes ±1 on each of 32 bits (bit j of
    the hash); fingerprint bit j is 1 iff the vote sum is positive.
    Near-identical shingle sets → near-identical fingerprints."""
    docs = load_table(spark, "documents", sf_dir)
    sh = _shingled_docs(docs)
    return sh.select("doc_id", _simhash_expr().alias("simhash"))


def _oracle_simhash_bits() -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform(sh, h -> CASE WHEN (h >> {j}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {j})")
    return " + ".join(terms)


ORACLE_SIMHASH_FINGERPRINTS = f"""
WITH docs AS ({_ORACLE_SHINGLES})
SELECT doc_id, {_oracle_simhash_bits()} AS simhash
FROM docs WHERE len(sh) > 0
"""


def simhash_vectorized(docs: DataFrame) -> DataFrame:
    """Vectorized SimHash over a (doc_id, text) frame: tokens split
    JVM-side, then ONE ``mapInPandas`` stage runs the shared numpy
    shingle kernel (:func:`_np_distinct_shingles` — the same one
    MinHash uses) followed by the 32 bit votes as ``add.reduceat``
    passes over the per-doc shingle segments. No JVM lambda hashing
    anywhere on this path, and no shuffle. Deterministically identical
    to the JVM expression face (tests assert equality); that face
    stays the oracle-checked reference."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # same layout-aware spread as the JVM substrate — the Arrow kernel
    # needs the cores, but only when the scan under-parallelizes
    d = (
        _spread_for_hashing(docs)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def fingerprint(batches):
        js = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "simhash": pd.Series([], dtype="int64"),
                    }
                )
                continue
            u_sh, counts, seg = _np_distinct_shingles(pdf["toks"], n)
            ones = np.empty((n, SIMHASH_BITS), dtype=np.int64)
            for j in range(SIMHASH_BITS):
                # votes for bit j, summed per document in one pass
                ones[:, j] = np.add.reduceat((u_sh >> j) & 1, seg)
            bits = (2 * ones > counts[:, None]).astype(np.int64)
            fps = (bits << js).sum(axis=1)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": fps})

    return d.mapInPandas(fingerprint, out_schema)


def simhash_fingerprints_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of :func:`simhash_vectorized` over the corpus.
    The JVM expression face (:func:`simhash_fingerprints`) stays the
    oracle-checked reference because it needs no Python workers."""
    return simhash_vectorized(load_table(spark, "documents", sf_dir))


def signatures_and_simhash_vectorized(docs: DataFrame) -> DataFrame:
    """(doc_id, mh, simhash) — BOTH fingerprint families from ONE
    kernel pass. :func:`signatures_vectorized` and
    :func:`simhash_vectorized` each tokenize, char-hash, shingle and
    distinct the corpus inside their own ``mapInPandas`` stage; a
    caller that needs both (``dedup_method_agreement`` — the
    cross-method validator) would run that shared
    :func:`_np_distinct_shingles` work twice over the whole corpus.
    Here the batch crosses Arrow once and the shingle segments feed
    the 16 permutation minima AND the 32 bit votes back to back —
    identical arithmetic to the two single-family kernels (asserted
    bit-equal in tests), so every derived pair set is unchanged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = (
        _spread_for_hashing(docs)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("mh", T.ArrayType(T.LongType())),
            T.StructField("simhash", T.LongType()),
        ]
    )
    A = np.array(PERM_A, dtype=np.int64)
    B = np.array(PERM_B, dtype=np.int64)

    def kernel(batches):
        js = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "mh": pd.Series([], dtype="object"),
                        "simhash": pd.Series([], dtype="int64"),
                    }
                )
                continue
            u_sh, counts, seg = _np_distinct_shingles(pdf["toks"], n)
            mh = np.empty((n, NUM_PERM), dtype=np.int64)
            for p in range(NUM_PERM):
                vals = (u_sh * A[p] + B[p]) % HASH_MOD
                mh[:, p] = np.minimum.reduceat(vals, seg)
            ones = np.empty((n, SIMHASH_BITS), dtype=np.int64)
            for j in range(SIMHASH_BITS):
                ones[:, j] = np.add.reduceat((u_sh >> j) & 1, seg)
            bits = (2 * ones > counts[:, None]).astype(np.int64)
            fps = (bits << js).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mh": list(mh), "simhash": fps}
            )

    return d.mapInPandas(kernel, out_schema)


def simhash_bands_for(sigs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, key) byte-banding rows over a
    (doc_id, simhash) frame."""
    return sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit fingerprint into 4 bytes;
    pairs sharing any byte are candidates (pigeonhole: hamming ≤ 6 on
    32 bits usually leaves one byte intact); verify with exact hamming
    distance via bit_count(xor).

    Fingerprints come from the vectorized numpy face (~4× cheaper than
    the 32-lambda JVM expression face, which remains registered
    separately as the oracle reference — both are proven identical)."""
    return simhash_pairs_from_sigs(
        simhash_vectorized(load_table(spark, "documents", sf_dir))
    )


def simhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """:func:`simhash_near_dup_pairs` from a precomputed
    (doc_id, simhash) frame — the SimHash twin of
    :func:`lsh_pairs_from_sigs`, for callers that already hold the
    fingerprints (the fused-kernel path)."""
    pairs = _bucket_pairs(simhash_bands_for(sigs), "simhash")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    # hamming is a pure function of the pair → distinct() dedups band
    # collisions exactly (see minhash_lsh_pairs)
    return (
        pairs.filter(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


ORACLE_SIMHASH_NEAR_DUP_PAIRS = f"""
WITH docs AS ({_ORACLE_SHINGLES}),
sigs AS (SELECT doc_id, {_oracle_simhash_bits()} AS simhash FROM docs
         WHERE len(sh) > 0),
bands_all AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS key
  FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
),
bands AS (
  SELECT doc_id, simhash, band, key FROM bands_all
  QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {MAX_BUCKET_SIZE}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a
JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def simhash_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading face of the SimHash substrate — the hamming-side
    twin of :func:`minhash_calibration_report` (VERDICT r8 task 9):
    for every byte-band candidate pair within ``SIMHASH_MAX_HAMMING``,
    the TRUE shingle-set Jaccard is computed and bucketed by hamming
    distance — (hamming, n_pairs, mean_exact, min_exact, max_exact).
    This is the readout that tells you whether the 32-bit fingerprint
    and the hamming-6 cut are calibrated for your corpus: a low-hamming
    bucket whose ``mean_exact`` is small means SimHash is promoting
    pairs that barely overlap (fingerprint too coarse); a
    ``max_exact`` near 1.0 in the top bucket means the cut is about to
    start missing true dups.

    Scale shape: identical to the MinHash report — the corpus is
    shingle-hashed exactly ONCE (the (doc_id, sh) frame is eagerly
    localCheckpoint'ed; fingerprints derive from it with the shared
    JVM bit-vote expression, and the SAME materialized frame feeds the
    exact-Jaccard joins), candidate pairs come from the capped byte
    banding (never all-pairs), and the exact Jaccard is two equi-joins
    of per-doc shingle arrays onto the bounded pair frame with a
    row-local ``array_intersect``. Means accumulate as DECIMAL sums of
    pre-rounded terms (summation-order independent — both engines
    agree bit-for-bit); min/max are order-free by definition. Output
    is ≤ SIMHASH_MAX_HAMMING+1 rows."""
    docs = load_table(spark, "documents", sf_dir)
    sh = _shingled_docs(docs).localCheckpoint(eager=True)
    sigs = sh.select("doc_id", _simhash_expr().alias("simhash"))
    pairs = _bucket_pairs(simhash_bands_for(sigs), "simhash")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = (
        pairs.filter(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )
    j = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    exact = inter / (F.size("sha") + F.size("shb") - inter)
    ex = j.select(
        "hamming", F.round(exact, 8).cast("decimal(30,10)").alias("x")
    )
    agg = ex.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("__sx"),
        F.min("x").alias("__mn"),
        F.max("x").alias("__mx"),
    )
    return agg.select(
        "hamming",
        "n_pairs",
        F.round(F.col("__sx").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_exact"
        ),
        F.round(F.col("__mn").cast("double"), 6).alias("min_exact"),
        F.round(F.col("__mx").cast("double"), 6).alias("max_exact"),
    )


ORACLE_SIMHASH_CALIBRATION_REPORT = f"""
WITH p AS ({ORACLE_SIMHASH_NEAR_DUP_PAIRS}),
docs AS ({_ORACLE_SHINGLES}),
ex AS (
  SELECT p.hamming,
         CAST(ROUND(
           len(list_intersect(da.sh, db.sh)) * 1.0
           / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
           8) AS DECIMAL(30,10)) AS x
  FROM p
  JOIN docs da ON p.doc_a = da.doc_id
  JOIN docs db ON p.doc_b = db.doc_id
),
agg AS (
  SELECT hamming, COUNT(*) AS n_pairs,
         SUM(x) AS sx, MIN(x) AS mn, MAX(x) AS mx
  FROM ex GROUP BY hamming
)
SELECT hamming, n_pairs,
       ROUND(CAST(sx AS DOUBLE) / n_pairs, 6) AS mean_exact,
       ROUND(CAST(mn AS DOUBLE), 6) AS min_exact,
       ROUND(CAST(mx AS DOUBLE), 6) AS max_exact
FROM agg
"""


# --------------------------------------------------------------------------
# Asymmetric containment pairs (round-5 addition)
# --------------------------------------------------------------------------
#: Minimum containment (|A∩B| / min(|A|,|B|)) for a pair to count as
#: "one document substantially inside the other". Symmetric Jaccard
#: misses exactly these pairs when the containing document is much
#: larger (J = |∩|/|∪| shrinks with the big doc's size while
#: containment stays near 1) — the quote-expansion / boilerplate-wrap
#: case sub-document dedup exists for.
CONTAINMENT_THRESHOLD = 0.6


def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs over the SAME inverted shingle index
    as :func:`ngram_jaccard_pairs`: C = |∩| / min(|A|, |B|) — the
    asymmetric "smaller doc is mostly inside the larger" relation
    (MinHash literature's containment score; what C4/RefinedWeb-style
    pipelines use to kill quoted/wrapped copies that Jaccard's union
    denominator dilutes). Emits both scores so downstream triage can
    see WHY a pair was caught (high C, low J = wrap; high both =
    near-identical).

    Scale shape: identical to the Jaccard face by construction — both
    filter the SAME :func:`shingle_pair_counts` substrate
    (stop-shingles capped at SHINGLE_DF_CAP before the self-join,
    merge-hinted exchange reuse, candidate set bounded to pairs
    sharing ≥1 rare shingle), so the plan inherits every bound
    already proven for the Jaccard face and the two faces cannot
    drift."""
    pairs = shingle_pair_counts(load_table(spark, "documents", sf_dir))
    cont = F.col("common") / F.least("na", "nb")
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.filter(cont >= CONTAINMENT_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(cont, 5).alias("containment"),
        F.round(jac, 5).alias("jaccard"),
    )


ORACLE_SHINGLE_CONTAINMENT_PAIRS = f"""
WITH docs AS ({_ORACLE_SHINGLES}),
ex_all AS (SELECT doc_id, unnest(sh) AS s FROM docs),
ex AS (
  SELECT doc_id, s FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY s) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.common * 1.0 / LEAST(sa.n, sb.n), 5) AS containment,
       ROUND(p.common * 1.0 / (sa.n + sb.n - p.common), 5) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.common * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
"""


# --------------------------------------------------------------------------
# MinHash calibration + snapshot n-gram novelty (round 6)
# --------------------------------------------------------------------------


def minhash_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading face of the MinHash/LSH substrate (the dedup twin
    of :func:`~udacity_dsnd_projects_spark.functions.similarity.ann_recall_report`):
    for every LSH candidate pair, the TRUE shingle-set Jaccard is
    computed and compared against the signature estimate, bucketed by
    estimate — (est_bin, n_pairs, mean_est, mean_exact, mean_abs_err).
    This is the dashboard that tells you whether ``NUM_PERM=16`` rows
    are enough at your threshold, or the banding is passing junk: a
    bucket whose ``mean_exact`` sits far under its ``est_bin`` means
    the LSH layer forwards false positives the verifier then pays for.

    Scale shape: the corpus is shingle-hashed exactly ONCE — the
    (doc_id, sh) frame is eagerly localCheckpoint'ed, signatures are
    derived from it with the JVM min-over-array expressions (the
    hashing already happened), and the same materialized frame feeds
    the exact-Jaccard joins; without the shared frame this report
    would hash the corpus three times. The pair frame is the capped
    LSH candidate output (never all-pairs); the exact Jaccard joins
    the per-doc shingle arrays onto that bounded pair frame (two
    equi-joins where the pair side is far smaller than the corpus)
    and intersects row-locally via ``array_intersect``. Means
    accumulate as DECIMAL sums of pre-rounded terms —
    summation-order independent, so both engines agree bit-for-bit —
    and the final report is ≤ a handful of rows."""
    docs = load_table(spark, "documents", sf_dir)
    sh = _shingled_docs(docs).localCheckpoint(eager=True)
    mh = F.array(
        *[
            F.array_min(
                F.transform(F.col("sh"), lambda h: (h * a + b) % HASH_MOD)
            )
            for a, b in zip(PERM_A, PERM_B)
        ]
    )
    pairs = lsh_pairs_from_sigs(sh.select("doc_id", mh.alias("mh")))
    j = pairs.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    exact = inter / (F.size("sha") + F.size("shb") - inter)
    ex = j.select(
        # 0.1-wide buckets: est is a multiple of 1/NUM_PERM (binary-exact
        # in double), so est*10 and its floor agree across engines
        F.round(F.floor(F.col("est_jaccard") * 10) / 10, 1).alias("est_bin"),
        F.col("est_jaccard").cast("decimal(30,10)").alias("e"),
        F.round(exact, 8).cast("decimal(30,10)").alias("x"),
    )
    agg = ex.groupBy("est_bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("e").alias("__se"),
        F.sum("x").alias("__sx"),
        F.sum(F.abs(F.col("e") - F.col("x"))).alias("__sae"),
    )
    return agg.select(
        "est_bin",
        "n_pairs",
        F.round(F.col("__se").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_est"
        ),
        F.round(F.col("__sx").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_exact"
        ),
        F.round(F.col("__sae").cast("double") / F.col("n_pairs"), 6).alias(
            "mean_abs_err"
        ),
    )


ORACLE_MINHASH_CALIBRATION_REPORT = f"""
WITH p AS ({ORACLE_MINHASH_LSH_PAIRS}),
docs AS ({_ORACLE_SHINGLES}),
ex AS (
  SELECT ROUND(FLOOR(p.est_jaccard * 10) / 10, 1) AS est_bin,
         CAST(p.est_jaccard AS DECIMAL(30,10)) AS e,
         CAST(ROUND(
           len(list_intersect(da.sh, db.sh)) * 1.0
           / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
           8) AS DECIMAL(30,10)) AS x
  FROM p
  JOIN docs da ON p.doc_a = da.doc_id
  JOIN docs db ON p.doc_b = db.doc_id
),
agg AS (
  SELECT est_bin, COUNT(*) AS n_pairs,
         SUM(e) AS se, SUM(x) AS sx, SUM(ABS(e - x)) AS sae
  FROM ex GROUP BY est_bin
)
SELECT est_bin, n_pairs,
       ROUND(CAST(se AS DOUBLE) / n_pairs, 6) AS mean_est,
       ROUND(CAST(sx AS DOUBLE) / n_pairs, 6) AS mean_exact,
       ROUND(CAST(sae AS DOUBLE) / n_pairs, 6) AS mean_abs_err
FROM agg
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty of a new crawl batch against the
    prior corpus snapshot: (doc_id, n_grams, n_novel, novelty_rate)
    where ``n_novel`` counts the doc's distinct shingles NOT present
    anywhere in the snapshot. The crawl-prioritization twin of
    :func:`incremental_dedup` — that one asks "is this content new?";
    this one asks "HOW MUCH of it is new?", the signal a pipeline uses
    to rank sources by information yield between snapshots (distinct
    from ``ngram_contamination``, which checks the batch against a
    blocklist, not the corpus's own history).

    Scale shape: the snapshot collapses to its DISTINCT shingle-hash
    set once (gram-universe-sized, shuffled on the hash); the batch's
    exploded shingles left-join that set on the same key (sort-merge,
    one shuffle per side) and the novelty flag reduces back to one row
    per batch doc map-side. Nothing is quadratic and no text moves —
    only 8-byte shingle hashes. The Bloom-prefilter trick of
    :func:`incremental_dedup` applies verbatim if the gram universe
    ever outgrows a shuffle."""
    # explode_outer, deliberately (the contamination_for doctrine):
    # plain explode lets Catalyst infer a `size(sh) > 0` filter and
    # push it below the projections, inlining the WHOLE shingle chain
    # into the Filter — there the th-sharing is lost and each gram's
    # element_at re-evaluates the full token-hash array: O(tokens²)
    # per doc, measured 28.5 → 1.5 s cpu at sf 0.01 (19×) with
    # bit-identical output. _shingled_docs never yields an empty
    # array (the ≥3-token filter guarantees ≥1 shingle), so outer
    # semantics are identical.
    hist = (
        _shingled_docs(_inc_history(spark, sf_dir))
        .select(F.explode_outer("sh").alias("s"))
        .distinct()
    )
    batch = _shingled_docs(_inc_batch(spark, sf_dir)).select(
        "doc_id", F.explode_outer("sh").alias("s")
    )
    marked = batch.join(hist.withColumn("__old", F.lit(1)), "s", "left")
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("__old").isNull(), 1).otherwise(0)).alias("n_novel"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_grams"), 6
        ).alias("novelty_rate"),
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH hist_src AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
),
batch_src AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + {INC_ID_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % {INC_RECRAWL_MOD} = 1
),
hsh AS ({_oracle_shingles("hist_src")}),
hist AS (SELECT DISTINCT unnest(sh) AS s FROM hsh),
bsh AS ({_oracle_shingles("batch_src")}),
bx AS (SELECT doc_id, unnest(sh) AS s FROM bsh),
m AS (
  SELECT bx.doc_id, CASE WHEN hist.s IS NULL THEN 1 ELSE 0 END AS novel
  FROM bx LEFT JOIN hist ON bx.s = hist.s
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(novel) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty_rate
FROM m GROUP BY doc_id
"""


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method validation of the two LSH families in one row —
    (n_minhash, n_simhash, n_both, agreement_jaccard,
    minhash_only_share, simhash_only_share): the pair sets found by
    MinHash-LSH (:func:`minhash_lsh_pairs`) and SimHash banding
    (:func:`simhash_near_dup_pairs`) compared as sets. Two
    independently-derived detectors agreeing is the cheapest
    whole-pipeline regression signal there is: a threshold/banding
    change that silently breaks ONE method craters the agreement
    before any downstream metric moves, and the *_only shares say
    which family drifted.

    Scale shape: both inputs are the capped LSH candidate outputs
    (pair-graph-sized, never the corpus); the comparison is one
    full-outer equi-join on (doc_a, doc_b) and a 1-row count rollup.
    Exact-count ratios divide in double, identically in both
    engines. The two detectors share one corpus hashing pass: the
    fused kernel (:func:`signatures_and_simhash_vectorized`) emits
    both fingerprint families per doc and the slim (doc_id, mh[16],
    simhash) frame is checkpointed once (lazily — the calibration
    reports' one-frame doctrine), so tokenize/char-hash/shingle —
    the dominant cost of both substrates — runs once instead of
    twice; each pair derivation is unchanged above its signature
    input (bit-identical pair sets, oracle-pinned)."""
    docs = load_table(spark, "documents", sf_dir)
    sigs = signatures_and_simhash_vectorized(
        docs.select("doc_id", "text")
    ).localCheckpoint(eager=False)
    mh = lsh_pairs_from_sigs(sigs.select("doc_id", "mh")).select(
        "doc_a", "doc_b", F.lit(1).alias("__m")
    )
    sh = simhash_pairs_from_sigs(sigs.select("doc_id", "simhash")).select(
        "doc_a", "doc_b", F.lit(1).alias("__s")
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("__m"), F.lit(0))).alias("n_minhash"),
        F.sum(F.coalesce(F.col("__s"), F.lit(0))).alias("n_simhash"),
        F.sum(
            F.when(F.col("__m").isNotNull() & F.col("__s").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
        F.count(F.lit(1)).alias("__n_union"),
    )
    return agg.select(
        "n_minhash",
        "n_simhash",
        "n_both",
        F.round(F.col("n_both").cast("double") / F.col("__n_union"), 6).alias(
            "agreement_jaccard"
        ),
        F.round(
            (F.col("n_minhash") - F.col("n_both")).cast("double")
            / F.col("__n_union"),
            6,
        ).alias("minhash_only_share"),
        F.round(
            (F.col("n_simhash") - F.col("n_both")).cast("double")
            / F.col("__n_union"),
            6,
        ).alias("simhash_only_share"),
    )


ORACLE_DEDUP_METHOD_AGREEMENT = f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({ORACLE_MINHASH_LSH_PAIRS})),
sh AS (SELECT doc_a, doc_b FROM ({ORACLE_SIMHASH_NEAR_DUP_PAIRS})),
j AS (
  SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
         CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS m,
         CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS s
  FROM mh FULL OUTER JOIN sh
    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
),
agg AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n_minhash,
         CAST(SUM(s) AS BIGINT) AS n_simhash,
         CAST(SUM(m * s) AS BIGINT) AS n_both,
         COUNT(*) AS n_union
  FROM j
)
SELECT n_minhash, n_simhash, n_both,
       ROUND(CAST(n_both AS DOUBLE) / n_union, 6) AS agreement_jaccard,
       ROUND(CAST(n_minhash - n_both AS DOUBLE) / n_union, 6)
         AS minhash_only_share,
       ROUND(CAST(n_simhash - n_both AS DOUBLE) / n_union, 6)
         AS simhash_only_share
FROM agg
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# --------------------------------------------------------------------------

#: Winnowing window: each window of WINNOW_WINDOW consecutive shingle
#: hashes contributes its minimum as a fingerprint (Schleimer, Wilkerson
#: & Aiken 2003, "Winnowing: Local Algorithms for Document
#: Fingerprinting" — the MOSS fingerprint). Guarantee: any shared token
#: run of at least WINNOW_WINDOW + 3 - 1 tokens yields at least one
#: SHARED fingerprint (the window that covers it picks the same
#: minimum), while expected density is only 2/(WINNOW_WINDOW + 1) of
#: the grams — position-robust substring matching at a fraction of the
#: full fingerprint size, the property neither MinHash (whole-doc
#: similarity) nor the full rolling hash (exact-doc identity) gives.
WINNOW_WINDOW = 4


def _winnow_fp_arrays(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Shared winnowing substrate over an arbitrary (doc_id, text)
    frame — (doc_id, fps array<long>) of distinct window-minima; see
    :func:`winnowing_fingerprints`. Factored so the fingerprint face
    and the overlap-pairs face can never drift on the
    hash/window/tie rules. Streaming-safe: per-row array math
    only, no aggregation (and :func:`_spread_for_hashing` keeps its
    layout probe batch-only). Layout-aware opener: the text-sized
    spread exchange is skipped when the scan already parallelizes.
    ``keep_cols`` rides extra source columns through the projection
    chain (the :func:`bands_for_sigs` convention) so a per-source
    consumer needs no corpus join-back."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = (
        _spread_for_hashing(docs, keep_cols)
        .select("doc_id", *keep_cols, toks.alias("toks"))
        .filter(F.size("toks") >= 3 + WINNOW_WINDOW - 1)
    )
    d = d.select(
        "doc_id", *keep_cols, F.transform("toks", _token_hash).alias("th")
    )
    th = F.col("th")
    g = F.transform(
        F.sequence(F.lit(1), F.size("th") - 2),
        lambda j: (
            (F.element_at(th, j) * SHINGLE_P + F.element_at(th, j + 1))
            % HASH_MOD
            * SHINGLE_P
            + F.element_at(th, j + 2)
        )
        % HASH_MOD,
    )
    d = d.select("doc_id", *keep_cols, g.alias("g"))
    wins = F.transform(
        F.sequence(F.lit(1), F.size("g") - WINNOW_WINDOW + 1),
        lambda i: F.array_min(F.slice(F.col("g"), i, WINNOW_WINDOW)),
    )
    return d.select(
        "doc_id",
        *keep_cols,
        F.size("g").alias("n_grams"),
        F.array_distinct(wins).alias("fps"),
    )


def _winnow_fp_rows(docs: DataFrame) -> DataFrame:
    """Exploded (doc_id, fp) rows of :func:`_winnow_fp_arrays`."""
    # explode_outer, not explode: plain explode lets Catalyst infer a
    # size(...) > 0 filter that re-evaluates the window expression
    # twice per row (see contamination_for); the token-count filter
    # in the substrate guarantees >= 1 window, so outer semantics are
    # equal.
    return _winnow_fp_arrays(docs).select(
        "doc_id", F.explode_outer("fps").alias("fp")
    )


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document: (doc_id, fp) rows where
    ``fp`` ranges over the distinct window-minima of the POSITIONAL
    word-3-gram hash sequence (the same token/shingle hash scheme as
    :func:`_shingled_docs`, kept positional — winnowing needs the gram
    ORDER, not the distinct set). Docs shorter than one window
    (``3 + WINNOW_WINDOW - 1`` tokens) have no fingerprint and are
    dropped.

    Tie handling: a window with duplicate minima contributes the VALUE
    once — the emitted set is tie-order independent, which is what
    makes the operator exactly reproducible in the oracle without
    pinning an intra-window tie rule.

    Scale shape: identical to the shingle substrate — per-row array
    math in codegen, one explode, no shuffle at all until a consumer
    aggregates (the output is the inverted-index feed for
    :func:`winnowing_overlap_pairs`, which buckets on ``fp`` exactly
    like the LSH band join, cap and all)."""
    return _winnow_fp_rows(load_table(spark, "documents", sf_dir))




#: Overlap threshold for the winnowing match stage: fraction of the
#: SMALLER document's fingerprints shared (containment form — the
#: plagiarism/wrap relation MOSS reports). 0.5 = "half the smaller
#: doc's fingerprinted content appears in the other".
WINNOW_OVERLAP_T = 0.5


def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS match stage over :func:`winnowing_fingerprints`:
    inverted-index self-join on fingerprint, count shared fingerprints
    per pair, score overlap = common / min(|A|, |B|) (containment of
    the smaller fingerprint set — the winnowing guarantee makes this a
    position-robust shared-SUBSTRING signal, not whole-doc
    similarity), keep pairs at or above :data:`WINNOW_OVERLAP_T`.
    Output: (doc_a, doc_b, common, overlap).

    Scale shape: the same capped inverted-index join as
    :func:`shingle_pair_counts` — hyper-common fingerprints (site
    boilerplate minima, the stop-shingle analog) are dropped at
    :data:`SHINGLE_DF_CAP` before the self-join, the merge hint reuses
    one exchange for both sides — but over an index winnowing already
    thinned to ~2/(WINNOW_WINDOW+1) of the gram mass, so the candidate
    mass per bucket shrinks quadratically vs the full shingle index.
    That thinning is why MOSS scales: the guarantee survives, the
    index doesn't carry every gram."""
    return winnowing_pairs_for(load_table(spark, "documents", sf_dir))


def winnowing_pairs_for(docs: DataFrame) -> DataFrame:
    """Core of :func:`winnowing_overlap_pairs` over any (doc_id, text)
    frame."""
    pairs = _capped_pair_counts(_winnow_fp_rows(docs), "fp")
    ov = F.col("common") / F.least("na", "nb")
    return pairs.filter(ov >= WINNOW_OVERLAP_T).select(
        "doc_a", "doc_b", "common", F.round(ov, 5).alias("overlap")
    )


_ORACLE_WINNOW_FPS = rf"""
  SELECT doc_id, len(g) AS n_grams,
         list_distinct(
           list_transform(range(1, len(g) - {WINNOW_WINDOW} + 2),
             i -> list_min(list_slice(g, i, i + {WINNOW_WINDOW - 1})))) AS fps
  FROM (
    SELECT doc_id,
           list_transform(range(1, len(th) - 1),
             j -> ((th[j] * {SHINGLE_P} + th[j+1]) % {HASH_MOD} * {SHINGLE_P}
                   + th[j+2]) % {HASH_MOD}) AS g
    FROM (SELECT doc_id,
                 list_transform(toks,
                   t -> list_reduce(
                          list_prepend(CAST(0 AS BIGINT),
                                       list_transform(string_split(t, ''),
                                                      ch -> CAST(ascii(ch) AS BIGINT))),
                          (acc, x) -> (acc * 31 + x) % {HASH_MOD})) AS th
          FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                FROM documents)
          WHERE len(toks) >= {3 + WINNOW_WINDOW - 1}))
"""


ORACLE_WINNOWING_FINGERPRINTS = f"""
WITH fps AS ({_ORACLE_WINNOW_FPS})
SELECT doc_id, unnest(fps) AS fp FROM fps
"""


ORACLE_WINNOWING_OVERLAP_PAIRS = f"""
WITH fps AS ({_ORACLE_WINNOW_FPS}),
ex_all AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
ex AS (
  SELECT doc_id, fp FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.common,
       ROUND(p.common * 1.0 / LEAST(sa.n, sb.n), 5) AS overlap
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE p.common * 1.0 / LEAST(sa.n, sb.n) >= {WINNOW_OVERLAP_T}
"""


def winnowing_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing's self-grading readout — the fingerprint-family twin
    of :func:`minhash_calibration_report` / the SimHash report: per
    source, how many distinct fingerprints the corpus actually keeps
    per gram, against the theoretical expected density 2/(w+1) for
    random hash sequences (Schleimer et al. 2003 §3). A density far
    BELOW expectation means repeated minima — heavy within-source
    repetition (boilerplate) collapsing the fingerprint space, so the
    match stage under-discriminates; a density near 1 means the
    window is too small for the corpus (nearly every gram survives and
    the index stops being a winnowed index). One row per source:
    (source, n_docs, n_grams, n_fps, density, expected_density).

    Scale shape: the per-doc (n_grams, |fps|) pair comes from the
    shared substrate's one hashing scan with ``source`` riding the
    projection chain (``keep_cols`` — this used to be a corpus
    join-back: a second documents scan plus two corpus-row-sized
    shuffles, for a column the scan already had), and the rollup is
    map-side combinable — nothing text-sized crosses an exchange."""
    docs = load_table(spark, "documents", sf_dir)
    per = _winnow_fp_arrays(docs, ("source",)).select(
        "source", "n_grams", F.size("fps").alias("n_fps")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_fps").alias("n_fps"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_fps",
            F.round(F.col("n_fps") / F.col("n_grams"), 6).alias("density"),
            F.round(F.lit(2.0 / (WINNOW_WINDOW + 1)), 6).alias(
                "expected_density"
            ),
        )
    )


ORACLE_WINNOWING_DENSITY_REPORT = f"""
WITH fps AS ({_ORACLE_WINNOW_FPS}),
per AS (
  SELECT f.doc_id, d.source, f.n_grams, len(f.fps) AS n_fps
  FROM fps f JOIN documents d ON f.doc_id = d.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS n_grams,
       CAST(SUM(n_fps) AS BIGINT) AS n_fps,
       ROUND(SUM(n_fps) * 1.0 / SUM(n_grams), 6) AS density,
       ROUND(2.0 / {WINNOW_WINDOW + 1}, 6) AS expected_density
FROM per GROUP BY source
"""
