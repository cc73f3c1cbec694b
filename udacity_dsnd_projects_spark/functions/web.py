"""Web-corpus URL operators (round-4 additions): canonical-URL
normalization and URL-level dedup — the other table-stakes web-crawl
curation op next to content dedup (crawl frontiers and WARC indexes
dedupe by canonical URL before any text is even fetched).

The corpus has no URL column, so — like
:func:`~udacity_dsnd_projects_spark.functions.multimodal.synthesize_media`
— a deterministic URL is synthesized per document, built to exercise
every normalization rule: mixed-case scheme/host, a ``www.`` prefix,
default ports (``:80``/``:443``) vs a real port (``:8080``), tracking
query parameters (``utm_*``, ``ref``), optional leading ``id`` param,
trailing slashes, and fragments. Normalization is a pure
``regexp_replace`` chain — JVM-side, whole-stage-codegen'd, no UDF —
and every pattern avoids lookarounds so the same rules run under both
Java regex (Spark) and RE2 (the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.sources.catalog import load_table

#: Tracking query parameters stripped by normalization.
TRACKING_PARAMS = "utm_[a-z]+|ref|fbclid|gclid"


def synthesize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) — deterministic synthetic raw URLs. The residues
    (mod 2/3/4/5/6) drive every messy-URL variant, so distinct doc_ids
    produce colliding canonical forms — real dedup work, not a no-op."""
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    # scheme comes from did%2 EXCEPT the did%4==2 residue, which forces
    # https so the ':443' default-port rule gets real corpus coverage
    # (':80' pairs with did%4==0, which is always even, hence HTTP —
    # deriving both port residues from did%4 alone would make the
    # https+':443' combination unsatisfiable)
    scheme = (
        F.when(did % 4 == 2, "https")
        .when(did % 2 == 0, "HTTP")
        .otherwise("https")
    )
    port = (
        F.when(did % 4 == 0, ":80")
        .when(did % 4 == 1, ":8080")
        .when(did % 4 == 2, ":443")
        .otherwise("")
    )
    id_param = F.when(did % 6 == 0, "").otherwise(
        F.concat(F.lit("id="), (did % 5).cast("string"), F.lit("&"))
    )
    url = F.concat(
        scheme,
        F.lit("://WWW.Example.COM"),
        port,
        F.lit("/docs/"),
        (did % 3).cast("string"),
        F.when(did % 5 == 0, "/").otherwise(""),
        F.lit("?"),
        id_param,
        F.lit("utm_source=feed&utm_campaign=c"),
        (did % 3).cast("string"),
        F.lit("&ref=rss#sec"),
        (did % 4).cast("string"),
    )
    return docs.select("doc_id", url.alias("url"))


def normalize_url(u: Column) -> Column:
    """Canonical URL: drop fragment → lowercase scheme://host[:port] →
    strip ``www.`` → strip scheme-default ports → strip tracking query
    params (fixing up ``?``/``&`` seams) → strip trailing slashes.
    Path case is preserved (paths are case-sensitive; only the
    authority section is case-insensitive per RFC 3986)."""
    # fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # lowercase scheme + authority (everything before the first '/'
    # after '//'); the path/query tail is untouched
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^[^/]*//[^/]*", 0)),
        F.regexp_replace(u, r"^[^/]*//[^/]*", ""),
    )
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    u = F.regexp_replace(u, r"^(http://[^/:?]+):80([/?].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?]+):443([/?].*)?$", "$1$2")
    # tracking params: '&p=v' anywhere, then a leading '?p=v&' (promote
    # the next param), then a lone '?p=v' tail
    u = F.regexp_replace(u, rf"&(?:{TRACKING_PARAMS})=[^&]*", "")
    u = F.regexp_replace(u, rf"\?(?:{TRACKING_PARAMS})=[^&]*&", "?")
    u = F.regexp_replace(u, rf"\?(?:{TRACKING_PARAMS})=[^&]*$", "")
    # trailing slash (before '?' or at end); dangling '?'
    u = F.regexp_replace(u, r"/\?", "?")
    u = F.regexp_replace(u, r"/$", "")
    u = F.regexp_replace(u, r"\?$", "")
    return u


def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document raw → canonical URL. Pure projection: one scan, no
    shuffle, all regexp chains inside whole-stage codegen."""
    return synthesize_urls(spark, sf_dir).select(
        "doc_id", "url", normalize_url(F.col("url")).alias("canon_url")
    )


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: group by canonical URL, keep the lowest doc_id
    (stable winner), count the duplicates. One shuffle on the
    canonical string; at crawl scale the groupBy key would be
    ``xxhash64(canon_url)`` to keep exchanges narrow — here the string
    key stays so the output is human-readable."""
    return (
        url_normalize(spark, sf_dir)
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Domain-level curation (round-5 addition)
# --------------------------------------------------------------------------
#: Domains per source in the synthetic web corpus (domain = source ×
#: ``doc_id % DOMAIN_MOD`` residue → ~sources·MOD distinct hosts).
DOMAIN_MOD = 7
#: A domain whose mean composite quality falls below this is dropped by
#: :func:`domain_quality_filter` — the RefinedWeb/C4-style domain-level
#: gate (spam farms score low ACROSS documents; per-doc filters miss
#: borderline pages from bad hosts).
DOMAIN_MIN_AVG_QUALITY = 0.95


def synthesize_domain_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) raw URLs over a VARIED host population — unlike
    :func:`synthesize_urls` (single host, built to stress every
    normalization rule), this face spreads documents over
    ~sources·:data:`DOMAIN_MOD` hosts so domain-level aggregation has
    real cardinality. Hosts are mixed-case with a ``WWW.`` prefix so
    the canonical domain still has to come out of
    :func:`normalize_url`, not string concat."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", "source", _domain_url_col().alias("url"))


def _domain_url_col() -> Column:
    """:func:`synthesize_domain_urls`' raw-url expression over the
    documents row itself (needs only ``doc_id`` + ``source``) — shared
    with :func:`domain_stats`' single-scan rollup."""
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, "HTTP").otherwise("https")
    return F.concat(
        scheme,
        F.lit("://WWW."),
        F.upper("source"),
        (did % DOMAIN_MOD).cast("string"),
        F.lit(".Example.COM/p/"),
        (did % 3).cast("string"),
        F.lit("?utm_source=x&id="),
        (did % 5).cast("string"),
        F.lit("#frag"),
    )


def _domain_col(url: Column) -> Column:
    """Canonical host from a raw url column (the single-sourced
    extraction :func:`doc_domains` and :func:`domain_stats` share)."""
    return F.regexp_extract(normalize_url(url), r"^https?://([^/:?]+)", 1)


def doc_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, domain): canonical host per document, extracted from
    the NORMALIZED url (lowercased authority, ``www.`` stripped) —
    pure projection, no shuffle."""
    return synthesize_domain_urls(spark, sf_dir).select(
        "doc_id", _domain_col(F.col("url")).alias("domain")
    )


def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation rollup: document count, total whitespace
    tokens, mean composite quality, and the low-quality share — the
    aggregate a web pipeline ranks hosts by before any per-document
    filtering (domain-level signals catch spam farms whose individual
    pages pass).

    Scale shape: ONE corpus scan — domain, token count and composite
    quality are all row-local projections of the same documents row,
    so they compute in a single select feeding ONE map-side-combined
    groupBy on the domain string (this used to be three separate
    corpus scans joined twice on doc_id: two corpus-sized shuffle
    joins that bought nothing — identical rows, same expressions).
    Output is domain-cardinality — metadata-sized, broadcastable
    downstream."""
    from udacity_dsnd_projects_spark.functions.text import (
        quality_score_expr,
        tokens_col,
    )

    return (
        load_table(spark, "documents", sf_dir)
        .select(
            _domain_col(_domain_url_col()).alias("domain"),
            F.size(tokens_col(F.col("text"))).cast("long").alias("n_tok"),
            quality_score_expr(F.col("text")).alias("quality"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("quality"), 5).alias("avg_quality"),
            F.sum(F.when(F.col("quality") < 0.5, 1).otherwise(0)).alias(
                "n_low_quality"
            ),
        )
    )


def domain_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality gate: keep documents whose DOMAIN's mean
    quality clears :data:`DOMAIN_MIN_AVG_QUALITY` — the survivors
    frame a curation pipeline feeds into per-document filtering next.

    Scale shape: the stats frame is domain-cardinality (metadata), so
    the good-domain list BROADCASTS onto a second corpus-scan join —
    the corpus itself never shuffles."""
    good = domain_stats(spark, sf_dir).filter(
        F.col("avg_quality") >= DOMAIN_MIN_AVG_QUALITY
    )
    return doc_domains(spark, sf_dir).join(
        F.broadcast(good.select("domain", "avg_quality")), "domain"
    ).select("doc_id", "domain", "avg_quality")


#: doc→domain mapping, derived independently of the Spark regex chain
#: (stronger check: the oracle asserts the normalize chain lands on
#: exactly source||residue||'.example.com').
_ORACLE_DOMAINS = f"""
  SELECT doc_id,
         source || CAST(doc_id % {DOMAIN_MOD} AS VARCHAR) || '.example.com'
           AS domain
  FROM documents
"""

_ORACLE_DOMAIN_STATS = """
  SELECT d.domain, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(lower(trim(doc.text)), '\\s+')))
              AS BIGINT) AS total_tokens,
         ROUND(AVG(q.quality), 5) AS avg_quality,
         CAST(SUM(CASE WHEN q.quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low_quality
  FROM dom d
  JOIN documents doc ON d.doc_id = doc.doc_id
  JOIN qual q ON d.doc_id = q.doc_id
  GROUP BY d.domain
"""


def _oracle_domain_stats() -> str:
    from udacity_dsnd_projects_spark.functions.text import ORACLE_QUALITY_SCORE

    return f"""
WITH dom AS ({_ORACLE_DOMAINS}),
qual AS (SELECT doc_id, quality FROM ({ORACLE_QUALITY_SCORE}) zq)
{_ORACLE_DOMAIN_STATS}
"""


ORACLE_DOMAIN_STATS = _oracle_domain_stats()


def _oracle_domain_quality_filter() -> str:
    from udacity_dsnd_projects_spark.functions.text import ORACLE_QUALITY_SCORE

    return f"""
WITH dom AS ({_ORACLE_DOMAINS}),
qual AS (SELECT doc_id, quality FROM ({ORACLE_QUALITY_SCORE}) zq),
stats AS ({_ORACLE_DOMAIN_STATS})
SELECT d.doc_id, d.domain, s.avg_quality
FROM dom d JOIN stats s ON d.domain = s.domain
WHERE s.avg_quality >= {DOMAIN_MIN_AVG_QUALITY}
"""


ORACLE_DOMAIN_QUALITY_FILTER = _oracle_domain_quality_filter()


_ORACLE_RAW_URL = """
  CASE WHEN doc_id % 4 = 2 THEN 'https'
       WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
  || '://WWW.Example.COM'
  || CASE WHEN doc_id % 4 = 0 THEN ':80'
          WHEN doc_id % 4 = 1 THEN ':8080'
          WHEN doc_id % 4 = 2 THEN ':443' ELSE '' END
  || '/docs/' || CAST(doc_id % 3 AS VARCHAR)
  || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
  || '?'
  || CASE WHEN doc_id % 6 = 0 THEN ''
          ELSE 'id=' || CAST(doc_id % 5 AS VARCHAR) || '&' END
  || 'utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
  || '&ref=rss#sec' || CAST(doc_id % 4 AS VARCHAR)
"""

#: The same normalization chain in DuckDB RE2 (\\1 backrefs, explicit
#: 'g' flag — DuckDB replaces only the first match by default).
_ORACLE_CANON = rf"""
  regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        lower(regexp_extract(u, '^[^/]*//[^/]*'))
          || regexp_replace(u, '^[^/]*//[^/]*', ''),
        '^(https?://)www\.', '\1'),
      '^(http://[^/:?]+):80([/?].*)?$', '\1\2'),
    '^(https://[^/:?]+):443([/?].*)?$', '\1\2'),
    '&(?:{TRACKING_PARAMS})=[^&]*', '', 'g'),
    '\?(?:{TRACKING_PARAMS})=[^&]*&', '?'),
    '\?(?:{TRACKING_PARAMS})=[^&]*$', ''),
  '/\?', '?'), '/$', '')
"""

ORACLE_URL_NORMALIZE = rf"""
WITH raw AS (
  SELECT doc_id, {_ORACLE_RAW_URL} AS url FROM documents
), defrag AS (
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM raw
)
SELECT doc_id, url,
       regexp_replace({_ORACLE_CANON}, '\?$', '') AS canon_url
FROM defrag
"""

ORACLE_URL_DEDUP = rf"""
WITH raw AS (
  SELECT doc_id, {_ORACLE_RAW_URL} AS url FROM documents
), defrag AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
), canon AS (
  SELECT doc_id, regexp_replace({_ORACLE_CANON}, '\?$', '') AS canon_url
  FROM defrag
)
SELECT canon_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM canon GROUP BY canon_url
"""


# --------------------------------------------------------------------------
# Markup density (round-11 addition): the raw-crawl cleanliness gate
# --------------------------------------------------------------------------

#: Markup patterns — lookaround-free so the SAME expressions run under
#: Java regex (Spark) and RE2 (DuckDB). Tag = anything angle-bracketed;
#: markdown = bold spans, inline links, or heading markers; entity =
#: named or numeric HTML escapes. The markdown alternation is composed
#: from its three components so the strip face (capture-group variants
#: of the SAME components) can never drift from the report.
RE_HTML_TAG = r"<[^>]+>"
RE_MD_BOLD = r"\*\*[^*]+\*\*"
RE_MD_LINK = r"\[[^\]]+\]\([^ )]+\)"
RE_MD_HEAD = r"(?:^|\s)#{1,6}\s"
RE_MARKDOWN = f"{RE_MD_BOLD}|{RE_MD_LINK}|{RE_MD_HEAD}"
RE_ENTITY = r"&[a-z]+;|&#[0-9]+;"

#: Capture-group variants for the strip face: bold/link keep their
#: CONTENT (the human-visible text), headings keep the leading
#: whitespace; tags and entities strip to nothing. Built from the same
#: component patterns as the report's alternation.
RE_MD_BOLD_STRIP = r"\*\*([^*]+)\*\*"
RE_MD_LINK_STRIP = r"\[([^\]]+)\]\([^ )]+\)"
RE_MD_HEAD_STRIP = r"(^|\s)#{1,6}\s"


def _with_planted_markup(docs: DataFrame) -> DataFrame:
    """The synthetic corpus is clean text, so — exactly like
    ``pii_prevalence_report``'s planted PII — deterministic markup
    snippets are appended on doc_id-modulus subsets (html % 4,
    markdown % 6, entities % 9; mirrored in the oracle) so density
    varies across sources instead of being identically zero."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                did % 4 == 0, F.lit(' <div class="x">span</div> <br/>')
            ).otherwise(F.lit("")),
            F.when(
                did % 6 == 0, F.lit(" ## head **bold** [link](http://x)")
            ).otherwise(F.lit("")),
            F.when(did % 9 == 0, F.lit(" &amp; &#39;")).otherwise(F.lit("")),
        ).alias("text"),
    )


def markup_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-markup contamination gate — the C4/CCNet "is this actually
    extracted text?" readout a crawl pipeline runs BEFORE the quality
    models: per source, how much HTML/markdown/entity residue the
    extraction left behind. A source with high tag density has a
    broken extractor (fix the SOURCE);
    per-doc thresholds come after. One row per source: (source,
    n_docs, html_docs, md_docs, entity_docs, n_tags,
    tags_per_100_docs, markup_doc_share).

    Scale shape: one pruned documents scan (doc_id/source/text);
    per-doc `regexp_count`s fold map-side into a source-cardinality
    frame — nothing text-sized crosses an exchange, no UDF."""
    d = _with_planted_markup(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "source", "text"
        )
    )
    tags = F.regexp_count(F.col("text"), F.lit(RE_HTML_TAG))
    md = F.regexp_count(F.col("text"), F.lit(RE_MARKDOWN))
    ent = F.regexp_count(F.col("text"), F.lit(RE_ENTITY))
    per = d.select(
        "source",
        tags.alias("n_tags"),
        (tags > 0).cast("int").alias("has_html"),
        (md > 0).cast("int").alias("has_md"),
        (ent > 0).cast("int").alias("has_ent"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_html").alias("html_docs"),
            F.sum("has_md").alias("md_docs"),
            F.sum("has_ent").alias("entity_docs"),
            F.sum("n_tags").alias("n_tags"),
            F.sum(
                F.greatest(
                    "has_html", "has_md", "has_ent"
                )
            ).alias("markup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "html_docs",
            "md_docs",
            "entity_docs",
            "n_tags",
            F.round(F.col("n_tags") * 100.0 / F.col("n_docs"), 5).alias(
                "tags_per_100_docs"
            ),
            F.round(F.col("markup_docs") / F.col("n_docs"), 6).alias(
                "markup_doc_share"
            ),
        )
    )


_ORACLE_PLANTED_MARKUP = """
  text
  || CASE WHEN doc_id % 4 = 0
          THEN ' <div class="x">span</div> <br/>' ELSE '' END
  || CASE WHEN doc_id % 6 = 0
          THEN ' ## head **bold** [link](http://x)' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN ' &amp; &#39;' ELSE '' END
"""

ORACLE_MARKUP_DENSITY_REPORT = rf"""
WITH d AS (
  SELECT doc_id, source, {_ORACLE_PLANTED_MARKUP} AS text FROM documents
), per AS (
  SELECT source,
         len(regexp_extract_all(text, '{RE_HTML_TAG}')) AS n_tags,
         CASE WHEN len(regexp_extract_all(text, '{RE_HTML_TAG}')) > 0
              THEN 1 ELSE 0 END AS has_html,
         CASE WHEN len(regexp_extract_all(text, '{RE_MARKDOWN}')) > 0
              THEN 1 ELSE 0 END AS has_md,
         CASE WHEN len(regexp_extract_all(text, '{RE_ENTITY}')) > 0
              THEN 1 ELSE 0 END AS has_ent
  FROM d
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(has_html) AS BIGINT) AS html_docs,
       CAST(SUM(has_md) AS BIGINT) AS md_docs,
       CAST(SUM(has_ent) AS BIGINT) AS entity_docs,
       CAST(SUM(n_tags) AS BIGINT) AS n_tags,
       ROUND(SUM(n_tags) * 100.0 / COUNT(*), 5) AS tags_per_100_docs,
       ROUND(SUM(GREATEST(has_html, has_md, has_ent)) * 1.0 / COUNT(*), 6)
         AS markup_doc_share
FROM per GROUP BY source
"""


def _strip_markup(text: Column) -> Column:
    """The markup-removal chain, in the DECLARED order tags → bold →
    links → headings → entities: tags and entities strip to nothing
    (non-content), bold and links keep their visible text, headings
    keep their leading whitespace. Exactly mirrored in the oracle
    (same component patterns, same order — only the backreference
    syntax differs, Java ``$1`` vs RE2 ``\\1``); no whitespace
    re-normalization afterwards, so the strip removes PRECISELY the
    matched spans and nothing else (clean docs round-trip
    bit-for-bit)."""
    clean = F.regexp_replace(text, RE_HTML_TAG, "")
    clean = F.regexp_replace(clean, RE_MD_BOLD_STRIP, "$1")
    clean = F.regexp_replace(clean, RE_MD_LINK_STRIP, "$1")
    clean = F.regexp_replace(clean, RE_MD_HEAD_STRIP, "$1")
    return F.regexp_replace(clean, RE_ENTITY, "")


def markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION face of :func:`markup_density_report` — the same
    report→action split as ``passage_dedup`` → ``boilerplate_strip``
    and ``k_anonymity_report`` → ``k_anonymize_release``: remove the
    HTML/markdown/entity residue the report diagnoses, using the SAME
    ``RE_*`` component constants so report and action can never
    disagree about what counts as markup. One row per document:
    (doc_id, source, n_tags, n_md_spans, n_entities, clean_len,
    n_residue, clean_md5) — the before-counts, the cleaned length, a
    recount of all three pattern families ON the cleaned text (the
    self-check that the gate closed), and the md5 of the cleaned
    payload so the oracle verifies it bit-for-bit (the ``clean_md5``
    pattern of ``boilerplate_strip``).

    Scale shape: one pruned documents scan; the whole strip-and-count
    is a per-row JVM projection (regexp_replace/regexp_count inside
    whole-stage codegen) — no shuffle, no UDF, nothing text-sized
    crosses an exchange."""
    d = _with_planted_markup(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "source", "text"
        )
    )
    text = F.col("text")
    clean = _strip_markup(text)
    residue = (
        F.regexp_count(clean, F.lit(RE_HTML_TAG))
        + F.regexp_count(clean, F.lit(RE_MARKDOWN))
        + F.regexp_count(clean, F.lit(RE_ENTITY))
    )
    return d.select(
        "doc_id",
        "source",
        F.regexp_count(text, F.lit(RE_HTML_TAG)).cast("long").alias("n_tags"),
        F.regexp_count(text, F.lit(RE_MARKDOWN))
        .cast("long")
        .alias("n_md_spans"),
        F.regexp_count(text, F.lit(RE_ENTITY))
        .cast("long")
        .alias("n_entities"),
        F.length(clean).cast("long").alias("clean_len"),
        residue.cast("long").alias("n_residue"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )


_ORACLE_CLEAN = rf"""
regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  text, '{RE_HTML_TAG}', '', 'g'),
  '{RE_MD_BOLD_STRIP}', '\1', 'g'),
  '{RE_MD_LINK_STRIP}', '\1', 'g'),
  '{RE_MD_HEAD_STRIP}', '\1', 'g'),
  '{RE_ENTITY}', '', 'g')
"""

ORACLE_MARKUP_STRIP = rf"""
WITH d AS (
  SELECT doc_id, source, {_ORACLE_PLANTED_MARKUP} AS text FROM documents
), c AS (
  SELECT doc_id, source, text, {_ORACLE_CLEAN} AS clean FROM d
)
SELECT doc_id, source,
       CAST(len(regexp_extract_all(text, '{RE_HTML_TAG}')) AS BIGINT)
         AS n_tags,
       CAST(len(regexp_extract_all(text, '{RE_MARKDOWN}')) AS BIGINT)
         AS n_md_spans,
       CAST(len(regexp_extract_all(text, '{RE_ENTITY}')) AS BIGINT)
         AS n_entities,
       CAST(len(clean) AS BIGINT) AS clean_len,
       CAST(len(regexp_extract_all(clean, '{RE_HTML_TAG}'))
            + len(regexp_extract_all(clean, '{RE_MARKDOWN}'))
            + len(regexp_extract_all(clean, '{RE_ENTITY}')) AS BIGINT)
         AS n_residue,
       md5(clean) AS clean_md5
FROM c
"""
