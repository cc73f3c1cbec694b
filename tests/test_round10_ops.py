"""Round-10 additions: the driver-visible observe-metrics face, the
privacy and contamination gates, and the registry's degenerate-input
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_t_closeness_single_band_domain_keeps_every_group(spark):
    """Same degenerate contract for the privacy-gate twin: a sensitive
    domain that collapses to ONE balance band (m = 1) means every QI
    group matches the global distribution exactly — the report must
    count all rows and groups with t_max 0, not aggregate an empty
    frame into NULLs."""
    import tempfile

    from udacity_dsnd_projects_spark.functions.pipeline import (
        t_closeness_report,
    )

    # constant acctbal → a single band for the whole table
    rows = [(i, i % 3, ["AUTO", "HOME"][i % 2], 1500.0) for i in range(12)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "c_custkey long, c_nationkey long, c_mktsegment string, "
            "c_acctbal double",
        ).write.parquet(f"{d}/customer.parquet")
        row = t_closeness_report(spark, d).collect()[0]
    assert row["n_rows"] == 12
    assert row["n_groups"] == 6
    assert row["t_max"] == 0.0
    assert row["groups_t_gt"] == 0 and row["rows_t_gt"] == 0
    assert row["pct_rows_t_gt"] == 0.0


# --- guard_metrics_report ---------------------------------------------------


def test_guard_metrics_report_equals_direct_aggregation(spark, sf_dir):
    """The one-row observed-counters frame must equal the same
    aggregates computed directly — the in-pass measurement adds no
    scan and loses no rows."""
    from udacity_dsnd_projects_spark.metrics import guard_metrics_report
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    got = guard_metrics_report(spark, sf_dir).collect()[0].asDict()
    want = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("text").isNull()).alias("null_text"),
        F.count_if(F.col("lang").isNull()).alias("null_lang"),
        F.count_if(F.col("source").isNull()).alias("null_source"),
        F.count_if(F.length("text") == 0).alias("bad_empty_text"),
        F.count_if(F.length("text") != F.col("n_chars")).alias(
            "bad_len_mismatch"
        ),
        F.count_if(F.col("n_chars") <= 0).alias("bad_nonpos_chars"),
    ).collect()[0].asDict()
    assert got == want
    assert got["n_rows"] > 0


# --- winnowing_fingerprints -------------------------------------------------


def test_winnowing_guarantee_and_density(spark):
    """The two properties that make winnowing THE substring
    fingerprint (Schleimer et al. 2003): (1) detection — two documents
    sharing a token run of at least window + k - 1 tokens share at
    least one fingerprint, even when the run sits at different
    positions inside otherwise-disjoint text; (2) sparsity — a
    document keeps far fewer fingerprints than its gram count (the
    expected density is 2/(w+1)). Also pins that sub-window docs emit
    nothing."""
    import tempfile

    from udacity_dsnd_projects_spark.functions.dedup import (
        WINNOW_WINDOW,
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = 3 + w - 1 tokens
    doc_a = "one two three four five " + shared + " six seven eight nine"
    doc_b = "red orange yellow green blue " + shared + " indigo violet pink"
    rows = [
        (0, doc_a, "en", "s", len(doc_a)),
        (1, doc_b, "en", "s", len(doc_b)),
        (2, "too short here", "en", "s", 14),  # < one window: no output
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        got = winnowing_fingerprints(spark, d).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 2 not in by_doc
    assert by_doc[0] & by_doc[1], "shared >= w+k-1 run must share a fingerprint"
    for doc, text in ((0, doc_a), (1, doc_b)):
        n_grams = len(text.split()) - 2
        assert len(by_doc[doc]) < n_grams  # winnowed, not the full set
        assert len(by_doc[doc]) >= n_grams // (WINNOW_WINDOW + 1)


def test_winnowing_overlap_catches_full_containment(spark):
    """The wrap case the match stage exists for: when one document's
    token stream is a contiguous subsequence of another's, every
    window of the smaller is a window of the larger, so every
    fingerprint of the smaller appears in the larger — overlap
    (containment of the smaller set) is exactly 1.0. An unrelated
    document must pair with neither."""
    import tempfile

    from udacity_dsnd_projects_spark.functions.dedup import (
        winnowing_overlap_pairs,
    )

    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrapped = "intro words here " + inner + " and outro words here"
    other = "completely different content about weather patterns in small towns"
    rows = [
        (0, inner, "en", "s", len(inner)),
        (1, wrapped, "en", "s", len(wrapped)),
        (2, other, "en", "s", len(other)),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            (r["doc_a"], r["doc_b"]): r["overlap"]
            for r in winnowing_overlap_pairs(spark, d).collect()
        }
    assert got == {(0, 1): 1.0}


# --- semantic_contamination -------------------------------------------------


def test_semantic_contamination_flag_is_scale_relative(spark, sf_dir):
    """The contamination flag must be exactly (top-1 cosine ≥ 2× the
    corpus mean top-1 cosine) with the DECIMAL no-division compare, a
    benchmark vector never appears on the corpus side, and the gate is
    a real screen at test scale: some vectors fire, most don't."""
    from decimal import Decimal

    from udacity_dsnd_projects_spark.functions.similarity import (
        SEM_BENCH_MOD,
        semantic_contamination,
    )

    rows = semantic_contamination(spark, sf_dir).collect()
    assert all(r["vec_id"] % SEM_BENCH_MOD != 0 for r in rows)
    assert all(r["bench_id"] % SEM_BENCH_MOD == 0 for r in rows)
    tot = sum(Decimal(str(r["cosine"])) for r in rows)
    n = len(rows)
    for r in rows:
        want = int(Decimal(str(r["cosine"])) * n >= 2 * tot)
        assert r["contaminated"] == want, r
    flagged = sum(r["contaminated"] for r in rows)
    assert 0 < flagged < n / 2


def test_embedding_health_report_counts_injected_defects(spark):
    """The synthetic corpus is clean, so the driver-facing query only
    proves the zero-defect face; this pins the defect paths on an
    injected frame: a NULL embedding, a NaN component, an Inf
    component, a zero vector, and a ragged (3-dim among 2-dim) vector —
    each counted in exactly one bucket, norm stats excluding exactly
    the rows whose norm is undefined/contagious, and ``healthy`` False
    everywhere it should be."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        health_rollup,
    )

    rows = [
        (0, [3.0, 4.0]),        # clean, norm 5
        (0, [0.6, 0.8]),        # clean, norm 1
        (0, None),              # null
        (1, [float("nan"), 1.0]),   # non-finite
        (1, [float("inf"), 1.0]),   # non-finite
        (1, [0.0, 0.0]),        # zero norm
        (2, [1.0, 0.0, 0.0]),   # ragged dim (3 vs 2) but clean norm
        (2, [1.0, 0.0]),        # clean
    ]
    emb = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {
        r["scope"]: r.asDict() for r in health_rollup(emb).collect()
    }
    assert set(out) == {"0", "1", "2", "ALL"}

    r0 = out["0"]
    assert (r0["n_vectors"], r0["n_null"], r0["n_nonfinite"]) == (3, 1, 0)
    assert (r0["norm_min"], r0["norm_avg"], r0["norm_max"]) == (1.0, 3.0, 5.0)
    assert r0["n_dims"] == 1 and not r0["healthy"]  # the null breaks it

    r1 = out["1"]
    assert (r1["n_nonfinite"], r1["n_zero_norm"]) == (2, 1)
    # non-finite vectors are excluded from norm stats (contagious NaN)
    # but their length still counts toward dim consistency — dims are
    # measured on all non-null rows
    assert (r1["norm_min"], r1["norm_max"]) == (0.0, 0.0)
    assert r1["n_dims"] == 1 and not r1["healthy"]

    r2 = out["2"]
    assert (r2["n_dims"], r2["dim_min"], r2["dim_max"]) == (2, 2, 3)
    assert not r2["healthy"]  # ragged dimension alone fails the gate
    assert (r2["n_null"], r2["n_nonfinite"], r2["n_zero_norm"]) == (0, 0, 0)

    tot = out["ALL"]
    assert tot["n_vectors"] == 8
    assert (tot["n_null"], tot["n_nonfinite"], tot["n_zero_norm"]) == (1, 2, 1)
    assert (tot["n_dims"], tot["dim_min"], tot["dim_max"]) == (2, 2, 3)
    assert not tot["healthy"]


def test_embedding_health_report_scans_corpus_once(spark, sf_dir):
    """rollup() derives the ALL row from the same map-side partials as
    the per-label rows — the plan must contain exactly ONE parquet scan
    of embeddings and Expand-based grouping, not a self-union."""
    from udacity_dsnd_projects_spark import registry

    plan = registry.queries()["embedding_health_report"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_shard_balance_report_is_consistent_with_shard_assign(spark, sf_dir):
    """The report fuses the token payload into the same global-rank
    scan shard_assign runs — the per-shard doc counts must therefore
    equal a direct rollup of shard_assign's output, doc counts must be
    balanced to ±1 (round-robin), token shares must sum to 1 and skew
    ratios must average to 1 by construction."""
    from udacity_dsnd_projects_spark import registry
    from udacity_dsnd_projects_spark.functions.pipeline import shard_assign

    rows = (
        registry.queries()["shard_balance_report"](spark, sf_dir)
        .orderBy("shard")
        .collect()
    )
    direct = {
        r["shard"]: r["n"]
        for r in shard_assign(spark, sf_dir)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["shard"]: r["n_docs"] for r in rows} == direct
    n_docs = [r["n_docs"] for r in rows]
    assert max(n_docs) - min(n_docs) <= 1
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    ratios = [r["token_skew_ratio"] for r in rows]
    assert abs(sum(ratios) / len(ratios) - 1.0) < 1e-4
    assert all(r["max_doc_tokens"] <= r["n_tokens"] for r in rows)


def test_shard_balance_report_scans_documents_once(spark, sf_dir):
    """The token/char payload rides the rank scan, and the N_SHARDS-row
    per-shard frame is eagerly checkpointed before its two consumers
    (the totals aggregate and the final select) — so the RETURNED
    frame's plan re-reads only the checkpointed rollup and never the
    documents parquet: zero FileScans."""
    from udacity_dsnd_projects_spark import registry

    plan = registry.queries()["shard_balance_report"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan


# --- exact rank primitive: property equivalence to window functions --------


from hypothesis import given, settings, strategies as st  # noqa: E402
from pyspark.sql import Window  # noqa: E402

_RANK_ROWS = st.lists(
    st.tuples(
        st.sampled_from([0, 1, 2, None]),  # group key, incl. NULL group
        st.integers(min_value=0, max_value=5),  # order value: heavy ties
        st.integers(min_value=0, max_value=9),  # cumsum payload
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@given(_RANK_ROWS, st.booleans())
@settings(max_examples=8, deadline=None)
def test_exact_rank_primitives_property_equal_windows(spark, rows, descending):
    """Property: on arbitrary tie-heavy, skew-heavy, NULL-group inputs
    the range-bucketed rank/cumsum primitives equal the plain window
    functions they replace — the whole point of the bucket-and-offset
    shape is that quantile skew can unbalance buckets but NEVER
    reorder rows. n_buckets=4 on <=25 rows forces rows of one group to
    straddle bucket boundaries, exercising the broadcast offset
    join-back; the NULL group exercises the null-safe join path."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_cumsum,
        exact_group_rank,
    )

    df = spark.createDataFrame(
        [(i, g, v, p) for i, (g, v, p) in enumerate(rows)],
        "id long, g long, v long, p long",
    )
    order = F.col("v").desc() if descending else F.col("v").asc()
    w = Window.partitionBy("g").orderBy(order, F.col("id"))
    want = df.withColumn("rk", F.row_number().over(w))
    got = exact_group_rank(
        df, ["g"], "v", ["id"], descending=descending, n_buckets=4
    )
    cols = ["id", "g", "v", "p", "rk"]
    assert sorted(map(str, got.select(*cols).collect())) == sorted(
        map(str, want.select(*cols).collect())
    )

    if not descending:  # cumsum has ascending-order semantics only
        wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        want_c = df.withColumn("cs", F.sum("p").over(wc))
        got_c = exact_group_cumsum(
            df, ["g"], "v", ["id"], "p", n_buckets=4, cumsum_col="cs"
        )
        cols_c = ["id", "g", "v", "p", "cs"]
        assert sorted(
            map(str, got_c.select(*cols_c).collect())
        ) == sorted(map(str, want_c.select(*cols_c).collect()))


# --- pii_prevalence_report --------------------------------------------------


def test_pii_prevalence_exact_plant_counts(spark):
    """On a PII-free corpus the report must count exactly the planted
    snippets: 21 docs in one stratum plant emails on doc_id % 3 (7),
    URLs on % 5 (5), phones on % 7 (3); the union covers 12 docs."""
    import tempfile

    from udacity_dsnd_projects_spark.functions.pipeline import (
        pii_prevalence_report,
    )

    text = "plain clean words with no contact details at all"
    rows = [(i, text, "en", "webA", len(text)) for i in range(21)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        r = pii_prevalence_report(spark, d).collect()[0]
    assert r["n_docs"] == 21
    assert r["docs_email"] == 7 and r["n_emails"] == 7
    assert r["docs_url"] == 5 and r["n_urls"] == 5
    assert r["docs_phone"] == 3 and r["n_phones"] == 3
    assert r["docs_any_pii"] == 12
    assert r["pii_doc_share"] == pytest.approx(12 / 21, abs=1e-6)


def test_pii_prevalence_internal_consistency(spark, sf_dir):
    """Stratum-cover and ordering invariants on the real corpus: every
    (lang, source) appears once, doc counts add back up, per-type doc
    counts never exceed occurrence counts or the any-PII cover, and
    the share is exactly the rounded ratio."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        pii_prevalence_report,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    rows = pii_prevalence_report(spark, sf_dir).collect()
    want = {
        (r["lang"], r["source"])
        for r in docs.select("lang", "source").distinct().collect()
    }
    assert {(r["lang"], r["source"]) for r in rows} == want
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        for t in ("email", "url", "phone"):
            assert r[f"docs_{t}"] <= r[f"n_{t}s"]
            assert r[f"docs_{t}"] <= r["docs_any_pii"]
        assert r["docs_any_pii"] <= r["n_docs"]
        assert r["pii_doc_share"] == pytest.approx(
            round(r["docs_any_pii"] / r["n_docs"], 6), abs=1e-9
        )


def test_pii_prevalence_single_pruned_scan(spark, sf_dir):
    """One documents scan, reading ONLY the four columns the report
    needs (doc_id for the deterministic plants, text for the counts,
    lang/source for the strata) — n_chars must be pruned away."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        pii_prevalence_report,
    )

    plan = (
        pii_prevalence_report(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
    read_schema = plan.split("ReadSchema")[-1]
    assert "n_chars" not in read_schema
    for col in ("doc_id", "lang", "source", "text"):
        assert col in read_schema


# --- empty-input degradation: the centroid/embedding family ----------------


@pytest.mark.slow
def test_centroid_family_degrades_cleanly_on_empty_tables(spark):
    """An empty shard is a routine state at scale (first incremental
    batch, a gate that dropped everything) — the centroid family used
    to fail ANALYSIS there: F.array() over zero collected centroids is
    VOID-typed, so field extraction threw, and the pandas cosine face
    crashed on a 1-D empty query matrix. Pin the contract: every
    member of the family returns an EMPTY, correctly-typed frame on
    empty documents/embeddings tables."""
    import tempfile

    from udacity_dsnd_projects_spark import registry

    family = [
        "kmeans_assign",
        "cluster_quality",
        "knn_graph",
        "semantic_dedup",
        "knn_label_agreement",
        "ivf_index_upsert",
        "ivf_staleness_report",
        "cosine_scores_pandas",
    ]
    qs = registry.queries()
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")
        for name in family:
            df = qs[name](spark, d)
            assert df.collect() == [], name
            assert len(df.schema.fields) > 0, name


def test_nearest_with_no_centroids_is_typed_null(spark):
    """_nearest([]) must stay analyzable: a typed NULL struct whose
    dist/cluster fields extract to NULLs (unassigned), never a
    VOID-typed empty array_min."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        assign_to_centroids,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    rows = assign_to_centroids(emb, []).collect()
    assert len(rows) == 1
    assert rows[0]["cluster"] is None and rows[0]["dist"] is None


@pytest.mark.slow
@pytest.mark.parametrize("n_rows", [0, 1])
def test_every_registry_query_survives_a_degenerate_warehouse(
    spark, sf_dir, n_rows
):
    """Registry-wide degenerate-input armor: every registered query
    must build AND execute against a warehouse where all ten tables
    exist but hold zero rows (the state a 100 TB pipeline hits
    whenever a filter gate, a new shard, or a fresh incremental run
    produces nothing) or exactly one row (the all-identical /
    no-matching-join-partner / zero-denominator class — how a
    divide-by-zero in a funnel query and the m==1 EMD bug were
    found). No exceptions allowed; results are empty or degenerate but
    always well-typed. Future operators get both checks for free."""
    import tempfile

    from udacity_dsnd_projects_spark import registry

    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    with tempfile.TemporaryDirectory() as d:
        for t in tables:
            src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            if n_rows == 0:
                spark.createDataFrame([], src.schema).write.parquet(
                    f"{d}/{t}.parquet"
                )
            else:
                src.limit(n_rows).write.parquet(f"{d}/{t}.parquet")
        failures = []
        for name, fn in registry.queries().items():
            try:
                fn(spark, d).collect()
            except Exception as ex:  # noqa: BLE001 — collecting all
                failures.append((name, str(ex).split("\n")[0][:120]))
        assert not failures, failures


@pytest.mark.slow
def test_gate_operators_survive_defective_payloads(spark):
    """The engine's input contract is GATE-FIRST: analytic operators
    (cosine/ANN/packing/curriculum) assume payloads already passed the
    ingest gates, and loudly refuse NULL or zero-norm garbage rather
    than silently skipping it (ANSI divide-by-zero on a zero-norm
    cosine is a data defect surfacing, not an engine bug). What MUST
    therefore never crash on defective payloads are the gates
    themselves — the operators whose job is to count the defects so
    the pipeline can filter before indexing. Pin that on a corpus
    with NULL text/lang/source, NULL and non-finite and zero-norm
    embeddings, and NULL labels, every gate runs and the health gate
    counts the planted defects."""
    import tempfile

    from udacity_dsnd_projects_spark import registry

    gates = [
        "embedding_health_report",
        "guard_metrics_report",
        "quality_score",
        "language_id",
        "token_stats",
        "gopher_quality_filter",
        "pii_prevalence_report",
        "exact_dedup",
        # cleaning/ingest primitives run BEFORE the guards, so they
        # must propagate NULL payloads instead of crashing the worker
        "nfc_normalize",
    ]
    docs = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "webA", 43),
        (1, None, "en", "webA", 0),
        (2, "plain clean words here", None, "webB", 22),
        (3, "more ordinary text content", "de", None, 26),
        (4, None, None, None, None),
    ]
    embs = [
        (0, [0.1, 0.2, 0.3], 0),
        (1, None, 1),
        (2, [0.0, 0.0, 0.0], None),  # zero norm
        (3, [0.5, None, 0.1], 2),  # ragged payload (NULL component)
        (4, [float("nan"), 1.0, 2.0], 0),  # non-finite
    ]
    qs = registry.queries()
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        spark.createDataFrame(
            embs, "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")
        results = {}
        for name in gates:
            results[name] = qs[name](spark, d).collect()  # must not raise
    # every gate produced a frame; the health gate saw the vectors
    # (its per-class defect counting is pinned separately in
    # test_embedding_health_report_counts_injected_defects)
    assert all(r is not None for r in results.values())
    assert len(results["embedding_health_report"]) >= 1
    assert len(results["guard_metrics_report"]) == 1
