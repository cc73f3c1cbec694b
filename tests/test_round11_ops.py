"""Round-11 tests: the layout-aware dedup-substrate spread (VERDICT
r10 task 2), the injectable-benchmark contamination faces (task 3),
the winnowing action face (task 5), and state-schema versioning for
the stateful streaming faces (task 7)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import dedup as d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _corpus(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} tail {i % 7}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# --------------------------------------------------------------------------
# Task 2 — layout-aware spread: the text-sized repartition must fire in
# the few-splits regime and vanish in the many-splits regime, with
# bit-identical results either way.
# --------------------------------------------------------------------------


def test_spread_fires_on_underparallel_layout(spark):
    docs = _corpus(spark).coalesce(1)  # the few-large-files regime
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        plan = _plan(substrate(docs))
        spreads = re.findall(r"Exchange hashpartitioning\(doc_id#\d+", plan)
        assert len(spreads) == 1, (substrate.__name__, plan)


def test_spread_skipped_on_parallel_layout(spark):
    n = spark.sparkContext.defaultParallelism
    docs = _corpus(spark).repartition(n + 8)  # the many-splits regime
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        plan = _plan(substrate(docs))
        assert not re.search(r"Exchange hashpartitioning\(doc_id#\d+", plan), (
            substrate.__name__,
            plan,
        )


def test_spread_regimes_bit_identical(spark):
    few = _corpus(spark).coalesce(1)
    many = _corpus(spark).repartition(spark.sparkContext.defaultParallelism + 8)
    for substrate in (d._shingled_docs, d._winnow_fp_arrays):
        a = {
            tuple(r)
            for r in substrate(few)
            .select("doc_id", F.to_json(F.struct("*")).alias("j"))
            .collect()
        }
        b = {
            tuple(r)
            for r in substrate(many)
            .select("doc_id", F.to_json(F.struct("*")).alias("j"))
            .collect()
        }
        assert a == b, substrate.__name__


# --------------------------------------------------------------------------
# Task 3 — injectable-benchmark contamination faces: the registry
# queries keep the % mod instantiation; a real eval table goes through
# the *_against faces.
# --------------------------------------------------------------------------


def test_ngram_contamination_against_crafted_benchmark(spark):
    from udacity_dsnd_projects_spark.functions.pipeline import (
        ngram_contamination_against,
    )

    leaked = "the exact eval question about spark shuffles appears verbatim here"
    corpus = spark.createDataFrame(
        [
            (1, leaked),
            (2, "totally unrelated prose with no overlap at all whatsoever today"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(900, "prefix words then the exact eval question about spark shuffles")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in ngram_contamination_against(corpus, bench).collect()}
    assert set(rows) == {1}  # only the leaked doc is emitted
    assert rows[1].n_contaminated >= 1
    assert 0 < rows[1].contamination <= 1


def test_ngram_contamination_registry_face_unchanged(spark, sf_dir):
    """contamination_for == ngram_contamination_against(% mod split):
    the refactor may not move the registry face's results."""
    from udacity_dsnd_projects_spark.functions import pipeline as p
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    via_wrapper = {tuple(r) for r in p.contamination_for(docs).collect()}
    via_face = {
        tuple(r)
        for r in p.ngram_contamination_against(
            docs.filter(F.col("doc_id") % p.BENCH_MOD != 0),
            docs.filter(F.col("doc_id") % p.BENCH_MOD == 0),
        ).collect()
    }
    assert via_wrapper == via_face and via_wrapper


def test_semantic_contamination_against_crafted_benchmark(spark):
    from udacity_dsnd_projects_spark.functions.similarity import (
        semantic_contamination_against,
    )

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    near1 = [0.9, 0.1] + [0.0] * (dim - 2)
    corpus = spark.createDataFrame(
        [(1, near1), (2, e2), (3, [0.0, 0.1, 0.9] + [0.0] * (dim - 3))],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame([(100, e1)], ["bench_id", "embedding"])
    rows = {r.vec_id: r for r in semantic_contamination_against(corpus, bench).collect()}
    assert set(rows) == {1, 2, 3}  # report covers every corpus vector
    assert all(r.bench_id == 100 for r in rows.values())
    # vec 1 is ~aligned with the benchmark; 2 and 3 are ~orthogonal —
    # the scale-relative flag (>= 2x mean top-1 cosine) fires on 1 only
    assert rows[1].contaminated == 1
    assert rows[2].contaminated == 0 and rows[3].contaminated == 0


# --------------------------------------------------------------------------
# Task 5 — winnowing_strip: the MOSS action face (report→action split).
# --------------------------------------------------------------------------


def test_connected_components_survives_order_constraint(spark):
    """Regression pin for the Spark constraint-rewrite defect: a pair
    frame carrying an explicit doc_a < doc_b constraint (as
    winnowing_pairs_for's output does) used to crash the CC loop's
    localCheckpoint with NoSuchElementException: key not found."""
    from udacity_dsnd_projects_spark.functions.curation import (
        connected_components,
    )

    pairs = (
        spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
        .filter("doc_a < doc_b")
        .localCheckpoint(eager=True)
    )
    comp = {(r.doc_id, r.component) for r in connected_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    # and the conf mutation is restored on exit
    assert (
        spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    )


def test_winnowing_strip_keeps_best_quality_member(spark, sf_dir):
    """Every cluster keeps exactly one member; the keeper maximizes
    quality (ties to the smaller doc_id) among its members; keep_md5
    matches the keeper's raw text."""
    import hashlib

    from udacity_dsnd_projects_spark.functions.curation import (
        connected_components,
        winnowing_strip,
    )
    from udacity_dsnd_projects_spark.functions.dedup import winnowing_pairs_for
    from udacity_dsnd_projects_spark.functions.text import quality_score
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    out = {r.component: r for r in winnowing_strip(spark, sf_dir).collect()}
    assert out, "sf corpus must yield at least one overlap cluster"
    docs = load_table(spark, "documents", sf_dir)
    comp = {
        r.doc_id: r.component
        for r in connected_components(
            winnowing_pairs_for(docs).select("doc_a", "doc_b")
        ).collect()
    }
    q = {r.doc_id: r.quality for r in quality_score(spark, sf_dir).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(out) == set(comp.values())
    for c, row in out.items():
        members = [d for d, cc in comp.items() if cc == c]
        assert row.n_members == len(members)
        assert row.n_dropped == len(members) - 1
        best = max(members, key=lambda d: (q[d], -d))
        assert row.keep_doc_id == best
        assert row.keep_quality == q[best]
        assert (
            row.keep_md5
            == hashlib.md5(texts[best].encode("utf-8")).hexdigest()
        )


# --------------------------------------------------------------------------
# Task 7 — state-schema versioning: a restart from a checkpoint written
# by a different state-tuple layout must fail LOUDLY on the version
# stamp, never misdecode shifted fields.
# --------------------------------------------------------------------------


def test_stateful_state_version_bump_fails_loudly(
    spark, tmp_path_factory, monkeypatch
):
    import datetime as dt

    import pytest
    from pyspark.sql import types as T

    from udacity_dsnd_projects_spark.streaming import stateful as sf_mod
    from udacity_dsnd_projects_spark.streaming.sources import file_stream

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tmp_path_factory.mktemp("ver_bump")
    path, ckpt, sink = str(root / "events"), str(root / "ckpt"), str(root / "out")

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    def run(name):
        # parquet sink, not memory: the memory sink refuses checkpoint
        # recovery, and recovery is exactly what's under test
        q = (
            sf_mod.transition_stateful(file_stream(spark, path, schema, max_files_per_trigger=1))
            .writeStream.format("parquet")
            .queryName(name)
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(
        [(1, t(10), 1, "view"), (1, t(20), 2, "click")], schema
    ).coalesce(1).write.mode("append").parquet(path)
    run("ver_bump_v_current")  # persists state stamped with the live VER

    # new data for the same key, decoded by "upgraded" code with a
    # bumped state version
    spark.createDataFrame([(1, t(30), 3, "purchase")], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    monkeypatch.setattr(
        sf_mod, "TRANSITION_STATE_VER", sf_mod.TRANSITION_STATE_VER + 1
    )
    with pytest.raises(Exception, match="state-schema version mismatch"):
        run("ver_bump_v_next")


# --------------------------------------------------------------------------
# Round-11 new operators: markup gate + k-anonymized release.
# --------------------------------------------------------------------------


def test_markup_regexes_count_planted_snippets(spark):
    """Each planted snippet fires exactly its own regex family: the
    html snippet is 3 tags, the markdown snippet is 3 markers, the
    entity snippet is 2 escapes — and clean text fires none."""
    from udacity_dsnd_projects_spark.functions.web import (
        RE_ENTITY,
        RE_HTML_TAG,
        RE_MARKDOWN,
    )

    rows = spark.createDataFrame(
        [
            (1, ' <div class="x">span</div> <br/>'),
            (2, " ## head **bold** [link](http://x)"),
            (3, " &amp; &#39;"),
            (4, "perfectly clean prose with no markup at all"),
        ],
        ["doc_id", "text"],
    ).select(
        "doc_id",
        F.regexp_count("text", F.lit(RE_HTML_TAG)).alias("tags"),
        F.regexp_count("text", F.lit(RE_MARKDOWN)).alias("md"),
        F.regexp_count("text", F.lit(RE_ENTITY)).alias("ent"),
    )
    got = {r.doc_id: (r.tags, r.md, r.ent) for r in rows.collect()}
    assert got == {1: (3, 0, 0), 2: (0, 3, 0), 3: (0, 0, 2), 4: (0, 0, 0)}


def test_k_anonymize_release_reconciles_and_suppresses(spark, sf_dir):
    """Published groups all have k >= threshold; the residual row
    carries exactly the suppressed mass; totals reconcile with the
    raw QI group table."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        K_ANON_THRESHOLD,
        k_anonymize_release,
        _bal_band,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    rel = k_anonymize_release(spark, sf_dir).collect()
    pub = [r for r in rel if r.suppressed == 0]
    res = [r for r in rel if r.suppressed == 1]
    assert all(r.n_rows >= K_ANON_THRESHOLD for r in pub)
    assert all(
        r.c_nationkey is not None and r.bal_band is not None for r in pub
    )
    cust = load_table(spark, "customer", sf_dir)
    g = (
        cust.groupBy("c_nationkey", "c_mktsegment", _bal_band().alias("b"))
        .count()
        .collect()
    )
    small = [r for r in g if r["count"] < K_ANON_THRESHOLD]
    if small:
        assert len(res) == 1
        assert res[0].c_nationkey is None and res[0].bal_band is None
        assert res[0].n_rows == sum(r["count"] for r in small)
        assert res[0].n_groups == len(small)
    else:
        assert res == []
    assert sum(r.n_rows for r in rel) == cust.count()


def test_cusum_flags_level_shift_not_stationary_series(spark):
    """A planted level shift (10/day for 10 days, then 30/day) must
    flag with its peak at the shift boundary; a stationary alternating
    series must not flag; a one-day type emits NULL stat, flag 0."""
    import datetime as dt

    from udacity_dsnd_projects_spark.operators.analytics import (
        CUSUM_KS,
        cusum_changepoints,
    )

    def day(i):
        return dt.date(2024, 1, i)

    rows = [("shift", day(i), 10 if i <= 10 else 30) for i in range(1, 21)]
    rows += [("flat", day(i), 10 + (i % 2)) for i in range(1, 21)]
    rows += [("oneday", day(1), 7)]
    daily = spark.createDataFrame(rows, ["event_type", "d", "n_events"])
    got = {r.event_type: r for r in cusum_changepoints(daily).collect()}
    assert got["shift"].is_change == 1
    assert got["shift"].cusum_stat >= CUSUM_KS
    assert got["shift"].peak_day == "2024-01-10"  # last pre-shift day
    assert got["flat"].is_change == 0
    assert got["flat"].cusum_stat < CUSUM_KS
    assert got["oneday"].cusum_stat is None
    assert got["oneday"].peak_day is None and got["oneday"].is_change == 0


def test_media_mismatch_sniff_matches_planting_rule(spark, sf_dir):
    """Every declared modality's mismatches are exactly the
    % MISMATCH_MOD planted rows, the top wrong sniff is the rotation
    target, and clean rows sniff as themselves."""
    from udacity_dsnd_projects_spark.functions.multimodal import (
        MISMATCH_MOD,
        _ROTATE,
        MAGIC_HEADERS,
        media_type_mismatch_report,
        synthesize_media,
    )

    got = {
        r.modality: r
        for r in media_type_mismatch_report(spark, sf_dir).collect()
    }
    assert set(got) == {"image", "audio", "video"}
    media = synthesize_media(spark, sf_dir).select("media_id", "modality").collect()
    by_mod = {}
    for r in media:
        by_mod.setdefault(r.modality, []).append(r.media_id)
    rev = {v: k for k, v in MAGIC_HEADERS.items()}
    for mod, ids in by_mod.items():
        planted = [i for i in ids if i % MISMATCH_MOD == 0]
        row = got[mod]
        assert row.n_media == len(ids)
        assert row.n_mismatch == len(planted)
        if planted:
            assert row.top_sniffed_other == rev[_ROTATE[mod]]
        else:
            assert row.top_sniffed_other is None


def test_ivf_probe_sweep_monotone_and_consistent(spark, sf_dir):
    """Deeper probing can only add candidates, so both the scan cost
    and the recall are non-decreasing in depth; the deepest row must
    reproduce ann_recall_report's micro-averaged recall exactly."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        PROBE_HAMMING,
        TOP_K,
        ann_recall_report,
        ivf_probe_sweep,
    )

    rows = sorted(
        ivf_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r.probe_hamming,
    )
    assert [r.probe_hamming for r in rows] == list(range(PROBE_HAMMING + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.n_hits >= a.n_hits
    deep = rows[-1]
    rec = ann_recall_report(spark, sf_dir).collect()
    assert deep.n_hits == sum(r.n_hits for r in rec)
    assert deep.mean_recall == round(
        sum(r.n_hits for r in rec) / (len(rec) * TOP_K), 6
    )


def test_screen_funnel_counts_are_internally_consistent(spark, sf_dir):
    """Funnel invariants: n_any_screen bounds each screen's count and
    never exceeds n_docs; clean_rate reconciles; the substring column
    agrees with the winnowing pair universe."""
    from udacity_dsnd_projects_spark.functions.curation import (
        screen_funnel_report,
    )
    from udacity_dsnd_projects_spark.functions.dedup import winnowing_pairs_for
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    rows = screen_funnel_report(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert max(r.n_exact_dup, r.n_near_dup, r.n_substring) <= r.n_any_screen
        assert r.n_any_screen <= r.n_docs
        assert r.clean_rate == round((r.n_docs - r.n_any_screen) / r.n_docs, 6)
    docs = load_table(spark, "documents", sf_dir)
    pair_docs = set()
    for p in winnowing_pairs_for(docs).collect():
        pair_docs.update((p.doc_a, p.doc_b))
    assert sum(r.n_substring for r in rows) == len(pair_docs)
