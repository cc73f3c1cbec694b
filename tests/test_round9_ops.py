"""Round-9 regression tests (VERDICT r8 tasks 3, 5): the stateful
late-row contract (out-of-order replay) and the deterministic
stream-replay chunk writer."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- task 5: deterministic replay chunk ordering ---------------------------


def test_write_chunks_orders_by_name_and_mtime(spark, sf_dir, tmp_path):
    """Replay order must be a property of the data, not filesystem mtime
    granularity: chunk files carry lexicographically-increasing names
    AND strictly-increasing explicit mtimes (Spark's FileStreamSource
    sorts by (mtime, path) — both keys now agree), and the union of the
    chunks is exactly the input rows."""
    from tests.replay import _ts_chunk_edges, _write_chunks
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    ev = load_table(spark, "events", sf_dir)
    dest = str(tmp_path / "chunks")
    _write_chunks(ev, _ts_chunk_edges(ev, 5), dest)

    names = sorted(os.listdir(dest))
    assert names == [f"chunk_{i:03d}.parquet" for i in range(5)]
    mtimes = [os.path.getmtime(os.path.join(dest, n)) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    got = spark.read.parquet(dest).count()
    assert got == ev.count()
    # chronological: every row in chunk i is <= every row in chunk i+1
    maxes, mins = [], []
    for n in names:
        df = spark.read.parquet(os.path.join(dest, n))
        row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        if row["lo"] is not None:
            mins.append(row["lo"])
            maxes.append(row["hi"])
    assert all(hi <= lo for hi, lo in zip(maxes, mins[1:]))


# --- observe-based quality metrics -----------------------------------------


def test_observed_batch_metrics_ride_the_action(spark, sf_dir):
    """The guard metrics must measure during the caller's own action
    (no second scan) and agree with a direct aggregation."""
    from udacity_dsnd_projects_spark.metrics import observed
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    ev = load_table(spark, "events", sf_dir)
    df, obs = observed(
        ev,
        ["value", "props"],
        {"nonpos_value": F.col("value") <= 0, "null_user": F.col("user_id").isNull()},
    )
    n = df.count()  # the "real job"
    m = obs.get
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value").isNull()).alias("nv"),
        F.count_if(F.col("props").isNull()).alias("np"),
        F.count_if(F.col("value") <= 0).alias("bad"),
        F.count_if(F.col("user_id").isNull()).alias("nu"),
    ).collect()[0]
    assert m["n_rows"] == n == direct["n"]
    assert m["null_value"] == direct["nv"]
    assert m["null_props"] == direct["np"]
    assert m["bad_nonpos_value"] == direct["bad"]
    assert m["bad_null_user"] == direct["nu"]


@pytest.mark.slow
def test_observed_stream_metrics_per_micro_batch(spark, sf_dir, tmp_path_factory):
    """The streaming face surfaces the same metrics per micro-batch in
    the query progress — batch sums must equal the corpus totals."""
    from tests.replay import _ts_chunk_edges, _write_chunks
    from udacity_dsnd_projects_spark.metrics import observed_stream
    from udacity_dsnd_projects_spark.sources.catalog import load_table
    from udacity_dsnd_projects_spark.streaming.sources import file_stream

    root = tmp_path_factory.mktemp("observe")
    src = str(root / "events")
    ev = load_table(spark, "events", sf_dir)
    _write_chunks(ev, _ts_chunk_edges(ev, 3), src)

    stream = observed_stream(
        file_stream(spark, src, ev.schema, max_files_per_trigger=1),
        ["value"],
        {"nonpos_value": F.col("value") <= 0},
    )
    q = stream.writeStream.format("noop").outputMode("append").start()
    try:
        q.processAllAvailable()
        progresses = list(q.recentProgress)
    finally:
        q.stop()
    per_batch = [
        p["observedMetrics"]["quality"]
        for p in progresses
        if p["observedMetrics"]
    ]
    assert len(per_batch) == 3  # one per chunk file
    total = ev.count()
    bad = ev.filter(F.col("value") <= 0).count()
    assert sum(m["n_rows"] for m in per_batch) == total
    assert sum(m["bad_nonpos_value"] for m in per_batch) == bad
    assert all(m["n_rows"] > 0 for m in per_batch)


# --- boilerplate_strip semantics -------------------------------------------


def test_boilerplate_strip_semantics(spark):
    """The within-source doc-frequency rule, end to end: a chunk shared
    by two docs of the SAME source is stripped from both; the same
    chunk appearing in another SOURCE is kept there (per-site
    boilerplate, not global); a chunk repeated twice inside ONE doc is
    repetition, not boilerplate (distinct-doc frequency = 1); and the
    cleaned reconstruction hashes to exactly the kept windows."""
    import hashlib

    from udacity_dsnd_projects_spark.functions.corpus import (
        CHUNK_W,
        boilerplate_strip_for,
    )

    header = " ".join(f"h{i}" for i in range(CHUNK_W))  # shared chunk
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(CHUNK_W))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, "sA", f"{header} {uniq('a')}"),  # header boiler in sA
            (2, "sA", f"{header} {uniq('b')}"),
            (3, "sB", f"{header} {uniq('c')}"),  # same chunk, other src
            (4, "sB", f"{uniq('r')} {uniq('r')}"),  # in-doc repetition
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_chunks"],
            r["n_boiler_chunks"],
            r["clean_n_toks"],
            r["clean_md5"],
        )
        for r in boilerplate_strip_for(docs).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (2, 1, CHUNK_W, md5(uniq("a")))
    assert got[2] == (2, 1, CHUNK_W, md5(uniq("b")))
    # sB sees the header once -> kept whole
    assert got[3] == (2, 0, 2 * CHUNK_W, md5(f"{header} {uniq('c')}"))
    # repetition inside one doc: df=1 -> kept whole
    assert got[4] == (2, 0, 2 * CHUNK_W, md5(f"{uniq('r')} {uniq('r')}"))


def _boiler_model(docs):
    """Pure-python model of the boilerplate spec: within-source
    DISTINCT-doc chunk frequency >= BOILER_MIN_DOCS strips the chunk;
    the cleaned doc is the concatenation of kept windows in position
    order. Returns doc_id -> (n_chunks, n_boiler, clean_n_toks,
    clean_md5) for comparison against the Spark operator."""
    import hashlib
    from collections import defaultdict

    from udacity_dsnd_projects_spark.functions.corpus import (
        BOILER_MIN_DOCS,
        CHUNK_W,
    )

    def chunks(toks):
        return [
            toks[i * CHUNK_W : (i + 1) * CHUNK_W]
            for i in range((len(toks) + CHUNK_W - 1) // CHUNK_W)
        ]

    df = defaultdict(set)
    for did, src, toks in docs:
        for c in chunks(toks):
            df[(src, " ".join(c))].add(did)
    out = {}
    for did, src, toks in docs:
        cs = chunks(toks)
        flags = [len(df[(src, " ".join(c))]) >= BOILER_MIN_DOCS for c in cs]
        clean = [t for c, b in zip(cs, flags) if not b for t in c]
        out[did] = (
            len(cs),
            sum(flags),
            len(clean),
            hashlib.md5(" ".join(clean).encode()).hexdigest(),
        )
    return out


@st.composite
def _corpora(draw):
    """Chunk-colliding corpora: each doc is 1-3 whole chunks drawn
    from a 4-chunk pool (collisions guaranteed) plus an optional short
    tail from a 2-tail pool (exercises the final sub-CHUNK_W window),
    spread over two sources (frequency is per-source)."""
    from udacity_dsnd_projects_spark.functions.corpus import CHUNK_W

    pool = [[f"c{j}w{i}" for i in range(CHUNK_W)] for j in range(4)]
    tails = [["t0a", "t0b", "t0c"], ["t1a"]]
    n_docs = draw(st.integers(min_value=1, max_value=6))
    docs = []
    for did in range(n_docs):
        src = draw(st.sampled_from(["sA", "sB"]))
        body = draw(
            st.lists(st.sampled_from(range(4)), min_size=1, max_size=3)
        )
        toks = [t for j in body for t in pool[j]]
        tail = draw(st.sampled_from([None, 0, 1]))
        if tail is not None:
            toks = toks + tails[tail]
        docs.append((did, src, toks))
    return docs


@given(_corpora())
@settings(max_examples=8, deadline=None)
def test_boilerplate_strip_property_matches_model(spark, docs):
    """Property: on arbitrary chunk-colliding corpora the operator
    equals the pure-python spec — per-source distinct-doc frequency,
    position-ordered reconstruction, short-tail windows and all."""
    from udacity_dsnd_projects_spark.functions.corpus import (
        boilerplate_strip_for,
    )

    frame = spark.createDataFrame(
        [(did, src, " ".join(toks)) for did, src, toks in docs],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_chunks"],
            r["n_boiler_chunks"],
            r["clean_n_toks"],
            r["clean_md5"],
        )
        for r in boilerplate_strip_for(frame).collect()
    }
    assert got == _boiler_model(docs)


def test_strip_against_index_tolerates_duplicate_index_rows(spark):
    """A PUBLISHED index table can carry duplicate (source, h) rows
    (appended curation runs, unioned index versions); the flag join
    must not multiply matching chunk rows — counts and ratios must be
    identical to a run against the deduplicated index."""
    from udacity_dsnd_projects_spark.functions.corpus import (
        CHUNK_W,
        boilerplate_index_for,
        strip_against_index,
    )

    header = " ".join(f"h{i}" for i in range(CHUNK_W))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(CHUNK_W))  # noqa: E731
    schema = "doc_id long, source string, text string"
    hist = spark.createDataFrame(
        [(1, "sA", f"{header} {uniq('a')}"), (2, "sA", f"{header} {uniq('b')}")],
        schema,
    )
    index = boilerplate_index_for(hist).localCheckpoint(eager=True)
    dup_index = index.union(index).union(index)  # 3 copies of each row
    new = spark.createDataFrame([(10, "sA", f"{header} {uniq('x')}")], schema)
    want = sorted(map(tuple, strip_against_index(new, index).collect()))
    got = sorted(map(tuple, strip_against_index(new, dup_index).collect()))
    assert got == want
    # the one header chunk is flagged ONCE: 2 chunks, 1 boiler, ratio .5
    assert got[0][1:4] == (2, 1, 0.5)


# --- decontaminate_corpus / l_diversity_report -----------------------------


def test_decontaminate_corpus_accounting_is_consistent(spark, sf_dir):
    """The retention rollup must balance (kept + dropped = universe),
    the benchmark docs themselves must be outside the universe, and
    the drop total must equal what the contamination REPORT says is at
    or over the gate — a relative consistency check that stays
    meaningful on any corpus, never a fixed firing-rate assumption."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        BENCH_MOD,
        CONTAM_DROP,
        decontaminate_corpus,
        ngram_contamination,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    rows = decontaminate_corpus(spark, sf_dir).collect()
    assert rows
    assert all(r["n_kept"] + r["n_dropped"] == r["n_docs"] for r in rows)
    n_flagged = (
        ngram_contamination(spark, sf_dir)
        .filter(F.col("contamination") >= CONTAM_DROP)
        .count()
    )
    assert sum(r["n_dropped"] for r in rows) == n_flagged
    # the synthetic corpus repeats benchmark text, so the gate fires
    assert n_flagged >= 1
    n_universe = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % BENCH_MOD != 0)
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_universe


def test_l_diversity_flags_at_most_k_anonymity_rows(spark, sf_dir):
    """Internal consistency of the one-row audit: l_min >= 1, group and
    row counts nest (rows in low-diversity groups <= all rows), and the
    coarser (nation, segment) QI here has no MORE groups than
    k-anonymity's finer 3-column QI."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        k_anonymity_report,
        l_diversity_report,
    )

    l = l_diversity_report(spark, sf_dir).collect()[0]
    k = k_anonymity_report(spark, sf_dir).collect()[0]
    assert l["l_min"] >= 1
    assert 0 <= l["groups_l_lt3"] <= l["n_groups"]
    assert 0 <= l["rows_l_lt3"] <= l["n_rows"]
    assert l["n_rows"] == k["n_rows"]  # same table, both total all rows
    assert l["n_groups"] <= k["n_groups"]  # coarser QI -> fewer groups


def test_t_closeness_is_a_bounded_distance(spark, sf_dir):
    """Internal consistency of the EMD audit: normalized 1-D EMD lives
    in [0, 1], the flagged groups/rows nest inside the totals, and the
    report shares its universe with the sibling gates (same table,
    same QI grid as l-diversity)."""
    from udacity_dsnd_projects_spark.functions.pipeline import (
        l_diversity_report,
        t_closeness_report,
    )

    t = t_closeness_report(spark, sf_dir).collect()[0]
    l = l_diversity_report(spark, sf_dir).collect()[0]
    assert 0.0 <= t["t_max"] <= 1.0
    assert 0 <= t["groups_t_gt"] <= t["n_groups"]
    assert 0 <= t["rows_t_gt"] <= t["n_rows"]
    assert (t["n_rows"], t["n_groups"]) == (l["n_rows"], l["n_groups"])


@pytest.mark.slow
def test_strip_against_index_stream_equals_batch(spark, tmp_path_factory):
    """The incremental face: a 2-micro-batch replay of new docs,
    each batch stripped against the PUBLISHED index via foreachBatch,
    accumulates exactly the batch answer over the same rows — and the
    index derived from history governs (a chunk boilerplate in history
    is stripped from a NEW doc even on its first appearance there)."""
    from udacity_dsnd_projects_spark.functions.corpus import (
        CHUNK_W,
        boilerplate_index_for,
        strip_against_index,
    )
    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_foreach_batch,
    )

    header = " ".join(f"h{i}" for i in range(CHUNK_W))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(CHUNK_W))  # noqa: E731
    schema = "doc_id long, source string, text string"
    hist = spark.createDataFrame(
        [(1, "sA", f"{header} {uniq('a')}"), (2, "sA", f"{header} {uniq('b')}")],
        schema,
    )
    index = boilerplate_index_for(hist).localCheckpoint(eager=True)
    assert index.count() == 1  # the header, in sA only

    root = tmp_path_factory.mktemp("strip_stream")
    src, sink = str(root / "docs"), str(root / "out")
    new1 = [(10, "sA", f"{header} {uniq('x')}")]  # header stripped
    new2 = [(11, "sB", f"{header} {uniq('y')}")]  # other source: kept
    for b in (new1, new2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    new_docs = spark.read.schema(hist.schema).parquet(src)
    run_foreach_batch(
        file_stream(spark, src, hist.schema, max_files_per_trigger=1),
        lambda b, _: strip_against_index(b, index)
        .write.mode("append")
        .parquet(sink),
        output_mode="append",
    )
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, strip_against_index(new_docs, index).collect()))
    assert got == want and len(got) == 2
    by_id = {r[0]: r for r in got}
    assert by_id[10][1:4] == (2, 1, 0.5)  # header stripped in sA
    assert by_id[11][1:4] == (2, 0, 0.0)  # kept whole in sB


# --- task 3: stateful late-row contract ------------------------------------

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)

GAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.mark.slow
def test_daily_counts_rollup_suppresses_resurrected_counts(
    spark, tmp_path_factory
):
    """The post-eviction half of the monitor's late-row contract: a row
    arriving AFTER its day-state was evicted re-creates the key and
    re-emits a LOW count (state starts over at 1). The compacted sink
    keyed (event_type, d) with ``n_events`` as the last-write-wins
    sequence must keep the previously published HIGHER count — counts
    are monotone per key while live, so max_by suppresses the
    resurrection and the rollup never regresses."""
    from udacity_dsnd_projects_spark.streaming.sinks import (
        compacted_table_upsert,
    )

    root = tmp_path_factory.mktemp("resurrect")
    table = str(root / "rollup")
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("d", T.DateType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    upsert = compacted_table_upsert(table, ["event_type", "d"], "n_events")
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    # epoch 0: day-1 closes at 2; epoch 1: a very-late day-1 row
    # resurrects the key at n_events=1 alongside normal day-2 traffic
    upsert(spark.createDataFrame([("e", d1, 2)], schema), 0)
    upsert(
        spark.createDataFrame([("e", d1, 1), ("e", d2, 3)], schema), 1
    )
    got = {
        (r["event_type"], str(r["d"])): r["n_events"]
        for r in spark.read.parquet(table).collect()
    }
    assert got == {
        ("e", "2024-01-01"): 2,  # resurrection suppressed
        ("e", "2024-01-02"): 3,
    }


@pytest.mark.slow
def test_transition_stateful_drops_late_rows(spark, tmp_path_factory):
    """A row arriving with event time strictly BEFORE the stored
    frontier violates the documented non-decreasing contract; it must
    be dropped (no fabricated frontier→old / old→next transitions), a
    frontier-tying row must still be processed, and in-contract rows
    after the late one must chain off the real frontier."""
    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_to_memory,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import transition_stateful

    root = tmp_path_factory.mktemp("late_trans")
    path = str(root / "events")

    def t(m):
        return dt.datetime(2024, 1, 1, 10, m)

    b1 = [(1, t(10), 1, "view"), (1, t(20), 2, "click")]
    # batch 2: one LATE row (t15 < frontier t20) that must vanish, one
    # frontier-TYING row (t20, in contract) and one later row
    b2 = [(1, t(15), 3, "purchase"), (1, t(20), 4, "refund"), (1, t(30), 5, "view")]
    for b in (b1, b2):
        spark.createDataFrame(b, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    got = sorted(
        (r["prev_type"], r["next_type"])
        for r in run_to_memory(
            transition_stateful(file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)),
            "late_trans_stream",
        ).collect()
    )
    # late "purchase" row contributes NO transition in either direction
    assert got == sorted([("view", "click"), ("click", "refund"), ("refund", "view")])


@pytest.mark.slow
def test_gap_fill_stateful_folds_late_rows_without_time_travel(
    spark, tmp_path_factory
):
    """A cross-batch row in an hour BEFORE the frontier hour is folded
    into the frontier hour (declared no-time-travel rule): emitted
    history is never rewritten, the frontier hour's n_events counts the
    folded row, and its LOCF value still comes from the argmax on true
    event time (the older row cannot win)."""
    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_to_memory,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import gap_fill_stateful

    root = tmp_path_factory.mktemp("late_gap")
    path = str(root / "events")

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    b1 = [(1, t(10, 5), 1, 1.0), (1, t(12, 10), 2, 3.0)]  # frontier hour 12
    b2 = [(1, t(10, 45), 3, 9.9)]  # LATE: hour 10 already emitted
    for b in (b1, b2):
        spark.createDataFrame(b, GAP_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    rows = run_to_memory(
        gap_fill_stateful(file_stream(spark, path, GAP_SCHEMA, max_files_per_trigger=1)),
        "late_gap_stream",
        output_mode="update",
    ).collect()
    final = {}
    for r in rows:  # update mode: last emission per (user, hr) wins
        final[(r["user_id"], r["hr"])] = (
            r["value_filled"],
            r["n_events"],
            r["is_observed"],
        )
    assert final == {
        (1, t(10, 0)): (1.0, 1, 1),  # emitted history NOT rewritten
        (1, t(11, 0)): (1.0, 0, 0),
        (1, t(12, 0)): (3.0, 2, 1),  # late row folded: counted, not argmax
    }


@pytest.mark.slow
def test_transition_stateful_late_count_in_state(spark, tmp_path_factory):
    """The dropped late rows are DETECTED, not silently discarded: the
    per-key late_count state field accumulates across micro-batches.
    Verified behaviorally — N late rows in, exactly (in-contract
    consecutive pairs) transitions out, independent of where the late
    rows land in the replay."""
    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_to_memory,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import transition_stateful

    root = tmp_path_factory.mktemp("late_count")
    path = str(root / "events")

    def t(m):
        return dt.datetime(2024, 1, 1, 12, m)

    batches = [
        [(7, t(10), 1, "a"), (7, t(20), 2, "b")],
        [(7, t(5), 3, "x")],  # late only — emits nothing
        [(7, t(1), 4, "y"), (7, t(25), 5, "c")],  # one late, one good
    ]
    for b in batches:
        spark.createDataFrame(b, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    got = sorted(
        (r["prev_type"], r["next_type"])
        for r in run_to_memory(
            transition_stateful(file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger=1)),
            "late_count_stream",
        ).collect()
    )
    assert got == sorted([("a", "b"), ("b", "c")])
