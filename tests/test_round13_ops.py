"""Round-13 tests: the memoized BPE training loop (VERDICT r12 task
2 — one learn per corpus per session), and the degenerate-corpus
oracle fix (ADVICE r12: the apply-chain oracles formerly CROSS JOINed
every m{k}, so a vocab that fully merges before BPE_MERGE_ROUNDS
annihilated the per-doc frame while the Spark side correctly applied
the shorter learned chain)."""

from __future__ import annotations

from collections import OrderedDict

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# VERDICT r12 task 2 — the BPE training loop is memoized per
# (session, vocab plan, rounds): eight faces construct it over the
# same corpus, and a registry sweep must train once, not eight times.
# --------------------------------------------------------------------------


def test_bpe_learn_memoized_per_vocab_plan(spark):
    from udacity_dsnd_projects_spark.functions import text as t

    t._BPE_LEARN_CACHE.clear()
    vocab = spark.createDataFrame(
        [("abab", 3), ("ab", 2), ("ba", 1)], ["w", "cnt"]
    )
    m1, s1 = t._learn_merges_with_stages(vocab, rounds=3)
    m2, s2 = t._learn_merges_with_stages(vocab, rounds=3)
    # a cache hit returns the SAME objects — zero Spark actions run
    assert m1 is m2 and s1 is s2
    assert len(t._BPE_LEARN_CACHE) == 1
    # different rounds budget → different artifact → new entry
    t._learn_merges_with_stages(vocab, rounds=2)
    assert len(t._BPE_LEARN_CACHE) == 2
    # different vocab plan → new entry (no cross-corpus collision)
    other = spark.createDataFrame([("cd", 5)], ["w", "cnt"])
    m3 = t._learn_merges(other, rounds=3)
    assert len(t._BPE_LEARN_CACHE) == 3
    assert m3 != m1
    t._BPE_LEARN_CACHE.clear()


def test_bpe_learn_cache_distinguishes_filtered_corpora(spark):
    """bpe_merge_stability's two half-corpus learns must NOT collide:
    the even- and odd-half vocab plans hash differently."""
    from udacity_dsnd_projects_spark.functions import text as t

    t._BPE_LEARN_CACHE.clear()
    docs = spark.createDataFrame(
        [(0, "aa aa"), (1, "bb bb"), (2, "aa"), (3, "bb")],
        ["doc_id", "text"],
    )
    even = t._learn_merges(t._bpe_vocab(docs.filter(F.col("doc_id") % 2 == 0)))
    odd = t._learn_merges(t._bpe_vocab(docs.filter(F.col("doc_id") % 2 == 1)))
    assert len(t._BPE_LEARN_CACHE) == 2
    assert even[0][0] + even[0][1] == "aa"
    assert odd[0][0] + odd[0][1] == "bb"
    t._BPE_LEARN_CACHE.clear()


class _MissCountingCache(OrderedDict):
    """A learn-cache stand-in that counts misses (a miss = the loop
    ran and stored its result). OrderedDict, not dict: the real cache
    is LRU (hits call move_to_end)."""

    def __init__(self):
        super().__init__()
        self.misses = 0

    def __setitem__(self, key, value):
        self.misses += 1
        super().__setitem__(key, value)


def test_bpe_faces_share_one_learn(spark, sf_dir, monkeypatch):
    """The family integration the memo exists for: after one face has
    trained, every later face over the same corpus must construct
    WITHOUT re-running the loop (its ~20 Spark actions) — a warm cache
    records zero further misses."""
    from udacity_dsnd_projects_spark.functions import text as t

    spy = _MissCountingCache()
    monkeypatch.setattr(t, "_BPE_LEARN_CACHE", spy)
    t.bpe_apply_merges(spark, sf_dir)  # trains + caches
    assert spy.misses == 1
    t.bpe_token_mixture_weights(spark, sf_dir)
    t.bpe_vocab_table(spark, sf_dir)
    t.bpe_seq_pack_bins(spark, sf_dir)
    t.bpe_learn_merges(spark, sf_dir)
    assert spy.misses == 1, "a face re-ran the learn loop on a warm cache"


# --------------------------------------------------------------------------
# ADVICE r12 — degenerate corpora: when the vocabulary fully merges
# before BPE_MERGE_ROUNDS, the empty later m{k} stages must leave the
# oracle's apply chain a no-op (COALESCE'd scalar subquery), not
# annihilate perdoc through a CROSS JOIN. Spark and DuckDB must agree
# on such corpora for every apply-chain face.
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    """A corpus whose whole vocabulary merges to single symbols after
    2 rounds (words 'ab' and 'ba' only) — every m{k} for k >= 2 is
    empty at BPE_MERGE_ROUNDS=10."""
    d = tmp_path_factory.mktemp("degen")
    rows = [
        (0, "ab ab ba", "en", "web", 8),
        (1, "ab", "en", "web", 2),
        (2, "ba ab", "fr", "books", 5),
        (3, "ab ba ba", "fr", "web", 8),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _duck_on(dirpath: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{dirpath}/documents.parquet/*.parquet')"
    )
    return con


def _assert_matches_oracle(spark_df, con, sql):
    sdf = spark_df.toPandas()
    ddf = con.sql(sql).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    a = sorted(map(str, sdf[cols].round(6).itertuples(index=False, name=None)))
    b = sorted(map(str, ddf[cols].round(6).itertuples(index=False, name=None)))
    assert a == b, (a[:5], b[:5])


def test_apply_merges_oracle_survives_full_merge(spark, degenerate_dir):
    from udacity_dsnd_projects_spark.functions import text as t

    con = _duck_on(degenerate_dir)
    try:
        from udacity_dsnd_projects_spark.sources.catalog import load_table

        df = t.bpe_apply_merges(spark, degenerate_dir)
        # the Spark side really did stop early (shorter learned chain)
        merges = t._learn_merges(
            t._bpe_vocab(load_table(spark, "documents", degenerate_dir))
        )
        assert len(merges) < t.BPE_MERGE_ROUNDS
        # and every doc's unit count is non-zero — nothing annihilated
        rows = {r["doc_id"]: r for r in df.collect()}
        assert all(r["n_merged_units"] > 0 for r in rows.values())
        _assert_matches_oracle(df, con, t.ORACLE_BPE_APPLY_MERGES)
    finally:
        con.close()


def test_drift_report_oracle_survives_full_merge(spark, degenerate_dir):
    """The likeliest degenerate case per ADVICE r12: the TRAIN-half
    restriction shrinks the vocab, making early exhaustion easier."""
    from udacity_dsnd_projects_spark.functions import text as t

    con = _duck_on(degenerate_dir)
    try:
        df = t.tokenizer_drift_report(spark, degenerate_dir)
        rows = {r["source"]: r for r in df.collect()}
        # fertility must be measured wherever a split has docs, not
        # annihilated to NULL-by-absence ('books' has no eval half —
        # NULL there is the contract, not the bug)
        assert rows["web"]["eval_fertility"] is not None
        assert rows["web"]["train_fertility"] is not None
        assert rows["books"]["train_fertility"] is not None
        _assert_matches_oracle(df, con, t.ORACLE_TOKENIZER_DRIFT_REPORT)
    finally:
        con.close()


def test_whole_bpe_family_survives_full_merge(spark, degenerate_dir):
    """Every BPE face must agree with its oracle on the fully-merging
    corpus — including the stage-frame readers (vocab_table reads the
    FINAL stage, which must carry forward past the early stop;
    compression_sweep must NULL-pad the post-stop steps on both
    engines; merge_stability's two half-learns both stop early)."""
    from udacity_dsnd_projects_spark.functions import text as t

    con = _duck_on(degenerate_dir)
    try:
        for face, sql in [
            (t.bpe_learn_merges, t.ORACLE_BPE_LEARN_MERGES),
            (t.bpe_vocab_table, t.ORACLE_BPE_VOCAB_TABLE),
            (t.bpe_compression_sweep, t.ORACLE_BPE_COMPRESSION_SWEEP),
            (t.bpe_merge_stability, t.ORACLE_BPE_MERGE_STABILITY),
            (t.bpe_pack_efficiency, t.ORACLE_BPE_PACK_EFFICIENCY),
            (t.bpe_encode_chunks, t.ORACLE_BPE_ENCODE_CHUNKS),
            (t.chunk_dedup, t.ORACLE_CHUNK_DEDUP),
        ]:
            _assert_matches_oracle(face(spark, degenerate_dir), con, sql)
    finally:
        con.close()


def test_seq_pack_and_mixture_oracles_survive_full_merge(spark, degenerate_dir):
    from udacity_dsnd_projects_spark.functions import text as t

    con = _duck_on(degenerate_dir)
    try:
        _assert_matches_oracle(
            t.bpe_seq_pack_bins(spark, degenerate_dir),
            con,
            t.ORACLE_BPE_SEQ_PACK_BINS,
        )
        _assert_matches_oracle(
            t.bpe_token_mixture_weights(spark, degenerate_dir),
            con,
            t.ORACLE_BPE_TOKEN_MIXTURE_WEIGHTS,
        )
    finally:
        con.close()


# --------------------------------------------------------------------------
# VERDICT r12 task 3 — bpe_encode_chunks: within-document chunking on
# merge-aware unit budgets, the training-chunk artifact itself.
# --------------------------------------------------------------------------


def test_encode_chunks_plan_is_shuffle_free(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import bpe_encode_chunks

    plan = (
        bpe_encode_chunks(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_encode_chunks_agrees_with_apply_merges(spark, sf_dir):
    """Cross-face identity: a document's chunk units must sum to
    exactly bpe_apply_merges' n_merged_units, and its chunks must
    partition the eligible words contiguously from word 0."""
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_apply_merges,
        bpe_encode_chunks,
    )

    per_doc = {
        r["doc_id"]: r for r in bpe_apply_merges(spark, sf_dir).collect()
    }
    chunks = {}
    for r in bpe_encode_chunks(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    for doc_id, cl in chunks.items():
        cl.sort(key=lambda r: r["chunk_id"])
        assert sum(r["n_units"] for r in cl) == per_doc[doc_id]["n_merged_units"]
        assert sum(r["n_words"] for r in cl) == per_doc[doc_id]["n_words"]
        # contiguous word coverage from 0
        assert cl[0]["start_word"] == 0
        for a, b in zip(cl, cl[1:]):
            assert b["start_word"] == a["start_word"] + a["n_words"]
    # docs with eligible words but absent from chunks would break the sums
    assert set(chunks) == {
        d for d, r in per_doc.items() if r["n_words"] and r["n_words"] > 0
    }


def test_encode_chunks_straddle_and_budget(spark, sf_dir):
    """Every chunk except a doc's last must have REACHED the budget
    (the next word started a new chunk only because cum >= budget);
    overflow is bounded by one word (straddle contract)."""
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_CHUNK_BUDGET,
        bpe_encode_chunks,
    )

    chunks = {}
    for r in bpe_encode_chunks(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    multi = 0
    for cl in chunks.values():
        cl.sort(key=lambda r: r["chunk_id"])
        for r in cl[:-1]:
            multi += 1
            assert r["n_units"] >= 1
        # a non-final chunk ends only when the running total crossed a
        # budget boundary: its units reach at least budget - (overflow
        # carried in from the straddle word that opened it)
    assert multi > 0, "corpus never exercised the multi-chunk path"


def test_encode_chunks_skips_empty_chunk_ids(spark, tmp_path):
    """A single word LARGER than the budget advances the prefix sum by
    more than one budget — chunk ids skip, and no empty filler chunk
    may be fabricated for the gap (the oracle's GROUP BY never emits
    one)."""
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_CHUNK_BUDGET,
        bpe_encode_chunks,
    )

    # the big word cycles 10 letters so no adjacent pair repeats often;
    # three run-of-12 filler families at 200 occurrences each soak up
    # ALL 10 merge rounds (each family yields 4 merges with counts in
    # the thousands, dwarfing the big word's ~40-count pairs), so the
    # big word stays ~400 units — over three budgets.
    big = "qrstuvwxyz" * (3 * BPE_CHUNK_BUDGET // 10 + 2)
    filler = {c: " ".join([c * 12] * 200) for c in "abc"}
    rows = [(0, f"{big} tail", "en", "web", len(big) + 5)] + [
        (i + 1, txt, "en", "web", len(txt))
        for i, txt in enumerate(filler.values())
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = sorted(
        (r["chunk_id"], r["n_words"], r["start_word"])
        for r in bpe_encode_chunks(spark, str(tmp_path)).collect()
        if r["doc_id"] == 0
    )
    # the big word (>= 3 budgets of units) is alone in chunk 0; 'tail'
    # starts at floor(units_big / budget) >= 3 — chunks 1..gap-1 must
    # NOT be fabricated as empty filler rows
    assert out[0] == (0, 1, 0)
    assert len(out) == 2
    assert out[1][0] >= 3 and out[1][1] == 1 and out[1][2] == 1


# --------------------------------------------------------------------------
# VERDICT r12 task 8 (second half) — the tokenizer family's
# cross-machinery gate: the loop world's final stage frame and the
# baked replace chain must report the SAME corpus unit total.
# --------------------------------------------------------------------------


def test_unit_total_agreement_holds(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_unit_total_agreement,
    )

    rows = bpe_unit_total_agreement(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["agree"] is True
    assert r["vocab_total_units"] == r["corpus_total_units"] > 0


def test_unit_total_agreement_on_degenerate_corpus(spark, degenerate_dir):
    from udacity_dsnd_projects_spark.functions import text as t

    con = _duck_on(degenerate_dir)
    try:
        df = t.bpe_unit_total_agreement(spark, degenerate_dir)
        r = df.collect()[0]
        # fully merged: every word is ONE unit → total = word count (9:
        # 3 + 1 + 2 + 3 across the four docs)
        assert r["agree"] is True and r["vocab_total_units"] == 9
        _assert_matches_oracle(df, con, t.ORACLE_BPE_UNIT_TOTAL_AGREEMENT)
    finally:
        con.close()


def test_unit_total_agreement_vacuous_on_empty_corpus(spark, tmp_path):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_unit_total_agreement,
    )

    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = bpe_unit_total_agreement(spark, str(tmp_path)).collect()[0]
    assert r["vocab_total_units"] is None
    assert r["corpus_total_units"] is None
    assert r["agree"] is True


# --------------------------------------------------------------------------
# Independent referee for the chunking fold (the Sennrich-referee
# doctrine): the DuckDB oracle chunks via a window cumsum — a different
# formulation, but both engines share the delimited-replace unit
# counter, so a pure-Python symbol-list implementation referees BOTH
# the unit costs and the accumulator state machine on arbitrary tiny
# corpora and budgets.
# --------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


def _py_units(w, merges):
    syms = list(w)
    for x, y, _ in merges:
        out = []
        for s in syms:
            if out and out[-1] == x and s == y:
                out[-1] = x + y
            else:
                out.append(s)
        syms = out
    return len(syms)


def _py_chunks(words, merges, budget):
    out, cum, cur = [], 0, None
    for i, w in enumerate(words):
        u = _py_units(w, merges)
        k = cum // budget
        if cur is None or cur[0] != k:
            if cur is not None:
                out.append(tuple(cur))
            cur = [k, 0, 0, i]
        cur[1] += 1
        cur[2] += u
        cum += u
    if cur is not None:
        out.append(tuple(cur))
    return out


_DOCS = st.lists(
    st.lists(st.text(alphabet="abcé", min_size=1, max_size=5), min_size=1, max_size=8),
    min_size=1,
    max_size=4,
)


@pytest.mark.slow
@given(_DOCS)
@settings(max_examples=8, deadline=None)
def test_encode_chunks_fold_matches_pure_python(spark, docs):
    from udacity_dsnd_projects_spark.functions import text as t

    # a fixed merge chain (incl. a chained merge and a non-ASCII pair)
    # exercises the counter + fold identically to a learned one
    merges = [("a", "b", 0), ("ab", "c", 0), ("é", "é", 0)]
    frame = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    saved = t.BPE_CHUNK_BUDGET
    t.BPE_CHUNK_BUDGET = 5  # tiny budget → multi-chunk + skip paths
    try:
        got = {}
        hashes = {}
        for r in t.encode_chunks_frame(frame, merges).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["n_words"], r["n_units"], r["start_word"])
            )
            hashes[(r["doc_id"], r["chunk_id"])] = r["chunk_hash"]
    finally:
        t.BPE_CHUNK_BUDGET = saved
    import hashlib

    for i, d in enumerate(docs):
        want = _py_chunks(d, merges, 5)
        assert sorted(got[i]) == want, (d, merges)
        for k, nw, _nu, st in want:
            ref = hashlib.md5(" ".join(d[st : st + nw]).encode()).hexdigest()
            assert hashes[(i, k)] == ref


# --------------------------------------------------------------------------
# chunk_dedup — exact dedup of the training sequences: keeper is the
# lexicographic (doc_id, chunk_id) minimum, the budget saving is
# observable, and the one shuffle carries no text.
# --------------------------------------------------------------------------


def test_chunk_dedup_keeper_and_savings(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_encode_chunks,
        chunk_dedup,
    )

    chunks = {}
    for r in bpe_encode_chunks(spark, sf_dir).collect():
        chunks.setdefault(r["chunk_hash"], []).append(r)
    out = {r["chunk_hash"]: r for r in chunk_dedup(spark, sf_dir).collect()}
    assert set(out) == set(chunks)
    multi = 0
    for h, members in chunks.items():
        r = out[h]
        keeper = min((m["doc_id"], m["chunk_id"]) for m in members)
        assert (r["canonical_doc_id"], r["canonical_chunk_id"]) == keeper
        assert r["n_copies"] == len(members)
        # identical content → identical unit counts across copies
        assert {m["n_units"] for m in members} == {r["n_units"]}
        assert r["saved_units"] == (len(members) - 1) * r["n_units"]
        if len(members) > 1:
            multi += 1
    assert multi > 0, "corpus planted no duplicate chunks — test is vacuous"


def test_chunk_dedup_shuffle_carries_no_text(spark, sf_dir):
    """The exchange must move hash + ints only: the chunk frame the
    groupBy consumes has already dropped every text-sized column."""
    from udacity_dsnd_projects_spark.functions.text import chunk_dedup

    plan = (
        chunk_dedup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    ex = plan[plan.find("Exchange"):]
    assert "text" not in ex[:500] and "ws#" not in ex[:500], ex[:500]
