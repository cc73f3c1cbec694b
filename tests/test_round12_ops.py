"""Round-12 tests: the cached substrate-layout probe (ADVICE r11),
the closed BPE tokenizer-induction loop (task 2), and the round-12
depth faces:
bpe_compression_sweep / bpe_seq_pack_bins / tokenizer_drift_report /
ann_probe_agreement / bpe_pack_efficiency / bpe_merge_stability."""

from __future__ import annotations

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# ADVICE r11 — the substrate layout probe is memoized per analyzed
# plan: composing several substrates over one input converts to an RDD
# (full physical planning) ONCE, and distinct inputs don't collide.
# --------------------------------------------------------------------------


def test_spread_probe_memoized_per_plan(spark, monkeypatch):
    from udacity_dsnd_projects_spark.functions import dedup as d

    d._SPREAD_PROBE_CACHE.clear()
    rows = [(i, f"alpha beta gamma doc {i}") for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # patch the CONCRETE DataFrame class (Spark 4's classic subclass
    # defines .rdd as a cached_property — patching the abstract base
    # would count nothing, and cached_property has no .fget)
    cls = type(docs)
    orig_rdd = cls.rdd
    hits = {"n": 0}

    def counting(self):
        hits["n"] += 1
        return orig_rdd.__get__(self, cls)

    monkeypatch.setattr(cls, "rdd", property(counting))
    a = d._spread_for_hashing(docs)
    b = d._spread_for_hashing(docs)
    assert hits["n"] == 1, "second probe of the same plan must hit the cache"
    assert a.schema == b.schema
    # a DIFFERENT layout over the same rows is a different plan → new probe
    d._spread_for_hashing(docs.coalesce(1))
    assert hits["n"] == 2
    assert len(d._SPREAD_PROBE_CACHE) == 2


# --------------------------------------------------------------------------
# Round-12 task 2 — the closed tokenizer-induction loop.
# --------------------------------------------------------------------------


def test_bpe_learn_counts_overlaps_and_merges_greedily(spark):
    from udacity_dsnd_projects_spark.functions.text import _learn_merges

    vocab = spark.createDataFrame([("aaa", 2), ("ab", 3)], ["w", "cnt"])
    merges = _learn_merges(vocab, rounds=2)
    # round 1: (a,a) counts BOTH positions of 'aaa' → 2·2=4 > (a,b) 3
    assert merges[0] == ("a", "a", 4)
    # greedy left-to-right: 'aaa' → [aa, a] (the tail 'a' is NOT merged
    # again), so round 2 sees (aa,a)=2 and (a,b)=3 → (a,b) wins
    assert merges[1] == ("a", "b", 3)


def test_bpe_learn_tie_breaks_on_pair_lexicographic(spark):
    from udacity_dsnd_projects_spark.functions.text import _learn_merges

    vocab = spark.createDataFrame([("ab", 1), ("ba", 1)], ["w", "cnt"])
    merges = _learn_merges(vocab, rounds=1)
    assert merges == [("a", "b", 1)]


def test_bpe_learn_stops_when_fully_merged(spark):
    from udacity_dsnd_projects_spark.functions.text import _learn_merges

    vocab = spark.createDataFrame([("ab", 5)], ["w", "cnt"])
    merges = _learn_merges(vocab, rounds=10)
    assert merges == [("a", "b", 5)]  # one merge, then no pair remains


def test_bpe_step1_equals_pair_counts_rank1(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_learn_merges,
        bpe_pair_counts,
    )

    top = bpe_pair_counts(spark, sf_dir).filter("rank = 1").collect()[0]
    step1 = bpe_learn_merges(spark, sf_dir).filter("step = 1").collect()[0]
    assert step1["merged"] == top["pair"]
    assert step1["n_occurrences"] == top["n_occurrences"]


# --------------------------------------------------------------------------
# Round-12 task 8 — cross-face identities: the tuning curve and the
# per-query recall report must agree at the deployed probe depth, and
# the merge-aware mixture face must reuse bpe_apply_merges' counts
# exactly (no second tokenizer implementation to drift).
# --------------------------------------------------------------------------


def test_probe_sweep_agrees_with_recall_report_at_deployed_depth(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.similarity import (
        PROBE_HAMMING,
        TOP_K,
        ann_recall_report,
        ivf_probe_sweep,
    )

    rr = ann_recall_report(spark, sf_dir).agg(
        F.sum("n_hits").alias("h"), F.count(F.lit(1)).alias("q")
    ).collect()[0]
    row = (
        ivf_probe_sweep(spark, sf_dir)
        .filter(F.col("probe_hamming") == PROBE_HAMMING)
        .collect()[0]
    )
    # same index, same probe depth → identical hit totals, and the
    # curve's micro-averaged recall is hits over (queries × K)
    assert row["n_hits"] == rr["h"]
    assert row["n_queries"] == rr["q"]
    assert float(row["mean_recall"]) == round(
        rr["h"] / (rr["q"] * TOP_K), 6
    )


def test_bpe_mixture_tokens_equal_apply_sums(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_apply_merges,
        bpe_token_mixture_weights,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    want = {
        r["source"]: r["u"]
        for r in bpe_apply_merges(spark, sf_dir)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_merged_units").alias("u"))
        .collect()
    }
    got = {
        r["source"]: r["n_merged_tokens"]
        for r in bpe_token_mixture_weights(spark, sf_dir).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# Plan shapes — the apply face must be a SHUFFLE-FREE single-scan
# projection (the learn loop runs at construction; the returned frame
# is scan + project only), and the mixture face's only exchanges are
# its source-cardinality rollup.
# --------------------------------------------------------------------------


def test_bpe_apply_plan_is_shuffle_free(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import bpe_apply_merges

    plan = bpe_apply_merges(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchScan" in plan or "FileScan" in plan or "Scan parquet" in plan


def test_bpe_vocab_table_total_mass_equals_apply_units(spark, sf_dir):
    """Both faces read the same segmentation, so total unit mass must
    agree: Σ vocab_table.n_occurrences == Σ apply.n_merged_units."""
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_apply_merges,
        bpe_vocab_table,
    )

    vt = bpe_vocab_table(spark, sf_dir).agg(
        F.sum("n_occurrences").alias("s")
    ).collect()[0]["s"]
    ap = bpe_apply_merges(spark, sf_dir).agg(
        F.sum("n_merged_units").alias("s")
    ).collect()[0]["s"]
    assert vt == ap


# --------------------------------------------------------------------------
# Round-12 depth — bpe_compression_sweep: the merge-budget tuning
# curve. Each APPLIED merge removes exactly one symbol, so the curve
# decrements by the applied count: equal to bpe_learn_merges'
# n_occurrences when lhs != rhs, and between n/2 and n when the pair
# self-overlaps (lhs == rhs counts both positions of a run but greedy
# merging skips after each merge) — the cross-face identity that pins
# the sweep to the merge table.
# --------------------------------------------------------------------------


def test_compression_sweep_decrements_by_merge_counts(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_MERGE_ROUNDS,
        bpe_compression_sweep,
        bpe_learn_merges,
    )

    curve = {
        r["step"]: r for r in bpe_compression_sweep(spark, sf_dir).collect()
    }
    merges = {r["step"]: r for r in bpe_learn_merges(spark, sf_dir).collect()}
    assert len(curve) == BPE_MERGE_ROUNDS + 1
    assert curve[0]["merged"] is None
    assert float(curve[0]["compression_ratio"]) == 1.0
    for k in range(1, len(merges) + 1):
        assert curve[k]["merged"] == merges[k]["merged"]
        applied = curve[k - 1]["total_units"] - curve[k]["total_units"]
        n = merges[k]["n_occurrences"]
        if merges[k]["lhs"] != merges[k]["rhs"]:
            assert applied == n
        else:
            assert n / 2 <= applied <= n
        assert applied > 0  # the curve strictly decreases while merging


def test_compression_sweep_pads_after_early_stop(spark):
    """A corpus whose vocabulary fully merges before the budget: the
    remaining steps must pad with NULL rows (what the oracle's empty
    stage CTEs yield), keeping the curve length fixed."""
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_MERGE_ROUNDS,
        _compression_sweep_frame,
    )

    docs = spark.createDataFrame([(1, "ab ab ab")], ["doc_id", "text"])
    rows = {r["step"]: r for r in _compression_sweep_frame(spark, docs).collect()}
    assert len(rows) == BPE_MERGE_ROUNDS + 1
    # step 0: 2 chars × 3 occurrences of the one word
    assert rows[0]["total_units"] == 6
    assert rows[1]["merged"] == "ab" and rows[1]["total_units"] == 3
    assert float(rows[1]["compression_ratio"]) == 0.5
    for k in range(2, BPE_MERGE_ROUNDS + 1):
        r = rows[k]
        assert (
            r["merged"] is None
            and r["total_units"] is None
            and r["compression_ratio"] is None
        )


def test_learn_merges_with_stages_tracks_every_stage(spark):
    from udacity_dsnd_projects_spark.functions.text import (
        _learn_merges_with_stages,
    )

    vocab = spark.createDataFrame([("aaa", 2), ("ab", 3)], ["w", "cnt"])
    merges, stages = _learn_merges_with_stages(vocab, rounds=2)
    assert len(stages) == len(merges) + 1 == 3
    # stage frames are materialized snapshots. Stage 0: aaa→3·2 + ab→2·3
    # = 12. Merge 1 is (a,a,4) — 4 OVERLAPPING positions, but greedy
    # merging applies once per 'aaa' (→ [aa, a]), removing 2 symbols:
    # 10. Merge 2 is (a,b,3), lhs≠rhs so all 3 apply: 7.
    totals = [
        s.agg(F.sum(F.col("cnt") * F.size("syms")).alias("t")).collect()[0]["t"]
        for s in stages
    ]
    assert totals == [12, 10, 7]
    assert merges == [("a", "a", 4), ("a", "b", 3)]


# --------------------------------------------------------------------------
# Round-12 depth — bpe_seq_pack_bins: packing on merge-aware counts.
# The per-doc unit count must be bpe_apply_merges' n_merged_units
# (same merges, same fold — no second tokenizer to drift), and bins
# must be contiguous in stream order within each language.
# --------------------------------------------------------------------------


def test_bpe_seq_pack_units_equal_apply_counts(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        bpe_apply_merges,
        bpe_seq_pack_bins,
    )

    ap = {
        r["doc_id"]: r["n_merged_units"]
        for r in bpe_apply_merges(spark, sf_dir).collect()
    }
    pk = {
        r["doc_id"]: r["n_units"]
        for r in bpe_seq_pack_bins(spark, sf_dir).collect()
    }
    assert pk == ap


def test_bpe_seq_pack_bins_contiguous_per_lang(spark, sf_dir):
    from collections import defaultdict

    from udacity_dsnd_projects_spark.functions.text import (
        BPE_PACK_BUDGET,
        bpe_seq_pack_bins,
    )

    by_lang = defaultdict(list)
    for r in bpe_seq_pack_bins(spark, sf_dir).collect():
        by_lang[r["lang"]].append(r)
    assert len(by_lang) > 1
    saw_multi_bin = False
    for rows in by_lang.values():
        rows.sort(key=lambda r: r["doc_id"])
        run = 0
        prev_bin = 0
        for r in rows:
            assert r["cum_units"] == run + r["n_units"]
            assert r["bin"] == run // BPE_PACK_BUDGET
            assert r["bin"] >= prev_bin  # contiguous, never back-fills
            run += r["n_units"]
            prev_bin = r["bin"]
        saw_multi_bin = saw_multi_bin or prev_bin > 0
    assert saw_multi_bin  # the fixture corpus spans multiple bins


def test_ann_probe_agreement_face_agrees(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.similarity import (
        PROBE_HAMMING,
        ann_probe_agreement,
    )

    rows = ann_probe_agreement(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["probe_hamming"] == PROBE_HAMMING
    assert r["agree"] is True
    assert r["sweep_n_hits"] == r["report_n_hits"]
    assert float(r["sweep_mean_recall"]) == float(r["report_mean_recall"])


# --------------------------------------------------------------------------
# Round-12 depth — tokenizer_drift_report: merges learned on the
# snapshot half only, fertility compared across halves per source.
# --------------------------------------------------------------------------


def test_tokenizer_drift_crafted_split(spark):
    """Train half (even doc_ids) is pure 'ab' so the learned tokenizer
    merges exactly 'ab'; the eval half carries unseen 'cd', which stays
    2 units/word — fertility drift is positive and exact."""
    from udacity_dsnd_projects_spark.functions.text import (
        _tokenizer_drift_frame,
    )

    docs = spark.createDataFrame(
        [
            (0, "ab ab", "s"),
            (2, "ab", "s"),
            (1, "ab cd", "s"),
        ],
        ["doc_id", "text", "source"],
    )
    r = _tokenizer_drift_frame(spark, docs).collect()
    assert len(r) == 1
    row = r[0]
    assert row["train_docs"] == 2 and row["eval_docs"] == 1
    # train: 3 words, all merged to 1 unit → fertility 1.0
    assert float(row["train_fertility"]) == 1.0
    # eval: 'ab'→1 unit, 'cd'→2 units → 3 units / 2 words = 1.5
    assert float(row["eval_fertility"]) == 1.5
    assert float(row["fertility_drift"]) == 0.5


def test_tokenizer_drift_splits_cover_corpus(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        tokenizer_drift_report,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    totals = {
        r["source"]: r["n"]
        for r in load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = tokenizer_drift_report(spark, sf_dir).collect()
    assert {r["source"] for r in rows} == set(totals)
    for r in rows:
        assert r["train_docs"] + r["eval_docs"] == totals[r["source"]]
        # every non-empty split of the synthetic corpus has eligible
        # words; a split with no docs at all reports NULL fertility
        if r["train_docs"] > 0:
            assert float(r["train_fertility"]) > 0
        else:
            assert r["train_fertility"] is None
        if r["eval_docs"] > 0:
            assert float(r["eval_fertility"]) > 0
        else:
            assert r["eval_fertility"] is None


def test_bpe_pack_efficiency_ties_to_bpe_bins(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_PACK_BUDGET,
        bpe_pack_efficiency,
        bpe_seq_pack_bins,
    )

    eff = bpe_pack_efficiency(spark, sf_dir).collect()
    bins = bpe_seq_pack_bins(spark, sf_dir).collect()
    used = {}
    for r in bins:
        k = (r["lang"], r["bin"])
        n, u = used.get(k, (0, 0))
        used[k] = (n + 1, u + r["n_units"])
    assert {(r["lang"], r["bin"]): (r["n_docs"], r["used_units"]) for r in eff} == used
    for r in eff:
        assert r["overflow_units"] == max(0, r["used_units"] - BPE_PACK_BUDGET)


def test_bpe_merge_stability_agrees_with_per_half_learns(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_MERGE_ROUNDS,
        _bpe_vocab,
        _learn_merges,
        bpe_merge_stability,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    e = _learn_merges(_bpe_vocab(docs.filter(F.col("doc_id") % 2 == 0)))
    o = _learn_merges(_bpe_vocab(docs.filter(F.col("doc_id") % 2 == 1)))
    rows = {r["step"]: r for r in bpe_merge_stability(spark, sf_dir).collect()}
    assert len(rows) == BPE_MERGE_ROUNDS
    for k in range(BPE_MERGE_ROUNDS):
        r = rows[k + 1]
        we = e[k][0] + e[k][1] if k < len(e) else None
        wo = o[k][0] + o[k][1] if k < len(o) else None
        assert r["merged_even"] == we and r["merged_odd"] == wo
        assert r["agree"] == (we == wo)
    # the synthetic halves share a distribution: step 1 must agree
    assert rows[1]["agree"] is True


def _preorder_join_names(node):
    """Node names of every *Join* node in preorder (parents before
    children) — plan-TREE walk, not print-order string positions, so
    the assertion survives plan-FORMAT changes. AdaptiveSparkPlan is a
    LEAF whose wrapped plan hangs off inputPlan(), not children() —
    unwrap it explicitly. NOTE: inputPlan() is the pre-AQE initial
    physical plan; a runtime AQE join-strategy swap would only be
    visible in executedPlan() after an action. The broadcast-hint
    check in the optimized LOGICAL plan is what actually pins the
    strategy across AQE."""
    out = []
    name = node.nodeName()
    if "Join" in name:
        out.append(name)
    if name == "AdaptiveSparkPlan":
        out.extend(_preorder_join_names(node.inputPlan()))
    kids = node.children()
    for i in range(kids.length()):
        out.extend(_preorder_join_names(kids.apply(i)))
    return out


def test_ann_probe_agreement_vacuous_on_empty_warehouse(spark, tmp_path):
    """No embeddings → both readouts count 0 hits; vacuous agreement
    must read agree=true (0 == 0 hits, NULL == NULL recall), not a
    spurious 0-vs-NULL disagreement."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        ann_probe_agreement,
    )

    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = ann_probe_agreement(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["sweep_n_hits"] == 0 and r["report_n_hits"] == 0
    assert r["sweep_mean_recall"] is None and r["report_mean_recall"] is None
    assert r["agree"] is True


# --------------------------------------------------------------------------
# Independent-referee property tests for the BPE machinery. The DuckDB
# oracles run the SAME delimited-string replace trick as the Spark
# plan, so a subtle flaw in that trick would agree cross-engine and
# slip the hash gate. A pure-Python Sennrich implementation (symbol
# lists, no string tricks) is the independent referee: learning
# (count-overlapping pairs, (n DESC, x, y) argmax, greedy single-pass
# rewrite) and unit counting must match it on arbitrary tiny vocabs.
# --------------------------------------------------------------------------

import pytest  # noqa: E402
from hypothesis import given, settings, strategies as st  # noqa: E402


def _py_apply_one(syms, x, y):
    out = []
    for s in syms:
        if out and out[-1] == x and s == y:
            out[-1] = x + y
        else:
            out.append(s)
    return out


def _py_learn(vocab_items, rounds):
    from collections import Counter

    segs = [(list(w), c) for w, c in vocab_items]
    merges = []
    for _ in range(rounds):
        stats = Counter()
        for syms, cnt in segs:
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += cnt
        if not stats:
            break
        (x, y), n = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((x, y, n))
        segs = [(_py_apply_one(s, x, y), c) for s, c in segs]
    return merges, segs


# Three ASCII letters so distinct pairs can tie on count (the
# (n DESC, x, y) tie-break path), plus a non-ASCII code point so the
# delimited-replace trick and the code-point substr/length arithmetic
# are exercised on multibyte text (ADVICE r12 — 'ab' alone never left
# the single-byte happy path).
_VOCABS = st.dictionaries(
    st.text(alphabet="abcé", min_size=1, max_size=6),
    st.integers(min_value=1, max_value=4),
    min_size=1,
    max_size=6,
)


@pytest.mark.slow
@given(_VOCABS)
@settings(max_examples=10, deadline=None)
def test_learn_merges_matches_pure_python_reference(spark, vocab):
    from udacity_dsnd_projects_spark.functions.text import _learn_merges

    items = sorted(vocab.items())
    got = _learn_merges(
        spark.createDataFrame(items, ["w", "cnt"]), rounds=4
    )
    want, _ = _py_learn(items, rounds=4)
    assert got == want


@pytest.mark.slow
@given(_VOCABS)
@settings(max_examples=10, deadline=None)
def test_word_units_fn_matches_pure_python_apply(spark, vocab):
    """The baked replace-chain unit counter (what bpe_apply_merges,
    the packing faces and the mixture face all share) must equal
    symbol-list BPE applied rule by rule."""
    from udacity_dsnd_projects_spark.functions.text import _word_units_fn

    items = sorted(vocab.items())
    merges, segs = _py_learn(items, rounds=4)
    fn = _word_units_fn(merges)
    got = {
        r["w"]: r["u"]
        for r in spark.createDataFrame(items, ["w", "cnt"])
        .select("w", fn(F.col("w")).alias("u"))
        .collect()
    }
    assert got == {w: len(s) for (w, _), (s, _) in zip(items, segs)}
