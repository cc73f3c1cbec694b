"""Behavioral + plan tests for the round-5 second batch: epoch
upsampling and the kNN graph. (Oracle equivalence for every registered
face is in test_queries.py.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Mixture upsampling
# --------------------------------------------------------------------------


def test_mixture_upsample_epoch_counts(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import pipeline as p

    rows = p.mixture_upsample(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in per_doc.items():
        w = rs[0]["up_weight"]
        assert 0 < w <= p.UPSAMPLE_MAX_W
        # epochs are 1..n with n = floor(w) or floor(w)+1
        epochs = sorted(r["epoch"] for r in rs)
        assert epochs == list(range(1, len(epochs) + 1))
        assert len(epochs) in (math.floor(w), math.floor(w) + 1)


def test_mixture_upsample_balances_sources(spark, sf_dir):
    """Achieved token mass per source should land near the uniform
    FACTOR-scaled share (Bernoulli fractional epochs → loose bound),
    and at least one source must genuinely repeat (epoch 2 exists)."""
    from udacity_dsnd_projects_spark.functions import pipeline as p

    df = p.mixture_upsample(spark, sf_dir)
    assert df.filter(F.col("epoch") >= 2).count() > 0
    got = {
        r["source"]: r["t"]
        for r in df.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    tot = sum(got.values())
    mean = tot / len(got)
    for src, t in got.items():
        # uncapped sources sit within ±40% of the mean share; capped
        # ones (tiny sources at MAX_W epochs) may fall below
        assert t < mean * 1.8, (src, t, mean)


def test_mixture_upsample_deterministic(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import pipeline as p

    a = sorted(map(tuple, p.mixture_upsample(spark, sf_dir).collect()))
    b = sorted(map(tuple, p.mixture_upsample(spark, sf_dir).collect()))
    assert a == b


# --------------------------------------------------------------------------
# kNN graph
# --------------------------------------------------------------------------
def test_knn_graph_shape(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import similarity as sim

    rows = sim.knn_graph(spark, sf_dir).collect()
    assert rows
    per_vec: dict[int, list] = {}
    for r in rows:
        assert r["vec_id"] != r["nbr_id"]
        assert 1 <= r["rn"] <= sim.KNN_K
        per_vec.setdefault(r["vec_id"], []).append(r)
    for v, rs in per_vec.items():
        assert len(rs) <= sim.KNN_K
        # ranks are dense from 1 and ordered by descending cosine
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_knn_graph_edges_are_within_cluster_and_symmetric_candidates(spark, sf_dir):
    """Every edge must connect two members of the same k-means cluster
    (the IVF-style recall contract), and the underlying pair substrate
    is symmetric — if (a→b) ranked, b saw the same pair as candidate."""
    from udacity_dsnd_projects_spark.functions import similarity as sim

    cluster = {
        r["vec_id"]: r["cluster"]
        for r in sim._cluster_members(spark, sf_dir).collect()
    }
    edges = sim.knn_graph(spark, sf_dir).collect()
    for r in edges:
        assert cluster[r["vec_id"]] == cluster[r["nbr_id"]]


def test_knn_graph_window_group_limit_pushdown(spark, sf_dir):
    """rank<=K over the maximal-cardinality vec_id partition must ride
    WindowGroupLimit (map-side pre-limit before the exchange)."""
    from udacity_dsnd_projects_spark.functions import similarity as sim

    plan = (
        sim.knn_graph(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


# --------------------------------------------------------------------------
# pack_efficiency
# --------------------------------------------------------------------------
def test_pack_efficiency_consistent_with_bins(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import pipeline as p

    bins = p.seq_pack_bins(spark, sf_dir).collect()
    eff = {(r["lang"], r["bin"]): r for r in p.pack_efficiency(spark, sf_dir).collect()}
    agg: dict[tuple, list[int]] = {}
    for r in bins:
        agg.setdefault((r["lang"], r["bin"]), []).append(r["n_tok"])
    assert set(agg) == set(eff)
    for k, toks in agg.items():
        e = eff[k]
        assert e["n_docs"] == len(toks)
        assert e["used_tokens"] == sum(toks)
        assert e["overflow_tokens"] == max(0, sum(toks) - p.SEQ_PACK_BUDGET)
        # a bin overflows by at most one document minus one token
        if e["overflow_tokens"] > 0:
            assert e["overflow_tokens"] < max(toks)


# --------------------------------------------------------------------------
# vocab_oov_rate
# --------------------------------------------------------------------------
def test_vocab_oov_rate_consistent_with_coverage_vocab(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import text as t

    vocab = {r["token"] for r in t.vocab_coverage(spark, sf_dir).collect()}
    rows = t.vocab_oov_rate(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        assert 0 <= r["n_oov"] <= r["n_tok"]
        assert 0.0 <= r["oov_rate"] <= 1.0
    # spot-check one document end-to-end against the vocab set
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(3).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for d in docs:
        toks = d["text"].strip().lower().split()
        oov = sum(1 for tok in toks if tok not in vocab)
        assert by_id[d["doc_id"]]["n_tok"] == len(toks)
        assert by_id[d["doc_id"]]["n_oov"] == oov


# --------------------------------------------------------------------------
# nfc_normalize
# --------------------------------------------------------------------------
def test_nfc_normalize_residue_semantics(spark, sf_dir):
    """Decomposed residues (0: e+U+0301, 2: A+U+030A) must compose —
    one code point shorter; precomposed (1) and plain (3) unchanged."""
    from udacity_dsnd_projects_spark.functions import text as t

    for r in t.nfc_normalize(spark, sf_dir).collect():
        if r["doc_id"] % 4 in (0, 2):
            assert r["changed"] is True
            assert r["n_raw_cp"] - r["n_nfc_cp"] == 1
        else:
            assert r["changed"] is False
            assert r["n_raw_cp"] == r["n_nfc_cp"]


# --------------------------------------------------------------------------
# ANN recall report
# --------------------------------------------------------------------------
def test_ann_recall_matches_set_intersection(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import similarity as sim

    bf: dict[int, set[int]] = {}
    for r in sim.cosine_topk_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf: dict[int, set[int]] = {}
    for r in sim.cosine_topk_ivf(spark, sf_dir).collect():
        ivf.setdefault(r["query_id"], set()).add(r["vec_id"])
    rep = {r["query_id"]: r for r in sim.ann_recall_report(spark, sf_dir).collect()}
    assert set(rep) == set(bf)
    for q, hits in bf.items():
        n = len(hits & ivf.get(q, set()))
        assert rep[q]["n_hits"] == n
        assert abs(rep[q]["recall"] - n / sim.TOP_K) < 1e-9
        assert 0.0 <= rep[q]["recall"] <= 1.0
