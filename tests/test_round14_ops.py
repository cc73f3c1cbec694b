"""Round-14 tests: the learn-cache key hardening (VERDICT r13 task 3
/ ADVICE r13 — applicationId instead of id(session), so a recycled
CPython address can never alias a dead SparkContext's checkpointed
frames) and the clear-on-cap → LRU eviction upgrade."""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest


# --------------------------------------------------------------------------
# VERDICT r13 task 3 — the learn-cache key must be a session identity
# that cannot alias: sparkContext.applicationId (timestamp-derived),
# not id(session) (recycled by the allocator after GC).
# --------------------------------------------------------------------------


def test_learn_cache_key_is_application_id(spark):
    """The stored key's first component is the live context's
    applicationId string — not a CPython object address."""
    from udacity_dsnd_projects_spark.functions import text as t

    t._BPE_LEARN_CACHE.clear()
    vocab = spark.createDataFrame([("ab", 2), ("ba", 1)], ["w", "cnt"])
    t._learn_merges_with_stages(vocab, rounds=2)
    (key,) = t._BPE_LEARN_CACHE.keys()
    assert key[0] == spark.sparkContext.applicationId
    assert isinstance(key[0], str)
    t._BPE_LEARN_CACHE.clear()


@pytest.mark.slow
def test_learn_cache_no_aliasing_across_session_restart():
    """Stop a session, build a new one over the same vocab rows, and
    prove a FRESH learn: the new context's key differs (applicationId
    changed), the old entry is never hit (its checkpointed frames
    belong to the dead SparkContext), and the relearned merges agree
    by value. Runs in a subprocess so stopping sessions cannot hurt
    the session-scoped fixture."""
    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from udacity_dsnd_projects_spark.functions import text as t

        rows = [("abab", 3), ("ab", 2), ("ba", 1)]

        s1 = SparkSession.builder.master("local[2]").getOrCreate()
        s1.sparkContext.setLogLevel("ERROR")
        app1 = s1.sparkContext.applicationId
        m1, _ = t._learn_merges_with_stages(
            s1.createDataFrame(rows, ["w", "cnt"]), rounds=3
        )
        assert len(t._BPE_LEARN_CACHE) == 1
        s1.stop()

        s2 = SparkSession.builder.master("local[2]").getOrCreate()
        s2.sparkContext.setLogLevel("ERROR")
        app2 = s2.sparkContext.applicationId
        assert app2 != app1, "applicationId must change across contexts"
        # Must RELEARN (a stale hit would hand back frames bound to the
        # dead context and error on first use; a id()-keyed cache could
        # alias here). Fresh key, fresh entry, same merges by value.
        m2, stages2 = t._learn_merges_with_stages(
            s2.createDataFrame(rows, ["w", "cnt"]), rounds=3
        )
        assert len(t._BPE_LEARN_CACHE) == 2
        assert m2 == m1
        # the relearned stage frames are USABLE in the new context
        assert stages2[-1].count() > 0
        s2.stop()
        print("RESTART-OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RESTART-OK" in out.stdout


# --------------------------------------------------------------------------
# ADVICE r13 (optional note) — eviction is LRU, not clear-on-cap: the
# hottest entry must survive a cap overflow.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# VERDICT r13 task 2 — the training writer consumes chunk_dedup's
# keepers, and the reclaimed budget is conserved: packed + saved =
# pre-dedup total.
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_dir(spark, tmp_path_factory):
    """A corpus with PLANTED byte-identical chunks: docs 0/2/5 share
    one short text (one chunk each, identical content), docs 1/3 share
    another; doc 4 is unique. Every doc fits one chunk at
    BPE_CHUNK_BUDGET=128."""
    d = tmp_path_factory.mktemp("dup")
    boiler = "terms of service apply to all users of this site"
    nav = "home about contact privacy"
    rows = [
        (0, boiler, "en", "web", len(boiler)),
        (1, nav, "en", "web", len(nav)),
        (2, boiler, "en", "books", len(boiler)),
        (3, nav, "fr", "web", len(nav)),
        (4, "a genuinely unique sentence about spark packing", "en", "web", 48),
        (5, boiler, "fr", "books", len(boiler)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_pack_deduped_chunks_packs_every_keeper_exactly_once(spark, dup_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        BPE_PACK_BUDGET,
        chunk_dedup,
        pack_deduped_chunks,
    )

    keepers = {
        (r["chunk_hash"], r["canonical_doc_id"], r["canonical_chunk_id"]): r[
            "n_units"
        ]
        for r in chunk_dedup(spark, dup_dir).collect()
    }
    packed = pack_deduped_chunks(spark, dup_dir).collect()
    # one packed row per keeper, same identity, same unit cost
    assert {
        (r["chunk_hash"], r["canonical_doc_id"], r["canonical_chunk_id"]): r[
            "n_units"
        ]
        for r in packed
    } == keepers
    assert len(packed) == len(keepers) == 3  # boiler, nav, unique
    # the packing contract: cum_units is the running total in
    # (canonical_doc_id, canonical_chunk_id) order and a chunk's bin is
    # the one its FIRST unit lands in (the straddle rule)
    acc = 0
    for r in sorted(packed, key=lambda r: (r["canonical_doc_id"], r["canonical_chunk_id"])):
        assert r["bin"] == acc // BPE_PACK_BUDGET
        acc += r["n_units"]
        assert r["cum_units"] == acc


def test_pack_deduped_chunks_canonical_ids_are_first_occurrences(spark, dup_dir):
    from udacity_dsnd_projects_spark.functions.text import pack_deduped_chunks

    packed = pack_deduped_chunks(spark, dup_dir).collect()
    # keepers are the lexicographic-min (doc_id, chunk_id): docs 0, 1, 4
    assert sorted(r["canonical_doc_id"] for r in packed) == [0, 1, 4]


def test_chunk_dedup_accounting_conserves_units(spark, dup_dir, sf_dir):
    from udacity_dsnd_projects_spark.functions.text import (
        chunk_dedup_accounting,
    )

    # planted corpus: the identity holds AND real savings are visible
    (r,) = chunk_dedup_accounting(spark, dup_dir).collect()
    assert r["agree"] is True
    assert r["packed_units"] + r["saved_units"] == r["pre_dedup_units"]
    assert r["saved_units"] > 0  # 2 extra boiler copies + 1 extra nav
    # the real corpus: conservation must hold there too
    (r2,) = chunk_dedup_accounting(spark, sf_dir).collect()
    assert r2["agree"] is True
    assert r2["packed_units"] > 0


def _preorder_node_names(node):
    """Physical-plan node names in preorder — plan-TREE walk, not a
    rendered-string match, so the assertion survives plan-format
    changes across Spark versions (ADVICE r14; the
    _preorder_join_names doctrine from the round-12 tests).
    AdaptiveSparkPlan is a LEAF whose wrapped plan hangs off
    inputPlan(), not children() — unwrap it explicitly."""
    out = [node.nodeName()]
    if node.nodeName() == "AdaptiveSparkPlan":
        out.extend(_preorder_node_names(node.inputPlan()))
    kids = node.children()
    for i in range(kids.length()):
        out.extend(_preorder_node_names(kids.apply(i)))
    return out


def test_packer_materializes_keepers_once(spark, dup_dir):
    """The keeper frame must enter the prefix-sum machinery as a
    materialized checkpoint (Scan ExistingRDD), not as the live
    chunk-fold subtree: the machinery takes three passes, and losing
    the checkpoint re-runs the baked replace chain per pass (measured
    10.3 s vs 3.1 s at sf 0.1). Asserted structurally on the plan
    TREE: every leaf scan is the checkpointed RDD — no parquet scan of
    documents (the fold's only possible input) survives anywhere in
    the consumable plan."""
    from udacity_dsnd_projects_spark.functions.text import pack_deduped_chunks

    names = _preorder_node_names(
        pack_deduped_chunks(spark, dup_dir)._jdf.queryExecution().executedPlan()
    )
    scans = [n for n in names if "Scan" in n]
    assert scans, names
    assert any("ExistingRDD" in n for n in scans), scans
    # the expensive fold ran at construction; the consumable plan must
    # not re-derive chunks from the documents scan — a live fold would
    # re-introduce a parquet file scan below the prefix-sum machinery
    assert not any("parquet" in n.lower() or "FileScan" in n for n in scans), scans


def test_chunk_dedup_text_never_reaches_packer_shuffle(spark, dup_dir):
    """The hash-before-shuffle doctrine extends to the writer: no plan
    exchange in pack_deduped_chunks carries a text or words column —
    the shuffled rows are hash + small ints only."""
    from udacity_dsnd_projects_spark.functions.text import pack_deduped_chunks

    plan = (
        pack_deduped_chunks(spark, dup_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line and "ws#" not in line, line


def test_chunk_writer_faces_survive_empty_chunk_corpus(spark, tmp_path_factory):
    """A corpus with NO eligible words (empty / whitespace-only texts)
    yields an EMPTY chunk frame; the writer, the conservation gate,
    and the sharder must all agree with their oracles on it — pack and
    shard empty, accounting vacuously true (sums coalesce to 0) — and
    in particular the prefix-sum/rank machinery must tolerate an empty
    input frame."""
    import duckdb

    from udacity_dsnd_projects_spark.functions.text import (
        ORACLE_CHUNK_DEDUP_ACCOUNTING,
        chunk_dedup_accounting,
        pack_deduped_chunks,
        shard_packed_chunks,
    )

    d = tmp_path_factory.mktemp("nowords")
    spark.createDataFrame(
        [(0, "   ", "en", "web", 3), (1, "", "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    assert pack_deduped_chunks(spark, str(d)).count() == 0
    assert shard_packed_chunks(spark, str(d)).count() == 0
    (r,) = chunk_dedup_accounting(spark, str(d)).collect()
    assert (r["packed_units"], r["saved_units"], r["pre_dedup_units"]) == (0, 0, 0)
    assert r["agree"] is True
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    (orc,) = con.sql(ORACLE_CHUNK_DEDUP_ACCOUNTING).fetchall()
    assert orc == (0, 0, 0, True)


def test_shard_packed_chunks_deals_bins_round_robin(spark, sf_dir):
    """The chunk spine's last writer step: every packed bin lands in
    exactly one shard, shards are dealt round-robin over the md5 order
    (doc counts balanced to ±1), and the sharded unit total equals the
    packed unit total (nothing dropped between pack and shard)."""
    from udacity_dsnd_projects_spark.functions.pipeline import N_SHARDS
    from udacity_dsnd_projects_spark.functions.text import (
        pack_deduped_chunks,
        shard_packed_chunks,
    )

    packed = pack_deduped_chunks(spark, sf_dir).collect()
    rows = shard_packed_chunks(spark, sf_dir).collect()
    # one row per bin, all bins present
    assert sorted(r["bin"] for r in rows) == sorted(
        {r["bin"] for r in packed}
    )
    assert sum(r["n_units"] for r in rows) == sum(
        r["n_units"] for r in packed
    )
    # round-robin over (sort_key, bin): shard i gets ranks i, i+N, ...
    order = sorted(rows, key=lambda r: (r["sort_key"], r["bin"]))
    for i, r in enumerate(order):
        assert r["shard"] == i % N_SHARDS
        assert r["pos"] == i // N_SHARDS
    # doc-count balance: ±1 by construction
    from collections import Counter

    per = Counter(r["shard"] for r in rows)
    if len(per) > 1:
        assert max(per.values()) - min(per.values()) <= 1
    # deterministic: a rerun is bit-identical (no RNG state)
    again = shard_packed_chunks(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_learn_cache_lru_eviction_keeps_hot_entry(spark, monkeypatch):
    from udacity_dsnd_projects_spark.functions import text as t

    t._BPE_LEARN_CACHE.clear()
    monkeypatch.setattr(t, "_BPE_LEARN_CAP", 3)
    vocabs = [
        spark.createDataFrame([(w, 2)], ["w", "cnt"]) for w in ("aa", "bb", "cc", "dd")
    ]
    t._learn_merges_with_stages(vocabs[0], rounds=1)  # A
    t._learn_merges_with_stages(vocabs[1], rounds=1)  # B
    t._learn_merges_with_stages(vocabs[2], rounds=1)  # C  (cache full)
    keys = list(t._BPE_LEARN_CACHE)
    a_key, b_key = keys[0], keys[1]
    # touch A — now B is the least-recently-used
    hit = t._learn_merges_with_stages(vocabs[0], rounds=1)
    assert t._BPE_LEARN_CACHE[a_key] == hit
    # D overflows the cap: ONLY B is evicted; hot A survives
    t._learn_merges_with_stages(vocabs[3], rounds=1)
    assert len(t._BPE_LEARN_CACHE) == 3
    assert a_key in t._BPE_LEARN_CACHE
    assert b_key not in t._BPE_LEARN_CACHE
    t._BPE_LEARN_CACHE.clear()
