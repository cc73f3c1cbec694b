"""Round-5 fifth batch (training + extras): plan properties and edge
semantics for the sliding-window chunker, the curriculum scheduler
and the skew profile. Value correctness is covered by
tests/test_queries.py's oracle replica; these tests pin the SCALE
properties (single scans, no stray shuffles or global sorts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark import registry


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# --- training.py: sliding windows + curriculum -----------------------------


def test_sliding_window_chunks_no_shuffle_and_tiling(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import training as tr

    plan = _plan(spark, sf_dir, "sliding_window_chunks")
    # row-local explode: the whole operator is one scan, zero exchanges
    assert "Exchange" not in plan
    df = registry.queries()["sliding_window_chunks"](spark, sf_dir)
    w, s = tr.WINDOW_TOKS, tr.WINDOW_STRIDE
    # starts advance by exactly the stride and every non-final window
    # is full-size; the final window reaches the end of the doc
    assert df.filter(F.col("start_tok") != F.col("win_id") * s).count() == 0
    last = df.groupBy("doc_id").agg(F.max("win_id").alias("mx"))
    nonfinal = df.join(last, "doc_id").filter(F.col("win_id") < F.col("mx"))
    assert nonfinal.filter(F.col("win_len") != w).count() == 0
    assert df.filter(F.col("win_len") <= 0).count() == 0


def test_curriculum_order_phases_balanced_and_positions_dense(spark, sf_dir):
    from udacity_dsnd_projects_spark.functions import training as tr

    df = registry.queries()["curriculum_order"](spark, sf_dir)
    sizes = df.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n"), F.max("position").alias("mx"),
        F.min("position").alias("mn"),
        F.countDistinct("position").alias("nd"),
    )
    rows = sizes.collect()
    assert len(rows) == tr.CURRICULUM_PHASES
    # NTILE balance: phase sizes differ by at most 1
    ns = [r.n for r in rows]
    assert max(ns) - min(ns) <= 1
    # positions are dense 1..n within each phase
    for r in rows:
        assert (r.mn, r.mx, r.nd) == (1, r.n, r.n)


def test_window_chunks_matches_python_reference_on_random_docs(spark):
    """Property check: the chunker's Spark-side window math equals a
    straightforward Python reference on random token counts — pinned
    over the seam where the single-window case meets the multi-window
    ceil-division (n ≤ W vs n > W), including exact-boundary lengths.

    hypothesis would shrink failures better, but a Spark round-trip
    per example is too slow for its default budget — a deterministic
    sweep over every length around the boundaries plus a coarse tail
    covers the same seam."""
    import hashlib

    from udacity_dsnd_projects_spark.functions.training import (
        WINDOW_STRIDE as S,
        WINDOW_TOKS as W,
        window_chunks,
    )
    from pyspark.sql import types as T

    lengths = sorted(
        set(
            list(range(1, 2))
            + list(range(W - 2, W + 3))
            + list(range(W + S - 2, W + S + 3))
            + list(range(W + 2 * S - 2, W + 2 * S + 3))
            + [200, 333, 500]
        )
    )
    rows = [
        (i, " ".join(f"w{(i * 31 + j) % 13}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    got = {
        (r.doc_id, r.win_id): (r.start_tok, r.win_len, r.win_hash)
        for r in window_chunks(spark.createDataFrame(rows, schema)).collect()
    }

    expected = {}
    for i, n in enumerate(lengths):
        toks = [f"w{(i * 31 + j) % 13}" for j in range(n)]
        n_win = 1 if n <= W else -((n - W) // -S) + 1  # ceil div
        for k in range(n_win):
            start = k * S
            window = toks[start : start + W]
            expected[(i, k)] = (
                start,
                len(window),
                hashlib.md5(" ".join(window).encode()).hexdigest(),
            )
    assert got == expected


def test_skew_profile_is_take_ordered_over_key_frame(spark, sf_dir):
    # top-k must be a TakeOrdered over the ALREADY-AGGREGATED key
    # frame (one hash aggregate pair for the groupBy, a broadcast for
    # the 1-row totals), never a global sort of fact rows
    plan = _plan(spark, sf_dir, "skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    df = registry.queries()["skew_profile"](spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    # shares are a probability mass subset; ratios positive
    assert all(0 < r.row_share <= 1 and r.skew_ratio > 0 for r in rows)
    assert sum(r.row_share for r in rows) <= 1.0 + 1e-9
