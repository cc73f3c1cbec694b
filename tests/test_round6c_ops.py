"""Round-6 third-wave operators: per-type OLS trend and the event
analytics beside it.

Oracle equality runs via the registry parameterization in
tests/test_queries.py; these pin oracle-independent properties.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.operators.analytics import value_trend_by_type

SF = "/root/testdata/sf0.001"


# --- value_trend_by_type ---------------------------------------------------
def test_trend_matches_numpy_ols(spark):
    """slope/intercept/r2 must agree with numpy's OLS on the same
    daily aggregates (catches any moment-formula or scaling slip)."""
    import numpy as np

    from udacity_dsnd_projects_spark.sources.catalog import load_table

    ev = load_table(spark, "events", SF)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(30,6)")).alias("y"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append((r.d, float(r.y)))
    got = {r.event_type: r for r in value_trend_by_type(spark, SF).collect()}
    assert set(got) == set(by_type)
    for t, pts in by_type.items():
        pts.sort()
        d0 = pts[0][0]
        x = np.array([(d - d0).days for d, _ in pts], dtype=float)
        y = np.array([v for _, v in pts])
        r = got[t]
        assert r.n_days == len(pts)
        if len(pts) < 2 or np.var(x) == 0:
            assert r.slope is None
            continue
        slope, intercept = np.polyfit(x, y, 1)
        assert math.isclose(r.slope, slope, rel_tol=1e-4, abs_tol=1e-4)
        assert math.isclose(r.intercept, intercept, rel_tol=1e-4, abs_tol=1e-3)
        if np.var(y) > 0:
            r2 = np.corrcoef(x, y)[0, 1] ** 2
            assert math.isclose(r.r2, r2, rel_tol=1e-4, abs_tol=1e-6)


# --- session_path_topk -----------------------------------------------------
def test_session_paths_shape_and_plan(spark):
    from udacity_dsnd_projects_spark.operators.analytics import (
        PATH_LEN,
        PATH_TOP_K,
        session_path_topk,
    )

    df = session_path_topk(spark, SF)
    rows = df.collect()
    assert 0 < len(rows) <= PATH_TOP_K
    for r in rows:
        assert 1 <= len(r.path.split(">")) <= PATH_LEN
        assert r.n_users > 0
        assert 0.0 < r.user_share <= 1.0
    # shares over ALL paths sum to <=1 (top-K is a subset); each share
    # is rounded to 6 decimals, so allow half-ulp-per-row slack
    assert sum(r.user_share for r in rows) <= 1.0 + len(rows) * 5e-7
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# --- customer_rfm ----------------------------------------------------------
def test_rfm_quartiles_are_balanced(spark):
    from udacity_dsnd_projects_spark.operators.analytics import customer_rfm

    rows = customer_rfm(spark, SF).collect()
    n = len(rows)
    assert n > 0
    for dim in ("r_score", "f_score", "m_score"):
        sizes = {}
        for r in rows:
            v = getattr(r, dim)
            assert 1 <= v <= 4
            sizes[v] = sizes.get(v, 0) + 1
        # NTILE(4): tile sizes differ by at most 1
        assert max(sizes.values()) - min(sizes.values()) <= 1
    for r in rows:
        assert r.rfm_cell == r.r_score * 100 + r.f_score * 10 + r.m_score


def test_rfm_best_scores_align_with_raw_values(spark):
    """A customer scored 4 on a dimension must dominate (or tie) every
    customer scored 1 on the RAW value of that dimension."""
    from udacity_dsnd_projects_spark.operators.analytics import customer_rfm

    rows = customer_rfm(spark, SF).collect()
    worst_recency_of_best = max(r.recency_days for r in rows if r.r_score == 4)
    best_recency_of_worst = min(r.recency_days for r in rows if r.r_score == 1)
    assert worst_recency_of_best <= best_recency_of_worst
    least_spend_of_best = min(r.monetary for r in rows if r.m_score == 4)
    most_spend_of_worst = max(r.monetary for r in rows if r.m_score == 1)
    assert least_spend_of_best >= most_spend_of_worst


# --- quantization_error_report ---------------------------------------------
def test_quantization_error_honors_theoretical_bound(spark):
    """Int8 min-max quantization can be off by at most HALF a step per
    element: (hi - lo)/255/2. Verify the reported worst error against
    the per-vector bound computed independently."""
    from udacity_dsnd_projects_spark.functions.similarity import (
        _as_double,
        quantization_error_report,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    bound = (
        load_table(spark, "embeddings", SF)
        .select(_as_double(F.col("embedding")).alias("v"))
        .select(
            ((F.array_max("v") - F.array_min("v")) / 255.0 / 2.0).alias("b")
        )
        .agg(F.max("b"))
        .first()[0]
    )
    rows = quantization_error_report(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.mean_mean_abs_err <= r.mean_max_abs_err + 1e-9
        assert r.mean_max_abs_err <= r.worst_abs_err + 1e-9
        assert r.worst_abs_err <= bound * (1 + 1e-9) + 1e-9


# --- ship_latency_quantiles ------------------------------------------------
def test_latency_quantiles_monotone_per_priority(spark):
    from udacity_dsnd_projects_spark.operators.analytics import (
        QUANTILE_PROBES,
        ship_latency_quantiles,
    )

    rows = ship_latency_quantiles(spark, SF).collect()
    by_p: dict[str, dict[float, int]] = {}
    for r in rows:
        by_p.setdefault(r.priority, {})[r.quantile] = r.latency_days
    assert len(by_p) >= 2, "multiple priority classes"
    for p, qs in by_p.items():
        assert set(qs) == set(QUANTILE_PROBES), p
        vals = [qs[q] for q in sorted(qs)]
        assert vals == sorted(vals), f"quantiles must be monotone for {p}"
        # NOTE: the synthetic corpus draws l_shipdate independently of
        # o_orderdate, so signed latencies (negative days) are expected
        # here; real TPC-H data would make these all non-negative.


def test_latency_quantiles_match_driver_side(spark):
    """p50 must equal the value at rank ceil(0.5*n) of a driver-side
    sort of the same latencies (one priority class is enough)."""
    import math as m

    from udacity_dsnd_projects_spark.operators.analytics import (
        ship_latency_quantiles,
    )
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", SF).select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    orders = load_table(spark, "orders", SF).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    lat = (
        li.join(orders, "l_orderkey")
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
                "ld"
            ),
            "l_orderkey",
            "l_linenumber",
        )
        .collect()
    )
    p = lat[0]["o_orderpriority"]
    vals = sorted(
        (r.ld, r.l_orderkey, r.l_linenumber) for r in lat if r.o_orderpriority == p
    )
    want = vals[m.ceil(0.5 * len(vals)) - 1][0]
    got = {
        r.quantile: r.latency_days
        for r in ship_latency_quantiles(spark, SF).collect()
        if r.priority == p
    }
    assert got[0.5] == want


# --- label_separation_report -----------------------------------------------
def test_label_separation_geometry(spark):
    from udacity_dsnd_projects_spark.functions.similarity import (
        label_separation_report,
    )

    rows = label_separation_report(spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.n_vecs > 0
        assert r.within_dist >= 0.0
        assert r.between_dist >= 0.0
        if r.separation is not None:
            assert r.separation >= 0.0
            assert abs(r.separation - r.between_dist / r.within_dist) < 1e-4


# --- ntile_from_rank equivalence -------------------------------------------
def test_ntile_from_rank_equals_window_ntile(spark):
    """ntile_from_rank must be bit-for-bit the window function's
    assignment for every (n, k) shape — ragged remainders included.
    customer_rfm's quartiles ride on this."""
    from pyspark.sql import Window

    from udacity_dsnd_projects_spark.operators.ranks import ntile_from_rank

    rows = []
    for gi, n in enumerate([1, 2, 3, 4, 5, 7, 8, 97, 100, 103]):
        rows.extend((gi, i) for i in range(1, n + 1))
    df = spark.createDataFrame(rows, "g INT, x INT")
    w = Window.partitionBy("g").orderBy("x")
    for k in (2, 3, 4, 7):
        got = (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))
            .select(
                "g",
                "x",
                ntile_from_rank(F.col("rk"), F.col("n"), k).alias("mine"),
                F.ntile(k).over(w).alias("theirs"),
            )
            .filter(F.col("mine") != F.col("theirs"))
            .count()
        )
        assert got == 0, f"NTILE({k}) mismatch on {got} rows"


# --- transition_stateful under Arrow chunk splitting -----------------------
def test_transition_stream_survives_chunked_groups(spark, tmp_path_factory):
    """A group whose rows exceed arrow.maxRecordsPerBatch arrives as
    SEVERAL pandas chunks; the operator must concatenate + sort ONCE
    or boundary transitions corrupt. Force 4-row chunks and replay one
    user with 20 events."""
    from pyspark.sql import types as T

    from udacity_dsnd_projects_spark.streaming.sources import (
        file_stream,
        run_to_memory,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import transition_stateful

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        root = tmp_path_factory.mktemp("transchunk")
        path = str(root / "events")
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        )
        import datetime as dt

        base = dt.datetime(2024, 3, 1)
        types = ["a", "b", "c", "d"]
        rows = [
            (7, base + dt.timedelta(minutes=i), i, types[i % 4])
            for i in range(20)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        got = run_to_memory(
            transition_stateful(file_stream(spark, path, schema, max_files_per_trigger=1)),
            "trans_chunked",
        ).collect()
        # 19 transitions in exact event order: a>b, b>c, c>d, d>a, ...
        assert len(got) == 19
        pairs = {(r.prev_type, r.next_type) for r in got}
        want = {(types[i % 4], types[(i + 1) % 4]) for i in range(19)}
        assert pairs == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


# --- dedup_method_agreement ------------------------------------------------
def test_method_agreement_accounting(spark):
    """The 1-row set comparison must be internally consistent and the
    two methods must actually overlap on the planted corpus."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        dedup_method_agreement,
        minhash_lsh_pairs,
        simhash_near_dup_pairs,
    )

    r = dedup_method_agreement(spark, SF).first()
    assert r.n_minhash == minhash_lsh_pairs(spark, SF).count()
    assert r.n_simhash == simhash_near_dup_pairs(spark, SF).count()
    assert 0 < r.n_both <= min(r.n_minhash, r.n_simhash)
    union = r.n_minhash + r.n_simhash - r.n_both
    assert abs(r.agreement_jaccard - r.n_both / union) < 1e-5
    assert (
        abs(
            r.agreement_jaccard
            + r.minhash_only_share
            + r.simhash_only_share
            - 1.0
        )
        < 3e-6
    )


# --- nation_supplier_hhi ---------------------------------------------------
def test_hhi_bounds_and_monopoly_floor(spark):
    """HHI lives in [1/n, 1]; top_share² is a lower bound; a nation's
    HHI must also dominate 1/n_suppliers (equality iff perfectly
    fragmented)."""
    from udacity_dsnd_projects_spark.operators.analytics import (
        nation_supplier_hhi,
    )

    rows = nation_supplier_hhi(spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.n_suppliers >= 1
        assert 0.0 < r.top_share <= 1.0
        assert 1.0 / r.n_suppliers - 1e-6 <= r.hhi <= 1.0 + 1e-6
        assert r.hhi >= r.top_share * r.top_share - 1e-6
        assert r.total_revenue > 0


# --- dow_seasonality / user_type_entropy -----------------------------------
def test_dow_shares_sum_to_one_per_type(spark):
    from udacity_dsnd_projects_spark.operators.analytics import dow_seasonality

    rows = dow_seasonality(spark, SF).collect()
    by_type: dict[str, float] = {}
    for r in rows:
        assert 0 <= r.dow <= 6
        assert abs(r.lift - r.share * 7) < 5e-6
        by_type[r.event_type] = by_type.get(r.event_type, 0.0) + r.share
    for t, s in by_type.items():
        assert abs(s - 1.0) < 1e-4, t


def test_user_entropy_matches_scipy_style_reference(spark):
    """Entropy must equal -sum p ln p computed driver-side, and a
    single-type user must score exactly 0."""
    import math as m

    from udacity_dsnd_projects_spark.operators.analytics import user_type_entropy
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    counts = (
        load_table(spark, "events", SF)
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in counts:
        per_user.setdefault(r.user_id, []).append(r["count"])
    got = {r.user_id: r for r in user_type_entropy(spark, SF).collect()}
    assert set(got) == set(per_user)
    for uid, cs in per_user.items():
        n = sum(cs)
        want = -sum(c / n * m.log(c / n) for c in cs)
        r = got[uid]
        assert r.n_events == n and r.n_types == len(cs)
        assert abs(r.entropy - want) < 1e-5
        if len(cs) == 1:
            assert r.entropy == 0.0
