"""Behavioral tests for scd2_history, trade_pagerank, and the z-order
layout (oracle equivalence for the first two is in test_queries.py;
z-order is infra, verified by parquet footer statistics)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.functions import graph as g
from udacity_dsnd_projects_spark.operators import windows as w
from udacity_dsnd_projects_spark.sources.catalog import load_table
from udacity_dsnd_projects_spark.sources.layout import write_zordered


def test_scd2_intervals_tile_each_user(spark, sf_dir):
    out = w.scd2_history(spark, sf_dir).toPandas()
    # exactly one open (current) interval per user
    cur_counts = out.groupby("user_id")["is_current"].sum()
    assert (cur_counts == 1).all()
    for _, grp in out.groupby("user_id"):
        grp = grp.sort_values("valid_from")
        # intervals chain: each valid_to equals the next valid_from
        nxt = grp["valid_from"].iloc[1:].to_numpy()
        ends = grp["valid_to"].iloc[:-1].to_numpy()
        assert (ends == nxt).all()
        # consecutive states differ (duplicates collapsed)
        states = grp["state"].to_numpy()
        assert (states[1:] != states[:-1]).all()


def test_pagerank_mass_and_bipartite_sides(spark, sf_dir):
    pr = g.trade_pagerank(spark, sf_dir).toPandas()
    # unnormalized form: mean rank ~ 1 (exact only at convergence;
    # 3 iterations on a symmetric graph stays within a few percent)
    assert abs(pr["rank"].mean() - 1.0) < 0.05
    assert (pr["rank"] > 0).all()
    sides = set(pr["side"])
    assert sides == {"customer", "supplier"}
    # high-degree suppliers (few suppliers serve many customers)
    # should outrank the average customer
    assert (
        pr[pr["side"] == "supplier"]["rank"].mean()
        > pr[pr["side"] == "customer"]["rank"].mean()
    )


def test_pagerank_star_graph_center_dominates(spark):
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)],
        ["src", "dst"],
    )
    pr = {r["node"]: r["rank"] for r in g.pagerank(edges).collect()}
    assert pr[0] > max(pr[i] for i in range(1, 9)) * 3


def _file_stat_areas(path: str, col_a: str, col_b: str) -> list[float]:
    """Per-parquet-file normalized (min,max) rectangle area over the
    two columns, from footer statistics."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    los_a, his_a, los_b, his_b = [], [], [], []
    per_file = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        cols = [md.schema.column(j).name for j in range(md.num_columns)]
        ia, ib = cols.index(col_a), cols.index(col_b)
        a_min = min(md.row_group(i).column(ia).statistics.min for i in range(md.num_row_groups))
        a_max = max(md.row_group(i).column(ia).statistics.max for i in range(md.num_row_groups))
        b_min = min(md.row_group(i).column(ib).statistics.min for i in range(md.num_row_groups))
        b_max = max(md.row_group(i).column(ib).statistics.max for i in range(md.num_row_groups))
        per_file.append((a_min, a_max, b_min, b_max))
        los_a.append(a_min); his_a.append(a_max)
        los_b.append(b_min); his_b.append(b_max)
    ra = max(his_a) - min(los_a) or 1
    rb = max(his_b) - min(los_b) or 1
    for a_min, a_max, b_min, b_max in per_file:
        spans.append(((a_max - a_min) / ra) * ((b_max - b_min) / rb))
    return spans


def test_zorder_shrinks_file_stat_rectangles(spark, sf_dir, tmp_path):
    """Each z-ordered file must cover a small rectangle of the
    (partkey, suppkey) space, so min/max stats can prune scans on
    either column; a hash-repartitioned write covers ~the full range
    in every file."""
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    zpath = str(tmp_path / "z")
    rpath = str(tmp_path / "r")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=8)
    li.repartition(8).write.mode("overwrite").parquet(rpath)

    z_area = float(np.mean(_file_stat_areas(zpath, "l_partkey", "l_suppkey")))
    r_area = float(np.mean(_file_stat_areas(rpath, "l_partkey", "l_suppkey")))
    assert z_area < 0.5 * r_area, (z_area, r_area)


def test_zorder_frame_has_no_global_window(spark, sf_dir):
    """The rank-scaling must not use a partition-less Window (that
    funnels the whole dataset through one task). approxQuantile +
    Bucketizer keeps the plan window-free and fully parallel."""
    from udacity_dsnd_projects_spark.sources.layout import zorder_frame

    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    plan = (
        zorder_frame(li, "l_partkey", "l_suppkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def _win_specs(df) -> list[str]:
    """All windowspecdefinition(...) argument lists in the executed plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_lang_zscore_plan_has_no_stratum_window(spark, sf_dir):
    """The moments must come from groupBy + broadcast join, not a
    lang-partitioned window (few strata = few tasks carrying every
    row)."""
    from udacity_dsnd_projects_spark.functions import pipeline as p

    plan = (
        p.lang_zscore(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_stratified_sample_plan_has_partial_group_limit(spark, sf_dir):
    """row_number()<=K must trigger WindowGroupLimit pushdown: a
    Partial limit before the exchange keeps the low-cardinality
    stratum window from funneling the full table."""
    from udacity_dsnd_projects_spark.functions import pipeline as p

    plan = (
        p.stratified_sample(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_exact_rank_ntile_reconstruction_equals_window_ntile(spark):
    """ntile_from_rank(exact_group_rank(...)) must equal Spark's own
    ntile() window bit-for-bit, including the awkward cases: group
    sizes not divisible by k, groups smaller than k, and a group of
    one."""
    from pyspark.sql import Window

    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_rank,
        ntile_from_rank,
    )

    rows = []
    rid = 0
    for g, size in (("a", 137), ("b", 40), ("c", 7), ("d", 1)):
        for _ in range(size):
            rid += 1
            rows.append((g, (rid * 2654435761) % 1000, rid))
    df = spark.createDataFrame(rows, ["g", "x", "id"])

    w = Window.partitionBy("g").orderBy("x", "id")
    want = {
        (r["g"], r["id"]): r["t"]
        for r in df.withColumn("t", F.ntile(10).over(w).cast("long")).collect()
    }
    ranked = exact_group_rank(
        df, ["g"], "x", ["id"], rank_col="rk", count_col="n", n_buckets=8
    )
    got = {
        (r["g"], r["id"]): r["t"]
        for r in ranked.withColumn(
            "t", ntile_from_rank(F.col("rk"), F.col("n"), 10)
        ).collect()
    }
    assert got == want
