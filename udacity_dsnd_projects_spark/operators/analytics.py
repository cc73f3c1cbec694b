"""Headline analytical queries — the batch benchmark workload.

TPC-H-shaped queries over the corpus exercising the §2 inventory
end-to-end at scale: scan + pushed filter + broadcast dims + partial
agg + shuffle agg + sort. ``perfbench/run.py --workload
batch_analytics`` times the headline ones, and they are what a
1000-executor cluster would actually run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.sources.catalog import load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide scan, heavy partial aggregation, tiny
    result. The filter and 7-column projection push into the parquet
    scan; the shuffle carries 4 groups."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact-fact join (orders⋈lineitem) plus a broadcast
    snowflake (customer→nation→region), filtered to one region. The
    orders⋈lineitem join shuffles on orderkey; everything else is
    broadcast."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND r_name = 'ASIA'
GROUP BY n_name
"""


def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered broadcast dim + fact-fact join +
    grouped revenue + deterministic top-10."""
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ORACLE_TOP_UNSHIPPED_ORDERS = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 idiomatic analog — tumbling-window aggregation
    (events-per-type-per-hour). Batch face via date_trunc; the
    streaming face is ``groupBy(window("ts", "1 hour"), ...)``
    (SURVEY.md §2.8 T4)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


ORACLE_HOURLY_EVENT_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis over the event stream: a user converts
    to stage k when their FIRST stage-k event is at or after their
    first stage-(k-1) event, chained from signup → view → click →
    purchase. The product-analytics staple (sequence detection
    without a self-join).

    Scale shape: ONE shuffle — groupBy(user) with conditional-min
    partial aggregation compresses each user's history map-side to 4
    timestamps; the stage flags and the 4-row unpivot are driver-free
    column arithmetic on the aggregated frame."""
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(FUNNEL_STAGES)
        ]
    )
    flags = firsts
    prev = None
    for i in range(len(FUNNEL_STAGES)):
        cond = F.col(f"t{i}").isNotNull()
        if prev is not None:
            cond = cond & F.col(prev) & (F.col(f"t{i}") >= F.col(f"t{i-1}"))
        flags = flags.withColumn(f"s{i}", cond.isNotNull() & cond)
        prev = f"s{i}"
    counts = flags.agg(
        *[
            F.sum(F.col(f"s{i}").cast("long")).alias(f"c{i}")
            for i in range(len(FUNNEL_STAGES))
        ]
    )
    # NULLIF: a funnel nobody entered (c0 = 0 — an empty shard or a
    # gate that dropped every signup) reports NULL conversion instead
    # of an ANSI divide-by-zero error; mirrored in the oracle
    stack_args = ", ".join(
        f"{i + 1}, '{s}', c{i}, "
        f"round(cast(c{i} as double) / nullif(cast(c0 as double), 0.0), 5)"
        for i, s in enumerate(FUNNEL_STAGES)
    )
    return counts.selectExpr(
        f"stack({len(FUNNEL_STAGES)}, {stack_args})"
        " AS (stage_order, stage, n_users, conversion)"
    )


ORACLE_FUNNEL_CONVERSION = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events GROUP BY user_id
), flags AS (
  SELECT
    COALESCE(t0 IS NOT NULL, FALSE) AS s0,
    COALESCE(t0 IS NOT NULL AND t1 >= t0, FALSE) AS s1,
    COALESCE(t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1, FALSE) AS s2,
    COALESCE(t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1 AND t3 >= t2, FALSE) AS s3
  FROM firsts
), counts AS (
  SELECT SUM(CASE WHEN s0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS c2,
         SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS c3
  FROM flags
)
SELECT 1 AS stage_order, 'signup' AS stage, CAST(c0 AS BIGINT) AS n_users,
       ROUND(c0 * 1.0 / NULLIF(c0, 0), 5) AS conversion FROM counts
UNION ALL
SELECT 2, 'view', CAST(c1 AS BIGINT), ROUND(c1 * 1.0 / NULLIF(c0, 0), 5)
FROM counts
UNION ALL
SELECT 3, 'click', CAST(c2 AS BIGINT), ROUND(c2 * 1.0 / NULLIF(c0, 0), 5)
FROM counts
UNION ALL
SELECT 4, 'purchase', CAST(c3 AS BIGINT), ROUND(c3 * 1.0 / NULLIF(c0, 0), 5)
FROM counts
"""


def rolling_avg_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-24-hour average of
    the event value — the moving-aggregate shape a rows-based frame
    can't express (gaps in event time must not shrink the window).
    One shuffle on user_id; the frame is evaluated in a single sorted
    pass per partition."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 5).alias("avg_24h"),
    )


ORACLE_ROLLING_AVG_24H = """
SELECT event_id, user_id, ts,
       ROUND(AVG(value) OVER (
         PARTITION BY user_id
         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
       ), 5) AS avg_24h
FROM events
"""


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first
    event; retention = the share of each cohort active again the NEXT
    week. Two narrow shuffles (per-user first-event; distinct
    user-weeks) and a broadcast-sized cohort join — the classic
    product-analytics rollup."""
    ev = load_table(spark, "events", sf_dir)
    # the week is emitted as an ISO string: DATE columns round-trip
    # differently through pandas in Spark vs DuckDB (date vs midnight
    # timestamp), strings are engine-stable
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = (
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
        )
        .distinct()
    )
    nxt = firsts.join(
        active,
        (firsts["user_id"] == active["user_id"])
        & (active["week"] == F.date_add(firsts["cohort_week"], 7)),
        "left",
    ).select(firsts["user_id"], "cohort_week", active["week"].alias("next_week"))
    return (
        nxt.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("next_week").alias("n_retained"),
        )
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "n_users",
            "n_retained",
            F.round(
                F.col("n_retained").cast("double") / F.col("n_users").cast("double"), 5
            ).alias("retention"),
        )
    )


ORACLE_WEEKLY_RETENTION = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), nxt AS (
  SELECT f.user_id, f.cohort_week, a.week AS next_week
  FROM firsts f
  LEFT JOIN active a
    ON f.user_id = a.user_id AND a.week = f.cohort_week + INTERVAL 7 DAY
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       COUNT(*) AS n_users,
       COUNT(next_week) AS n_retained,
       ROUND(COUNT(next_week) * 1.0 / COUNT(*), 5) AS retention
FROM nxt GROUP BY cohort_week
"""


def decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group price deciles (NTILE(10) semantics, bit-exact) then
    per-decile count/min/max/avg.

    NOT implemented as ``ntile(10) over (partition by l_returnflag
    order by ...)``: l_returnflag has 3 values, so that window funnels
    the whole fact table through 3 sort tasks — the plan that cannot
    survive 100 TB. Instead the exact rank comes from
    :func:`~udacity_dsnd_projects_spark.operators.ranks.exact_group_rank`
    (approxQuantile range-buckets → groups × buckets parallel window
    partitions → broadcast bucket offsets) and the tile from the closed
    -form NTILE reconstruction — identical output, no few-task sort.
    The order key is made total with (orderkey, linenumber) so tile
    assignment is deterministic."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_group_rank,
        ntile_from_rank,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = exact_group_rank(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        rank_col="rk",
        count_col="n_grp",
    )
    return (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("rk"), F.col("n_grp"), 10)
        )
        .groupBy("l_returnflag", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


ORACLE_DECILE_STATS = """
WITH t AS (
  SELECT l_returnflag, l_extendedprice,
         NTILE(10) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS decile
  FROM lineitem
)
SELECT l_returnflag, decile,
       COUNT(*) AS n,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price,
       ROUND(AVG(l_extendedprice), 4) AS avg_price
FROM t GROUP BY l_returnflag, decile
"""


def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report per return flag: exact q1/q3 via
    ``percentile`` (linear interpolation — same definition as DuckDB's
    ``quantile_cont``), broadcast the 3-row fence table back onto the
    fact, count rows outside [q1−1.5·IQR, q3+1.5·IQR]. Two exchanges
    (quartile agg + final rollup); the fact-side join is broadcast so
    the big table never reshuffles."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_extendedprice"
    )
    q = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("q3"),
    )
    fences = q.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    joined = li.join(F.broadcast(fences), "l_returnflag")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.round(F.first("q1"), 4).alias("q1"),
            F.round(F.first("q3"), 4).alias("q3"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi"))
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


ORACLE_IQR_OUTLIERS = """
WITH q AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem GROUP BY l_returnflag
), f AS (
  SELECT l_returnflag, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT li.l_returnflag,
       ROUND(ANY_VALUE(f.q1), 4) AS q1,
       ROUND(ANY_VALUE(f.q3), 4) AS q3,
       COUNT(*) AS n_rows,
       CAST(COUNT(*) FILTER (
         WHERE li.l_extendedprice < f.lo OR li.l_extendedprice > f.hi
       ) AS BIGINT) AS n_outliers
FROM lineitem li JOIN f USING (l_returnflag)
GROUP BY li.l_returnflag
"""


# --------------------------------------------------------------------------
# Exponential time-decay scoring (round-4 addition)
# --------------------------------------------------------------------------
#: Decay time constant: weight = exp(-age_hours / DECAY_TAU_H).
DECAY_TAU_H = 24.0


def decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: per user, the sum of event values
    weighted by ``exp(-age/tau)`` relative to the corpus's newest
    event — the classic feature-store aggregation that keeps one
    number per user fresh without windowed state.

    Scale shape: the anchor timestamp is a 1-row aggregate broadcast
    back via cross join (never a partition-less window); ages use
    second-truncated epochs (``unix_timestamp`` ≡ the oracle's
    ``floor(epoch(..))``) so both engines feed exp() identical
    integers; one map-side-combined groupBy on user_id."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    tmax = ev.groupBy().agg(F.max("ts").alias("t_max"))
    d = ev.crossJoin(F.broadcast(tmax))
    age_h = (F.unix_timestamp("t_max") - F.unix_timestamp("ts")) / 3600.0
    wgt = F.exp(-age_h / F.lit(DECAY_TAU_H))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * wgt), 5).alias("decayed_score"),
    )


ORACLE_DECAYED_USER_SCORE = f"""
WITH t AS (SELECT MAX(ts) AS t_max FROM events)
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value * exp(-((floor(epoch(t_max)) - floor(epoch(ts)))
                               / 3600.0) / {DECAY_TAU_H})), 5)
         AS decayed_score
FROM events, t GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Bilateral nation trade volume (round-5 addition, TPC-H Q7 shape)
# --------------------------------------------------------------------------
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between (supplier nation,
    customer nation) pairs by year — the widest join tree in the
    relational set (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈
    nation×2). The reference's relational engines run exactly this
    class of star/snowflake rollup; here Catalyst orders the joins.

    Scale shape: the two fact joins (orders on orderkey, supplier on
    suppkey) shuffle on their high-cardinality keys — AQE picks
    broadcast automatically when a side fits; the two nation dims are
    explicitly broadcast (25 rows each, self-joined under distinct
    aliases). Year extraction is a codegen'd date_part; the final
    rollup is a map-side-combined groupBy over ~nations² × years
    groups — metadata-sized output."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == F.col("sn_key"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("cn_key"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact decimal accumulation AND decimal rounding: the
            # per-row product casts identically to 6 dp in both
            # engines (same input double), decimal addition is
            # order-independent, and rounding the DECIMAL total is
            # exact HALF_UP in both — rounding the double instead
            # diverges on .xx5 totals (Spark rounds the shortest
            # string repr, DuckDB the true binary value; observed at
            # sf 0.01). Cast to double only after the 2 dp round.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("volume"),
        )
    )


ORACLE_NATION_TRADE_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30,6))), 2) AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""


# --------------------------------------------------------------------------
# Late-shipment priority census (round-5 addition, TPC-H Q4 shape)
# --------------------------------------------------------------------------
#: An order is "late" if any of its lines shipped more than this many
#: days after the order date (the corpus has no commit/receipt dates,
#: so Q4's lateness predicate adapts to shipdate-vs-orderdate).
LATE_SHIP_DAYS = 90


def late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count orders per priority that had AT LEAST ONE
    late line — an EXISTS/semi-join aggregate, the one relational
    shape (decorrelated existential subquery) the other headline
    queries don't exercise.

    Scale shape: Catalyst plans the EXISTS as a LEFT SEMI join on
    orderkey with the lateness predicate as an extra join condition —
    the probe side deduplicates per key during the join (no
    distinct-after-join blowup); the final rollup is a
    map-side-combined groupBy over the handful of priority values
    (aggregate ON low-cardinality keys is fine — it's windows
    PARTITIONED on them that funnel)."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > orders["o_orderdate"] + F.expr(f"INTERVAL {LATE_SHIP_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


ORACLE_LATE_ORDER_PRIORITIES = f"""
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY
)
GROUP BY o_orderpriority
"""


#: Probe points for the exact distributed quantile face.
QUANTILE_PROBES = (0.25, 0.5, 0.75, 0.9, 0.99)


def exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles of lineitem's extended price at the
    :data:`QUANTILE_PROBES` points — the deterministic complement to
    the ``quantile_sketch`` estimator (which has no oracle by
    design): quantile q = the value at total-order rank ⌈q·n⌉, the
    classic rank-based definition both engines compute identically.

    Scale shape: the total order comes from the distributed
    exact-rank primitive (range-bucketed parallel windows + broadcast
    offsets — operators/ranks.py), NEVER a single-task global sort;
    the probe match then filters ~5 rows out of the ranked corpus
    with a plain OR of rank equalities (the per-row count column
    rides the rank pass, so no extra aggregate), and only those ≤5
    survivors are exploded against the probe list to label
    coincident ranks. ⌈q·n⌉ is the same IEEE multiply + ceil in both
    engines — boundary-stable because both compute it on identical
    doubles."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = exact_group_rank(
        li,
        [],
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        rank_col="__rk",
        count_col="__cnt",
    )
    is_probe_rank = None
    for q in QUANTILE_PROBES:
        c = F.ceil(F.lit(q) * F.col("__cnt")) == F.col("__rk")
        is_probe_rank = c if is_probe_rank is None else (is_probe_rank | c)
    hits = ranked.filter(is_probe_rank)
    probes = F.array([F.lit(q) for q in QUANTILE_PROBES])
    return (
        hits.select(
            "l_extendedprice",
            "__rk",
            "__cnt",
            F.explode(probes).alias("quantile"),
        )
        .filter(F.ceil(F.col("quantile") * F.col("__cnt")) == F.col("__rk"))
        .select("quantile", F.col("l_extendedprice").alias("value"))
    )


def _probe_values_sql() -> str:
    return ", ".join(f"({q})" for q in QUANTILE_PROBES)


ORACLE_EXACT_QUANTILES = f"""
WITH r AS (
  SELECT l_extendedprice,
         row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS rk,
         COUNT(*) OVER () AS n
  FROM lineitem
)
SELECT q.quantile, l_extendedprice AS value
FROM r JOIN (VALUES {_probe_values_sql()}) AS q(quantile)
  ON rk = CEIL(q.quantile * n)
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition rollup over the event stream: for each
    (prev_type → next_type) pair of CONSECUTIVE events within a user's
    timeline, the transition count and its row-normalized probability
    — the product-analytics twin of :func:`funnel_conversion` that
    does not fix an order up front (the funnel checks ONE path; this
    table scores every observed path, and is the input to next-event
    prediction / anomalous-journey detection).

    Scale shape: the lag runs over the maximal-cardinality user_id
    partition (the same high-cardinality window every sessionize-family
    op uses — never a global sort), ties broken by event_id so the
    sequence is deterministic under any partitioning; the rollup then
    reduces to ≤ |event_types|² rows before the row-share window, so
    that window operates on a metadata-sized frame. The share divides
    exact counts in double — engine-identical."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    cells = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row),
            6,
        ).alias("row_share"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), cells AS (
  SELECT prev_type, next_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type), 6)
         AS row_share
FROM cells
"""


#: Market-basket readout size — top pairs by co-occurrence count.
BASKET_TOP_K = 100


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over orders: the top
    :data:`BASKET_TOP_K` part pairs co-purchased in the same order,
    with support / directional confidence / lift — the classic
    association-rule readout (the retail twin of the corpus
    co-occurrence ops: same shape as ``token_bigram_pmi``, different
    domain and normalization).

    Scale shape: baskets collapse to one array row per order (≤7
    lineitems in TPC-H, so ``collect_set`` is bounded) and ordered
    pairs expand ROW-LOCALLY from that array (≤21 structs per order —
    the `_bucket_pairs` combinator shape, never a self-join); the pair
    counts reduce map-side. The global top-K runs as
    TakeOrderedAndProject over the already-reduced pair-count frame
    (no single-partition window sort), and the per-part counts then
    join onto just K rows via broadcast. Every ratio divides exact
    integer counts in double, written identically in both engines."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    # orders-sized; materialized because THREE consumers read it (pair
    # expansion, per-part counts, the order total) — without this the
    # lineitem scan + collect_set groupBy would execute three times
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=True)
    )
    # explode_outer + isNotNull, deliberately: plain explode makes
    # Catalyst infer a `size(<expansion>) > 0` guard that evaluates
    # the O(m²) pair expansion a SECOND time per basket just to test
    # emptiness. Single-part baskets DO produce empty arrays here, so
    # outer alone isn't equivalent — the isNotNull filter on the
    # exploded attribute (cheap, never inlined below the Generate)
    # restores exact explode semantics: empty/null array → no row
    # either way, and the pair structs themselves are never null.
    pairs = baskets.select(
        F.explode_outer(
            F.flatten(
                F.transform(
                    "parts",
                    lambda a, i: F.transform(
                        F.slice("parts", i + 2, F.size("parts")),
                        lambda b: F.struct(a.alias("pa"), b.alias("pb")),
                    ),
                )
            )
        ).alias("p")
    ).filter(F.col("p").isNotNull())
    counts = pairs.groupBy(
        F.col("p.pa").alias("part_a"), F.col("p.pb").alias("part_b")
    ).agg(F.count(F.lit(1)).alias("n_both"))
    top = counts.orderBy(F.desc("n_both"), "part_a", "part_b").limit(
        BASKET_TOP_K
    )
    part_n = (
        baskets.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    x = (
        part_n.join(
            F.broadcast(top), part_n["pk"] == top["part_a"]
        ).select("part_a", "part_b", "n_both", F.col("n_part").alias("n_a"))
    )
    x = (
        part_n.join(F.broadcast(x), part_n["pk"] == x["part_b"])
        .select("part_a", "part_b", "n_both", "n_a", F.col("n_part").alias("n_b"))
        .crossJoin(F.broadcast(n_orders))
    )
    nb = F.col("n_both").cast("double")
    return x.select(
        "part_a",
        "part_b",
        "n_both",
        F.round(nb / F.col("n_orders"), 6).alias("support"),
        F.round(nb / F.col("n_a"), 6).alias("conf_a_b"),
        F.round(nb / F.col("n_b"), 6).alias("conf_b_a"),
        F.round(
            nb * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    )


ORACLE_MARKET_BASKET_PAIRS = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
c AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
top AS (
  SELECT * FROM c ORDER BY n_both DESC, part_a, part_b LIMIT {BASKET_TOP_K}
),
pn AS (SELECT l_partkey AS pk, COUNT(*) AS n_part FROM d GROUP BY 1),
no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem)
SELECT part_a, part_b, n_both,
       ROUND(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
       ROUND(CAST(n_both AS DOUBLE) / pa.n_part, 6) AS conf_a_b,
       ROUND(CAST(n_both AS DOUBLE) / pb.n_part, 6) AS conf_b_a,
       ROUND(CAST(n_both AS DOUBLE) * n_orders / (pa.n_part * pb.n_part), 6)
         AS lift
FROM top
JOIN pn pa ON top.part_a = pa.pk
JOIN pn pb ON top.part_b = pb.pk
CROSS JOIN no
"""


#: |z| at or above this flags a day as anomalous for its event type.
ANOMALY_Z = 2.0


def daily_type_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitor over the event stream: each (event_type,
    day) daily count z-scored against that type's OWN daily history —
    (event_type, day, n_events, zscore, is_anomaly). The ops dashboard
    that catches a collector outage (z ≪ 0) or a bot flood (z ≫ 0)
    per event type; the stream twin of ``lang_zscore``'s corpus
    stratification.

    Scale shape: one scan reduces to a (type × day) frame map-side;
    per-type mean/std come from exact integer sums (Σn, Σn²) over that
    already-tiny frame, joined back by broadcast. The z expression
    runs the same double arithmetic over the same exact operands in
    both engines; days with zero variance (or a single day of history)
    emit NULL z rather than a fabricated 0."""
    ev = load_table(spark, "events", sf_dir)
    # types×days-sized; materialized because BOTH the stats rollup and
    # the z-score join consume it — saves a second events scan
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .localCheckpoint(eager=True)
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        F.col("n_days") - 1
    )
    std = F.sqrt(var)
    z = F.when(
        (F.col("n_days") > 1) & (var > 0),
        F.round((F.col("n_events") - mean) / std, 4),
    )
    return j.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        z.alias("zscore"),
        F.when(F.abs(z) >= ANOMALY_Z, 1).otherwise(0).alias("is_anomaly"),
    )


ORACLE_DAILY_TYPE_ANOMALY = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS s1,
         CAST(SUM(n_events * n_events) AS BIGINT) AS s2
  FROM daily GROUP BY 1
),
j AS (
  SELECT daily.event_type, d, n_events, n_days,
         CAST(s1 AS DOUBLE) / n_days AS mean,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
            * (CAST(s1 AS DOUBLE) / n_days)) / (n_days - 1) AS var
  FROM daily JOIN stats ON daily.event_type = stats.event_type
),
z AS (
  SELECT event_type, d, n_events,
         CASE WHEN n_days > 1 AND var > 0
              THEN ROUND((n_events - mean) / sqrt(var), 4) END AS zscore
  FROM j
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events, zscore,
       CASE WHEN ABS(zscore) >= {ANOMALY_Z} THEN 1 ELSE 0 END AS is_anomaly
FROM z
"""


#: CUSUM/KS flag threshold: max_t |S_t| / (sigma * sqrt(n)) above the
#: Kolmogorov 95% critical value flags a level shift. On a stationary
#: series the scaled statistic converges to the Kolmogorov law, so the
#: same constant works at every SF — the relative-to-mean gate rule.
CUSUM_KS = 1.358


def cusum_changepoint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift (changepoint) screen over the event stream — the
    sequential companion to :func:`daily_type_anomaly`: a z-score
    catches a one-day spike, but a sustained level shift (collector
    added, bot ramp, product launch) moves every day a LITTLE, which
    single-day z-scores miss. Classic CUSUM: per event type, the
    running sum of daily deviations from that type's own mean,
    S_t = Σ_{i<=t}(n_i − mean); the candidate changepoint is the day
    with max |S_t|, reported scaled KS-style as
    |S_t| / (σ·sqrt(n_days)) and flagged at :data:`CUSUM_KS`. One row
    per type: (event_type, n_days, peak_day, cusum_stat, is_change).

    Cross-engine float discipline: S_t is accumulated EXACTLY —
    ``S_t = (cum_n·n_days − t·s1) / n_days`` keeps the numerator in
    integers (cum_n and t from one window pass, s1 from the exact
    rollup), so the only float ops are the final division chain and
    two correctly-rounded sqrts over identical operands in both
    engines; no per-term double accumulation to drift.

    Scale shape: one events scan reduces map-side to the (type × day)
    frame; the window cumsum runs per type over that tiny frame; stats
    broadcast back; the argmax is a map-side-combined max(struct) per
    type. Types with <2 days or zero variance emit NULL stat, flag 0."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .localCheckpoint(eager=True)
    )
    return cusum_changepoints(daily)


def cusum_changepoints(daily: DataFrame) -> DataFrame:
    """The CUSUM scorer over a (event_type, d, n_events) daily-count
    frame — split out so crafted test series run the identical
    screen. ``daily`` must already be materialized or cheap (consumed
    by the stats rollup AND the window pass)."""
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("n_events").over(w).alias("cum_n"),
        F.row_number().over(w).alias("t"),
    )
    j = cum.join(F.broadcast(stats), "event_type")
    num = F.col("cum_n") * F.col("n_days") - F.col("t") * F.col("s1")
    var = (
        F.col("n_days").cast("double") * F.col("s2")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("n_days").cast("double") * (F.col("n_days") - F.lit(1)))
    stat = F.when(
        (F.col("n_days") > 1) & (var > 0),
        F.round(
            F.abs(num)
            / (
                F.col("n_days")
                * F.sqrt(var)
                * F.sqrt(F.col("n_days").cast("double"))
            ),
            4,
        ),
    )
    scored = j.select(
        "event_type",
        "n_days",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        stat.alias("stat"),
    )
    best = scored.groupBy("event_type").agg(F.max("stat").alias("cusum_stat"))
    # argmax day, ties to the EARLIER day: join the per-type max back
    # (types-sized broadcast) and take min(day) among max-stat rows —
    # a reversible inverted-day encoding inside one max(struct) would
    # be cheaper by one tiny aggregate but unreadable; both frames
    # here are types×days metadata.
    peak = scored.join(F.broadcast(best), "event_type").filter(
        (F.col("stat") == F.col("cusum_stat"))
        | (F.col("stat").isNull() & F.col("cusum_stat").isNull())
    )
    return (
        peak.groupBy("event_type")
        .agg(
            F.first("n_days").alias("n_days"),
            F.min("day").alias("peak_day"),
            F.first("cusum_stat").alias("cusum_stat"),
        )
        .select(
            "event_type",
            "n_days",
            F.when(F.col("cusum_stat").isNotNull(), F.col("peak_day")).alias(
                "peak_day"
            ),
            "cusum_stat",
            F.when(F.col("cusum_stat") >= CUSUM_KS, 1)
            .otherwise(0)
            .alias("is_change"),
        )
    )


ORACLE_CUSUM_CHANGEPOINT_REPORT = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS s1,
         CAST(SUM(n_events * n_events) AS BIGINT) AS s2
  FROM daily GROUP BY 1
),
cum AS (
  SELECT event_type, d,
         CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY d
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t
  FROM daily
),
scored AS (
  SELECT c.event_type, s.n_days, strftime(c.d, '%Y-%m-%d') AS day,
         CASE WHEN s.n_days > 1
                   AND (CAST(s.n_days AS DOUBLE) * s.s2
                        - CAST(s.s1 AS DOUBLE) * s.s1)
                       / (CAST(s.n_days AS DOUBLE) * (s.n_days - 1)) > 0
              THEN ROUND(ABS(c.cum_n * s.n_days - c.t * s.s1)
                   / (s.n_days
                      * sqrt((CAST(s.n_days AS DOUBLE) * s.s2
                              - CAST(s.s1 AS DOUBLE) * s.s1)
                             / (CAST(s.n_days AS DOUBLE) * (s.n_days - 1)))
                      * sqrt(CAST(s.n_days AS DOUBLE))), 4)
         END AS stat
  FROM cum c JOIN stats s ON c.event_type = s.event_type
),
best AS (
  SELECT event_type, MAX(stat) AS cusum_stat FROM scored GROUP BY 1
)
SELECT s.event_type,
       ANY_VALUE(s.n_days) AS n_days,
       CASE WHEN ANY_VALUE(b.cusum_stat) IS NOT NULL
            THEN MIN(s.day) END AS peak_day,
       ANY_VALUE(b.cusum_stat) AS cusum_stat,
       CASE WHEN ANY_VALUE(b.cusum_stat) >= {CUSUM_KS} THEN 1 ELSE 0 END
         AS is_change
FROM scored s JOIN best b ON s.event_type = b.event_type
WHERE s.stat = b.cusum_stat OR (s.stat IS NULL AND b.cusum_stat IS NULL)
GROUP BY s.event_type
"""


def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type trend detection over the event stream: closed-form OLS
    of daily total value against the day index — (event_type, n_days,
    slope, intercept, r2). The drift complement of
    :func:`daily_type_anomaly`: that one flags single anomalous DAYS
    against a stationary mean; this one detects the mean MOVING
    (revenue ramping, a metric decaying), with r² saying how much of
    the variance the line explains.

    Determinism: daily totals sum ``value`` in DECIMAL(30,6) (exact,
    order-independent), then re-scale to integer micro-units so every
    OLS moment (Σx, Σx², Σy, Σxy, Σy²) accumulates EXACTLY in
    DECIMAL(38,0) — no double is summed in either engine. The final
    slope/intercept/r² expressions run the same double arithmetic
    over those identical exact operands.

    Scale shape: one scan reduces map-side to the types×days frame;
    everything after (window min-date, moment sums, the closed form)
    operates on that metadata-sized frame. The per-type window is over
    event-type cardinality — bounded — not the corpus."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(30,6)")).alias("ydec")
    )
    w = Window.partitionBy("event_type")
    ix = daily.select(
        "event_type",
        F.datediff("d", F.min("d").over(w)).alias("x"),
        (F.col("ydec") * 1000000).cast("long").alias("yint"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("yint").cast("decimal(19,0)")
    s = ix.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yint").cast("decimal(38,0)")).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n_days").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double") / 1000000.0
    sxyd = F.col("sxy").cast("double") / 1000000.0
    syyd = F.col("syy").cast("double") / 1000000000000.0
    num = nd * sxyd - sxd * syd
    denx = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    slope = num / denx
    return s.select(
        "event_type",
        "n_days",
        F.when(denx > 0, F.round(slope, 6)).alias("slope"),
        F.when(denx > 0, F.round((syd - slope * sxd) / nd, 6)).alias(
            "intercept"
        ),
        F.when(
            (denx > 0) & (deny > 0), F.round(num * num / (denx * deny), 6)
        ).alias("r2"),
    )


ORACLE_VALUE_TREND_BY_TYPE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(30,6))) AS ydec
  FROM events GROUP BY 1, 2
),
ix AS (
  SELECT event_type,
         datediff('day', MIN(d) OVER (PARTITION BY event_type), d) AS x,
         CAST(ydec * 1000000 AS BIGINT) AS yint
  FROM daily
),
s AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         SUM(CAST(yint AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x AS DECIMAL(19,0)) * CAST(yint AS DECIMAL(19,0))) AS sxy,
         SUM(CAST(yint AS DECIMAL(19,0)) * CAST(yint AS DECIMAL(19,0))) AS syy
  FROM ix GROUP BY 1
),
e AS (
  SELECT event_type, n_days,
         CAST(n_days AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd,
         CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sy AS DOUBLE) / 1000000.0 AS syd,
         CAST(sxy AS DOUBLE) / 1000000.0 AS sxyd,
         CAST(syy AS DOUBLE) / 1000000000000.0 AS syyd
  FROM s
)
SELECT event_type, n_days,
       CASE WHEN nd * sxxd - sxd * sxd > 0
            THEN ROUND((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
       END AS slope,
       CASE WHEN nd * sxxd - sxd * sxd > 0
            THEN ROUND((syd - (nd * sxyd - sxd * syd)
                              / (nd * sxxd - sxd * sxd) * sxd) / nd, 6)
       END AS intercept,
       CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
            THEN ROUND((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                       / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
       END AS r2
FROM e
"""


#: Journey readout: path prefix length and how many paths to report.
PATH_LEN = 5
PATH_TOP_K = 50


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first :data:`PATH_LEN` event
    types (by time) joined into a ``view>click>...`` path string, then
    the :data:`PATH_TOP_K` most common paths — (path, n_users,
    user_share). The qualitative complement of
    :func:`event_transition_matrix`: the matrix scores one-step
    dynamics; this surfaces the literal multi-step journeys users
    actually take (onboarding funnels, bot signatures — a bot is a
    single improbable path with a huge n_users).

    Scale shape: the rank runs over the maximal-cardinality user
    window (never a global sort), the path assembles row-locally from
    a ≤PATH_LEN collect_list, path counting reduces map-side, and the
    global top-K lowers to TakeOrderedAndProject over the
    already-reduced path-count frame. ``user_share`` divides exact
    counts by the 1-row broadcast user total."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_LEN)
    )
    paths = firsts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    top = counts.orderBy(F.desc("n_users"), "path").limit(PATH_TOP_K)
    total = paths.agg(F.count(F.lit(1)).alias("n_total"))
    return top.crossJoin(F.broadcast(total)).select(
        "path",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("n_total"), 6).alias(
            "user_share"
        ),
    )


ORACLE_SESSION_PATH_TOPK = f"""
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= {PATH_LEN} GROUP BY user_id
),
counts AS (SELECT path, COUNT(*) AS n_users FROM paths GROUP BY path),
top AS (
  SELECT * FROM counts ORDER BY n_users DESC, path LIMIT {PATH_TOP_K}
),
tot AS (SELECT COUNT(*) AS n_total FROM paths)
SELECT path, n_users,
       ROUND(CAST(n_users AS DOUBLE) / n_total, 6) AS user_share
FROM top CROSS JOIN tot
"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM rollup: per customer,
    recency (days from their last order to the corpus's newest order),
    frequency (order count) and monetary (total spend), each scored
    into quartiles where 4 = best — (custkey, recency_days, n_orders,
    monetary, r_score, f_score, m_score, rfm_cell). ``rfm_cell`` is
    the 3-digit segment (444 = champions, 111 = lost) a lifecycle
    campaign keys on.

    Scale shape: orders reduce map-side to one row per customer (the
    only data-sized shuffle); each quartile is NTILE(4) reconstructed
    from the fused distributed exact-rank primitive
    (:func:`~udacity_dsnd_projects_spark.operators.ranks.exact_multi_rank`
    + ``ntile_from_rank`` — range-bucketed total order, never a
    single-task global window), with the customer key breaking ties to
    a total order so both engines assign identical tiles. The customer
    frame is checkpointed once; the fused primitive then ranks all
    three columns off that single materialization — ONE multi-column
    quantile sketch, ONE grouping-sets count scan, and three parallel
    windows composed in one plan with literal-map offset lookups
    (r8 shipped this as three ``exact_group_rank`` passes with a
    checkpoint between each; the fusion deletes two sketch scans, two
    count scans and two materializations while producing bit-identical
    ranks). Everything past the orders rollup is one-row-per-customer
    slim at any scale."""
    from udacity_dsnd_projects_spark.operators.ranks import (
        exact_multi_rank,
        ntile_from_rank,
    )

    orders = load_table(spark, "orders", sf_dir)
    # one orders scan, checkpointed per-customer: the corpus-max date
    # used to be a SECOND full orders scan, but max(last order date)
    # over customers IS max(o_orderdate) over orders — derive it from
    # the materialized rollup instead (guide §1.2: remove a pass). The
    # datediff projection rides above the checkpoint un-persisted: the
    # rank primitive's three passes re-run only a broadcast join over
    # the already-materialized slim frame.
    per0 = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("__mon"),
        )
        .localCheckpoint(eager=True)
    )
    mx = per0.agg(F.max("last_d").alias("__mx"))
    per = (
        per0.crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("__mx", "last_d").alias("recency_days"),
            "n_orders",
            F.col("__mon").cast("double").alias("monetary_d"),
        )
    )
    m = exact_multi_rank(
        per,
        [
            ("recency_days", False, "__rrk"),
            ("n_orders", True, "__frk"),
            ("monetary_d", True, "__mrk"),
        ],
        ["custkey"],
        count_col="__n_all",
    )
    n = F.col("__n_all")
    r_score = 5 - ntile_from_rank(F.col("__rrk"), n, 4)
    f_score = 5 - ntile_from_rank(F.col("__frk"), n, 4)
    m_score = 5 - ntile_from_rank(F.col("__mrk"), n, 4)
    return m.select(
        "custkey",
        "recency_days",
        "n_orders",
        F.round(F.col("monetary_d"), 2).alias("monetary"),
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        (r_score * 100 + f_score * 10 + m_score).alias("rfm_cell"),
    )


ORACLE_CUSTOMER_RFM = """
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
per AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS monetary_d
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT custkey,
         datediff('day', last_d, mxd) AS recency_days,
         n_orders, monetary_d,
         5 - NTILE(4) OVER (ORDER BY datediff('day', last_d, mxd), custkey)
           AS r_score,
         5 - NTILE(4) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
         5 - NTILE(4) OVER (ORDER BY monetary_d DESC, custkey) AS m_score
  FROM per CROSS JOIN mx
)
SELECT custkey, recency_days, n_orders, ROUND(monetary_d, 2) AS monetary,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_cell
FROM s
"""


def ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority fulfillment-latency quantiles: EXACT
    :data:`QUANTILE_PROBES` of days-from-order-to-ship for each order
    priority — (priority, quantile, latency_days). The supply-chain
    SLA readout (does URGENT actually ship faster, and what does the
    p99 tail look like per class; the synthetic corpus draws ship
    dates independently of order dates, so latencies here are signed
    offsets — real TPC-H data makes them non-negative), and the
    GROUPED generalization of
    :func:`exact_quantiles`: same value-at-rank definition, but the
    total order runs per priority class.

    Scale shape: one lineitem↔orders equi-join (the only data-sized
    shuffle), then the per-group total order comes from the
    distributed exact-rank primitive — groups × range-buckets parallel
    sort partitions, NEVER one task per priority class; the probe
    match filters ~groups×5 rows with rank equalities riding the rank
    pass's count column, identical ⌈q·n⌉ arithmetic in both
    engines."""
    from udacity_dsnd_projects_spark.operators.ranks import exact_group_rank

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
        F.col("o_orderpriority").alias("priority"),
    )
    lat = li.join(orders, "l_orderkey").select(
        "priority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "latency_days"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = exact_group_rank(
        lat,
        ["priority"],
        "latency_days",
        ["l_orderkey", "l_linenumber"],
        rank_col="__rk",
        count_col="__cnt",
    )
    is_probe_rank = None
    for q in QUANTILE_PROBES:
        c = F.ceil(F.lit(q) * F.col("__cnt")) == F.col("__rk")
        is_probe_rank = c if is_probe_rank is None else (is_probe_rank | c)
    probes = F.array([F.lit(q) for q in QUANTILE_PROBES])
    return (
        ranked.filter(is_probe_rank)
        .select("priority", "latency_days", "__rk", "__cnt",
                F.explode(probes).alias("quantile"))
        .filter(F.ceil(F.col("quantile") * F.col("__cnt")) == F.col("__rk"))
        .select("priority", "quantile", "latency_days")
    )


ORACLE_SHIP_LATENCY_QUANTILES = f"""
WITH lat AS (
  SELECT o_orderpriority AS priority,
         datediff('day', CAST(o_orderdate AS DATE),
                  CAST(l_shipdate AS DATE)) AS latency_days,
         l_orderkey, l_linenumber
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
r AS (
  SELECT priority, latency_days,
         row_number() OVER (PARTITION BY priority
                            ORDER BY latency_days, l_orderkey,
                            l_linenumber) AS rk,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM lat
)
SELECT priority, q.quantile, latency_days
FROM r JOIN (VALUES {_probe_values_sql()}) AS q(quantile)
  ON rk = CEIL(q.quantile * n)
"""


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration report: the Herfindahl–Hirschman index of
    supplier revenue share within each nation — (n_name, n_suppliers,
    total_revenue, hhi, top_share). HHI = Σ share² over a nation's
    suppliers (1.0 = a single-supplier monopoly, →1/n = perfectly
    fragmented); the supply-chain-risk readout procurement reads next
    to Q2/Q16's diversity views — a nation whose HHI spikes lost
    redundancy even if its supplier COUNT is unchanged.

    Scale shape: lineitem reduces map-side to one DECIMAL revenue row
    per supplier (the only data-sized shuffle), the supplier→nation
    dims broadcast onto that frame, and both the share² fold and the
    max-share readout aggregate the nations×suppliers frame a second
    time — all post-reduction. Shares divide exact DECIMAL sums in
    double; Σshare² sums pre-rounded DECIMAL terms so the fold is
    summation-order independent in both engines."""
    li = load_table(spark, "lineitem", sf_dir).select("l_suppkey", "l_extendedprice")
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nat = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("__rev")
    )
    j = rev.join(
        F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"]
    ).join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
    tot = j.groupBy("n_name").agg(
        F.sum("__rev").alias("__tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shared = j.join(F.broadcast(tot), "n_name").select(
        "n_name",
        "n_suppliers",
        "__tot",
        (F.col("__rev").cast("double") / F.col("__tot").cast("double")).alias(
            "__share"
        ),
    )
    agg = shared.groupBy("n_name", "n_suppliers", "__tot").agg(
        F.sum(
            F.round(F.col("__share") * F.col("__share"), 12).cast(
                "decimal(30,14)"
            )
        ).alias("__hhi"),
        F.max("__share").alias("__top"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        F.round(F.col("__tot").cast("double"), 2).alias("total_revenue"),
        F.round(F.col("__hhi").cast("double"), 6).alias("hhi"),
        F.round(F.col("__top"), 6).alias("top_share"),
    )


ORACLE_NATION_SUPPLIER_HHI = """
WITH rev AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS r
  FROM lineitem GROUP BY l_suppkey
),
j AS (
  SELECT n_name, r
  FROM rev
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
tot AS (
  SELECT n_name, SUM(r) AS t, COUNT(*) AS n_suppliers
  FROM j GROUP BY n_name
),
shared AS (
  SELECT j.n_name, n_suppliers, t,
         CAST(r AS DOUBLE) / CAST(t AS DOUBLE) AS share
  FROM j JOIN tot ON j.n_name = tot.n_name
)
SELECT n_name, n_suppliers,
       ROUND(CAST(t AS DOUBLE), 2) AS total_revenue,
       ROUND(CAST(SUM(CAST(ROUND(share * share, 12) AS DECIMAL(30,14)))
                  AS DOUBLE), 6) AS hhi,
       ROUND(MAX(share), 6) AS top_share
FROM shared GROUP BY n_name, n_suppliers, t
"""


def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile per event type — (event_type, dow,
    n_events, share, lift): each day-of-week's share of the type's
    events and its lift vs the uniform 1/7. The periodic-structure
    readout :func:`daily_type_anomaly` (level alarms) and
    :func:`value_trend_by_type` (drift) both deliberately ignore — a
    type with strong weekday lift needs day-of-week-conditioned
    baselines before its z-scores mean anything. ``dow`` follows the
    0=Sunday..6=Saturday convention (Spark's ``dayofweek`` minus 1 ==
    DuckDB's ``dayofweek``).

    Scale shape: one scan reduces map-side to the ≤ types×7 frame;
    share divides exact counts by the per-type window total over that
    tiny frame."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    cells = ev.groupBy(
        "event_type", (F.dayofweek(F.to_date("ts")) - 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type")
    share = F.col("n_events").cast("double") / F.sum("n_events").over(w)
    return cells.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        "n_events",
        F.round(share, 6).alias("share"),
        F.round(share * 7, 6).alias("lift"),
    )


ORACLE_DOW_SEASONALITY = """
WITH cells AS (
  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(dow AS INTEGER) AS dow, n_events,
       ROUND(CAST(n_events AS DOUBLE)
             / SUM(n_events) OVER (PARTITION BY event_type), 6) AS share,
       ROUND(CAST(n_events AS DOUBLE)
             / SUM(n_events) OVER (PARTITION BY event_type) * 7, 6) AS lift
FROM cells
"""


def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user — (user_id, n_events, n_types,
    entropy): Shannon entropy (nats) of the user's event-type
    distribution. The bot signature the curation family reads on the
    events side: a scripted account hammering one action has entropy
    ≈ 0 regardless of volume, while organic users spread across types
    — the user-level twin of ``word_entropy``'s per-document readout.

    Determinism: entropy = ln(n) − (Σ c·ln c)/n; each c·ln c term is
    rounded then cast to DECIMAL before the per-user sum, so the
    accumulation is summation-order independent and bit-equal across
    engines (the same trick as the calibration/drift means).

    Scale shape: one scan → (user, type) counts (map-side combined),
    reduced again to one row per user; no window, no join."""
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    term = F.round(F.col("c") * F.log("c"), 9).cast("decimal(30,10)")
    agg = counts.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(term).alias("__clnc"),
    )
    ent = F.log(F.col("n_events").cast("double")) - F.col("__clnc").cast(
        "double"
    ) / F.col("n_events")
    return agg.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(ent, 6).alias("entropy"),
    )


ORACLE_USER_TYPE_ENTROPY = """
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         COUNT(*) AS n_types,
         SUM(CAST(ROUND(c * ln(c), 9) AS DECIMAL(30,10))) AS clnc
  FROM counts GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       ROUND(ln(CAST(n_events AS DOUBLE))
             - CAST(clnc AS DOUBLE) / n_events, 6) AS entropy
FROM agg
"""
