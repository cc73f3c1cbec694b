"""Distributed exact ranking — the scale-safe replacement for
``rank``/``ntile``/``percent_rank`` windows partitioned by a
low-cardinality key.

``Window.partitionBy(group).orderBy(keys)`` funnels every group through
ONE task: a 3-value group key means the whole table sorts on 3 cores no
matter how many executors exist. The distributed fix is the
range-partition + offset shape (the same idea behind TeraSort and
Spark's own ``rangepartitioning`` sort):

1. ``approxQuantile`` boundaries on the primary order column — one
   Greenwald-Khanna sketch pass; the driver receives ~``n_buckets``
   floats (metadata, not data);
2. ``ml.feature.Bucketizer`` assigns each row a contiguous value-range
   bucket (equal order-column values always share a bucket, so bucket
   boundaries respect any total order that starts with that column);
3. per-(group, bucket) counts → driver (groups × buckets rows),
   prefix-summed into bucket start offsets per group;
4. ``row_number()`` over ``Window.partitionBy(group, bucket)`` — now
   groups × buckets parallel window partitions — plus the broadcast
   offset = the exact global rank of the row within its group.

Exactness does NOT depend on quantile accuracy: skewed boundaries only
unbalance bucket sizes, never reorder rows. At 100 TB the input should
be persisted by the caller (the helper scans it three times: sketch,
counts, final); everything driver-side stays metadata-sized.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_dsnd_projects_spark.operators.localframe import local_frame

_BKT = "__rank_bkt"


def _join_offsets(
    bucketed: DataFrame,
    offsets: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Broadcast-join the driver-built offsets frame back onto the
    bucketed rows, null-safely on the group columns: a NULL group-key
    value is a normal partition for the window functions these helpers
    reproduce, so plain ``=`` equality (which drops NULL keys) would
    silently lose those rows. The offsets' key columns are aliased away
    before the join and dropped after, so output column names/ordering
    are untouched."""
    off = offsets.select(
        *[F.col(c).alias(f"__g{i}") for i, c in enumerate(group_cols)],
        F.col(_BKT).alias("__obkt"),
        *[c for c in offsets.columns if c not in (*group_cols, _BKT)],
    )
    cond = functools.reduce(
        operator.and_,
        [bucketed[c].eqNullSafe(off[f"__g{i}"]) for i, c in enumerate(group_cols)]
        + [bucketed[_BKT] == off["__obkt"]],
    )
    return bucketed.join(F.broadcast(off), cond).drop(
        "__obkt", *[f"__g{i}" for i in range(len(group_cols))]
    )


def checkpoint_with_sketch(
    df: DataFrame,
    order_cols: list[str],
    *,
    n_buckets: int = 64,
    relative_error: float | None = None,
) -> tuple[DataFrame, dict[str, list[float]]]:
    """Eagerly ``localCheckpoint`` ``df`` and return (checkpointed
    frame, per-column quantile bounds suitable for the ``bounds=``
    parameter of the rank primitives). The sketch rides the
    checkpoint's materialization job as an ``observe()`` metric
    (``approx_percentile``), so a rank caller that must persist its
    input anyway pays ONE job for checkpoint+sketch instead of two
    sequential driver round trips (guide §1.2 — the round-16 profile
    measured each extra metadata action at ~0.3-0.5 s of driver
    latency on this box). ``approx_percentile``'s bounds differ from
    ``approxQuantile``'s Greenwald-Khanna bounds, which is immaterial:
    bucket boundaries only affect balance, never rank order (module
    docstring)."""
    from pyspark.sql import Observation

    err = relative_error if relative_error is not None else 1.0 / (4 * n_buckets)
    acc = max(int(1.0 / err), n_buckets)
    probs = ",".join(str(i / n_buckets) for i in range(1, n_buckets))
    obs = Observation()
    ck = df.observe(
        obs,
        *[
            F.expr(f"approx_percentile({c}, array({probs}), {acc})").alias(c)
            for c in order_cols
        ],
    ).localCheckpoint(eager=True)
    vals = obs.get
    return ck, {
        c: [float(x) for x in (vals[c] or [])] for c in order_cols
    }


def _uniform_bucket(
    order_col: str, lo: float, hi: float, n_buckets: int
) -> F.Column:
    """Bucket id for a value KNOWN to be ~uniform on [lo, hi) — e.g.
    the engine's 60-bit md5-prefix sort keys: provably balanced
    buckets from pure arithmetic, no quantile sketch pass and no
    Bucketizer. Monotone non-decreasing in the order column (floor of
    an affine map, top edge clamped), so bucket boundaries respect the
    total order and rank exactness is untouched even if the declared
    domain is wrong — only balance would suffer. NULL order values
    raise (the Bucketizer path's handleInvalid="error" contract)."""
    width = (hi - lo) / n_buckets
    c = F.col(order_col)
    return F.when(
        c.isNotNull(),
        F.least(
            F.floor((c - F.lit(lo)) / F.lit(width)),
            F.lit(n_buckets - 1),
        ).cast("double"),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"exact rank: NULL {order_col} under uniform_domain "
                "(order_col must be non-null)"
            )
        ).cast("double")
    )


def _splits(bounds: list[float]) -> list[float]:
    """Strictly-increasing Bucketizer splits from (possibly duplicated
    or empty) quantile bounds. An empty sketch — empty input frame, or
    every sampled value identical after dedupe collapsing to nothing —
    still needs >= 3 split points, so a finite dummy boundary is
    inserted; with 0 or 1 distinct values every row lands in one
    bucket, which is trivially rank-correct."""
    uniq = sorted({float(b) for b in bounds})
    if not uniq:
        uniq = [0.0]
    return [float("-inf"), *uniq, float("inf")]


def exact_group_rank(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str],
    *,
    descending: bool = False,
    n_buckets: int = 64,
    relative_error: float | None = None,
    rank_col: str = "rk",
    count_col: str | None = None,
    bounds: list[float] | None = None,
    uniform_domain: tuple[float, float] | None = None,
) -> DataFrame:
    """``df`` plus ``rank_col`` = the exact 1-based rank of each row
    within its ``group_cols`` group under the total order
    ``(order_col [DESC], *tiebreak_cols ASC)`` — equivalent to
    ``row_number() over (partition by group order by ...)`` but with
    groups × ``n_buckets`` parallel sort partitions instead of one task
    per group. ``count_col``, if given, additionally carries the group
    row count (for percent_rank/ntile denominators) without a second
    window pass.

    ``order_col`` must be numeric and non-null (Bucketizer
    ``handleInvalid="error"`` fails loudly otherwise); ties in
    ``order_col`` must be broken to a total order by ``tiebreak_cols``.
    NULL group-key values are preserved as their own group (the offset
    join-back is null-safe), matching window-function semantics.

    The quantile sketch pass can be skipped — exactness never depends
    on bucket boundaries (module docstring), so callers that already
    know the distribution should say so: ``bounds`` takes precomputed
    quantiles (e.g. from :func:`checkpoint_with_sketch`, which fuses
    the sketch into the checkpoint job the caller runs anyway);
    ``uniform_domain=(lo, hi)`` derives the buckets arithmetically for
    ~uniform order columns (the md5-prefix sort keys), no sketch pass
    and no Bucketizer at all.
    """
    # "__n"/"__off"/the bucket column are internal scratch names that
    # are dropped before returning — a caller-chosen output name that
    # collides would be silently dropped with them (bit us twice:
    # curriculum_order, exact_quantiles)
    reserved = {"__n", "__off", _BKT}
    if rank_col in reserved or (count_col is not None and count_col in reserved):
        raise ValueError(
            f"rank_col/count_col may not use reserved internal names {reserved}"
        )

    if uniform_domain is not None:
        bucketed = df.withColumn(
            _BKT, _uniform_bucket(order_col, *uniform_domain, n_buckets)
        )
    else:
        from pyspark.ml.feature import Bucketizer

        if bounds is None:
            err = (
                relative_error
                if relative_error is not None
                else 1.0 / (4 * n_buckets)
            )
            probs = [i / n_buckets for i in range(1, n_buckets)]
            bounds = df.stat.approxQuantile(order_col, probs, err)
        splits = _splits(bounds)
        bucketed = Bucketizer(
            splits=splits,
            inputCol=order_col,
            outputCol=_BKT,
            handleInvalid="error",
        ).transform(df)

    # groups × buckets rows — metadata-sized at any data scale
    counts = (
        bucketed.groupBy(*group_cols, _BKT).agg(F.count(F.lit(1)).alias("__c")).collect()
    )
    per_group: dict[tuple, list[tuple[float, int]]] = {}
    for r in counts:
        key = tuple(r[c] for c in group_cols)
        per_group.setdefault(key, []).append((r[_BKT], r["__c"]))
    rows = []
    for key, buckets in per_group.items():
        buckets.sort(key=lambda t: t[0], reverse=descending)
        total = sum(c for _, c in buckets)
        acc = 0
        for bkt, c in buckets:
            rows.append((*key, float(bkt), acc, total))
            acc += c

    schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [
            T.StructField(_BKT, T.DoubleType()),
            T.StructField("__off", T.LongType()),
            T.StructField("__n", T.LongType()),
        ]
    )
    # literal relation, not createDataFrame: the offsets are metadata-
    # sized driver rows, and the RDD path would launch a Python-worker
    # stage per action just to re-read them (see localframe.py)
    offsets = local_frame(df.sparkSession, rows, schema)

    order = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    order += [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols, _BKT).orderBy(*order)
    out = _join_offsets(bucketed, offsets, group_cols).withColumn(
        rank_col, (F.col("__off") + F.row_number().over(w)).cast("long")
    )
    if count_col is not None:
        out = out.withColumn(count_col, F.col("__n"))
    return out.drop(_BKT, "__off", "__n")


def exact_group_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str],
    value_col: str,
    *,
    n_buckets: int = 64,
    relative_error: float | None = None,
    cumsum_col: str = "cumsum",
) -> DataFrame:
    """``df`` plus ``cumsum_col`` = the exact running sum of
    ``value_col`` within each group under the total order
    ``(order_col, *tiebreak_cols)`` — ``sum(value) over (partition by
    group order by ... rows unbounded preceding)`` without funneling
    each group through one task. Same bucket-and-offset shape as
    :func:`exact_group_rank`: the driver folds per-(group, bucket)
    partial sums (metadata-sized) into bucket start offsets; the
    running sum inside each bucket is a parallel window. Intended for
    integral values (the driver-side fold reorders additions; integer
    sums are order-independent, float sums are not)."""
    from pyspark.ml.feature import Bucketizer

    # same reserved-scratch-name rule as exact_group_rank
    reserved = {"__n", "__off", _BKT}
    if cumsum_col in reserved:
        raise ValueError(
            f"cumsum_col may not use reserved internal names {reserved}"
        )

    err = relative_error if relative_error is not None else 1.0 / (4 * n_buckets)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.stat.approxQuantile(order_col, probs, err)
    splits = _splits(bounds)
    bucketed = Bucketizer(
        splits=splits, inputCol=order_col, outputCol=_BKT, handleInvalid="error"
    ).transform(df)

    partials = (
        bucketed.groupBy(*group_cols, _BKT).agg(F.sum(value_col).alias("__s")).collect()
    )
    per_group: dict[tuple, list[tuple[float, int]]] = {}
    for r in partials:
        key = tuple(r[c] for c in group_cols)
        per_group.setdefault(key, []).append((r[_BKT], r["__s"]))
    rows = []
    for key, buckets in per_group.items():
        buckets.sort(key=lambda t: t[0])
        acc = 0
        for bkt, s in buckets:
            rows.append((*key, float(bkt), acc))
            acc += s
    schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [T.StructField(_BKT, T.DoubleType()), T.StructField("__off", T.LongType())]
    )
    offsets = local_frame(df.sparkSession, rows, schema)

    w = (
        Window.partitionBy(*group_cols, _BKT)
        .orderBy(F.col(order_col).asc(), *[F.col(c).asc() for c in tiebreak_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _join_offsets(bucketed, offsets, group_cols)
        .withColumn(
            cumsum_col, (F.col("__off") + F.sum(value_col).over(w)).cast("long")
        )
        .drop(_BKT, "__off")
    )


def ntile_from_rank(rank: F.Column, n: F.Column, k: int) -> F.Column:
    """SQL ``NTILE(k)`` reconstructed from an exact rank and the group
    size: the first ``n % k`` tiles get ``n // k + 1`` rows, the rest
    ``n // k`` — bit-for-bit the window function's assignment, computed
    without the single-task-per-group window."""
    q = F.floor(n / k)  # base tile size
    rem = n % k  # tiles that get one extra row
    head = rem * (q + F.lit(1))  # rows covered by the bigger tiles
    return (
        F.when(rank <= head, F.ceil(rank / (q + F.lit(1))))
        .otherwise(rem + F.ceil((rank - head) / q))
        .cast("long")
    )
