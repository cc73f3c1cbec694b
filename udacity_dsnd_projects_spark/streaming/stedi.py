"""The STEDI pipeline (SURVEY.md §3.1) — transform layer.

Every function takes and returns a DataFrame and is execution-mode
agnostic: feed it a batch frame for the oracle tests, a file-stream
frame for replay tests, or a Kafka frame in production. This is the
engine's re-expression of ``spark-streaming-pipeline/sparkpykafkajoin.py``
(and its two console-variant prefixes,
``sparkpyrediskafkastreamtoconsole.py`` / ``sparkpyeventskafkastreamtoconsole.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.schemas import CUSTOMER_RECORD, REDIS_SERVER, STEDI_EVENT


def parse_redis_envelope(kv: DataFrame, ts_col: str | None = None) -> DataFrame:
    """Steps 3-6 of §3.1: cast → ``from_json`` envelope → star-expand →
    ``zSetEntries[0].element`` → ``unbase64`` → parse customer JSON.

    ``kv`` must have a string ``value`` column holding envelope JSON
    (i.e. already cast via ``kafka_bytes_as_strings``).

    Only the first zset entry of each envelope is read, as the
    reference does (``sparkpykafkajoin.py:80-82``, SURVEY P4): one
    customer row per envelope.

    ``ts_col`` names an event-time column on ``kv`` (the Kafka message
    ``timestamp`` in production) to carry through the projection as
    ``event_ts`` — the handle the watermarked default of
    :func:`join_risk` needs to bound join state."""
    carry = [F.col(ts_col).alias("event_ts")] if ts_col else []
    kept = ["event_ts"] if ts_col else []
    return (
        kv.withColumn("v", F.from_json(F.col("value"), REDIS_SERVER))
        .select("v.*", *carry)
        .select(F.col("zSetEntries")[0]["element"].alias("encodedCustomer"), *kept)
        .withColumn(
            "customer",
            F.from_json(F.unbase64("encodedCustomer").cast("string"), CUSTOMER_RECORD),
        )
        .select("customer.*", *kept)
    )


def derive_birth_year(customers: DataFrame) -> DataFrame:
    """Step 7 of §3.1: null-reject filter (P6) + birthYear derivation
    (F1): ``split(birthDay, "-")[0]`` (``sparkpykafkajoin.py:95-105``).
    An ``event_ts`` column carried by the parse step passes through."""
    carry = ["event_ts"] if "event_ts" in customers.columns else []
    return (
        customers.filter(F.col("email").isNotNull() & F.col("birthDay").isNotNull())
        .select(
            "email",
            F.split(F.col("birthDay"), "-").getItem(0).alias("birthYear"),
            *carry,
        )
    )


def parse_stedi_events(kv: DataFrame, ts_col: str | None = None) -> DataFrame:
    """Step 8 of §3.1: parse ``stedi-events`` JSON and project the join
    columns (``sparkpykafkajoin.py:120-125``: ``SELECT customer,
    score``). ``ts_col`` carries an event-time column through as
    ``event_ts`` (see :func:`parse_redis_envelope`)."""
    carry = [F.col(ts_col).alias("event_ts")] if ts_col else []
    return (
        kv.withColumn("v", F.from_json(F.col("value"), STEDI_EVENT))
        .select("v.*", *carry)
        .select("customer", "score", *(["event_ts"] if ts_col else []))
    )


def join_risk(
    risks: DataFrame,
    customers: DataFrame,
    watermarks: tuple[str, str] | None = None,
    *,
    delay: str = "1 hour",
    compat_unbounded_state: bool = False,
) -> DataFrame:
    """Step 9 of §3.1 — the stream-stream inner equi-join
    (``sparkpykafkajoin.py:128-130``: ``join(..., expr("customer =
    email"))``).

    The WATERMARKED form is the default face for streaming inputs:
    pass ``watermarks=(risk_ts_col, customer_ts_col)`` (e.g. the
    ``event_ts`` the parse steps carry; the two names must differ so
    the range predicate is unambiguous) and both sides get
    ``withWatermark(..., delay)`` PLUS an event-time range predicate
    ``|risk_ts − customer_ts| ≤ delay`` in the join condition — both
    are required for Spark to GC each side's join state (a watermark
    alone never evicts stream-stream join state, because without a
    time bound any old row could still match). This is the only form
    that survives an unbounded stream (T3); rows pair iff they arrive
    within ``delay`` of each other in event time.

    The reference's exact behavior — no watermark, state grows with
    every row ever seen (``sparkpykafkajoin.py:128-130``) — is the
    documented T3 deviation and sits behind
    ``compat_unbounded_state=True``; building a streaming plan without
    either is refused loudly rather than silently shipping an
    unbounded-state join. Batch inputs (the oracle face) need neither.
    """
    if watermarks is not None:
        risk_ts, cust_ts = watermarks
        risks = risks.withWatermark(risk_ts, delay)
        customers = customers.withWatermark(cust_ts, delay)
        cond = F.expr(
            f"customer = email AND {risk_ts} BETWEEN "
            f"{cust_ts} - INTERVAL {delay} AND {cust_ts} + INTERVAL {delay}"
        )
        return risks.join(customers, cond, "inner")
    if (risks.isStreaming or customers.isStreaming) and not compat_unbounded_state:
        raise ValueError(
            "join_risk: streaming inputs without watermarks accumulate "
            "unbounded join state. Pass watermarks=(risk_ts, customer_ts) "
            "(the default face; parse steps carry event_ts for this), or "
            "opt into the reference's quirk with compat_unbounded_state=True."
        )
    return risks.join(customers, F.expr("customer = email"), "inner")
