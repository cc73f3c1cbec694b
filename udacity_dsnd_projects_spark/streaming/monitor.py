"""Streaming face of the volume-anomaly monitor (VERDICT r8 task 9).

The batch face
(:func:`~udacity_dsnd_projects_spark.operators.analytics.daily_type_anomaly`)
re-scans all events to build the (event_type × day) rollup before
z-scoring each day against its type's history. The streaming split puts
each half where it belongs in Spark's model:

- **Incremental half** — :func:`daily_type_counts_stream`: a
  watermarked tumbling-window count, the canonical Structured
  Streaming aggregation. State is the set of live day-buckets only
  (types × days inside the watermark horizon — tiny and bounded);
  the watermark's job here is state EVICTION, not an input gate (see
  the function's contract). Update-mode emissions feed the
  compacted-table sink
  (:func:`~udacity_dsnd_projects_spark.streaming.sinks.compacted_table_upsert`
  keyed on (event_type, d)): counts are monotone per key while a
  day's state is live, so ``n_events`` doubles as the last-write-wins
  sequence — at-least-once replays upsert idempotently (T7), and a
  post-eviction resurrected LOW count loses the ``max_by`` merge
  against the already-published higher count, so the rollup never
  regresses. :func:`daily_type_counts_closed_stream` is the same plan
  run in APPEND mode — the hard closed-day contract (each day emitted
  exactly once, stragglers gated by the engine) for sinks without
  upsert semantics.
- **Full-history half** — z-scoring needs every day ever seen, which
  is exactly what a streaming agg should NOT hold in state. It stays
  a BATCH view (:func:`anomaly_monitor_view`) over the compacted
  rollup, running the SAME
  :func:`~udacity_dsnd_projects_spark.operators.analytics.score_daily_counts`
  as the batch face — one shared scorer is what makes
  stream-equals-batch provable rather than merely intended.

At 100 TB/day the rollup table this maintains is still types × days
rows; the dashboard rescans THAT, never the event log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def daily_type_counts_stream(
    events: DataFrame, delay: str = "1 day"
) -> DataFrame:
    """Watermarked per-(event_type, day) streaming count —
    (event_type, d, n_events), the incremental producer of the rollup
    :func:`anomaly_monitor_view` scores. Run in update mode into
    ``compacted_table_upsert(path, ["event_type", "d"], "n_events")``.

    Late-row contract (what update-mode aggregation ACTUALLY
    provides — pinned by
    ``tests/test_round9_ops.py::test_daily_counts_stream_merges_late_rows_into_live_state``):
    ``delay`` bounds STATE, it is not an input gate. A late row whose
    day-state is still live MERGES into that day's count and the key
    re-emits — which is exactly what the batch face does (batch counts
    every row regardless of arrival order), so merging is what keeps
    the stream==batch identity true. State for a day is evicted only
    after the watermark (max seen ``ts_day`` minus ``delay``) passes
    it, at the end of the micro-batch in which the watermark advanced;
    until that point the day is by definition live. A row arriving
    AFTER its day's state was evicted re-creates the key from scratch
    and re-emits a LOW count — the one emission that must not reach
    the dashboard — and the compacted sink suppresses it: counts are
    monotone per key while live, so the max-``n_events`` merge keeps
    the previously published higher count (pinned by
    ``test_daily_counts_rollup_suppresses_resurrected_counts``).

    Day bucketing is ``date_trunc('day', ts)`` — SESSION-TIMEZONE
    aligned, exactly like the batch face's ``to_date(ts)`` — NOT
    ``F.window(ts, '1 day')``, whose buckets are epoch-aligned (UTC
    midnights) regardless of session timezone: on any session not
    pinned to UTC the two faces would shift events near midnight onto
    different days and the advertised stream-equals-batch identity
    would silently break. Grouping directly on the watermarked
    truncated column keeps state eviction intact; because the
    watermark is tracked on the truncated time, the eviction horizon
    is ``delay`` measured from the START of the newest seen day — a
    strictly longer live window per day, never a shorter one."""
    return (
        events.select(
            "event_type", F.date_trunc("day", "ts").alias("ts_day")
        )
        .withWatermark("ts_day", delay)
        .groupBy("event_type", "ts_day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.to_date("ts_day").alias("d"),
            "n_events",
        )
    )


def daily_type_counts_closed_stream(
    events: DataFrame, delay: str = "1 day"
) -> DataFrame:
    """APPEND-mode face of :func:`daily_type_counts_stream` — the hard
    closed-day contract, by construction: a (event_type, day) row is
    emitted exactly ONCE, at the end of the micro-batch in which the
    watermark reached its day-start (inclusive; emission IS eviction
    in append mode), and append mode's watermark also GATES input —
    a row arriving after its day closed is dropped by the engine, so a
    re-opened, regressed or duplicated day is impossible and the sink
    needs no last-write-wins guard: a plain append table works. The
    price is latency and completeness: a day's count is invisible
    until the watermark closes it (``delay`` past the newest seen
    day-start), and post-close stragglers are LOST from the rollup
    rather than merged — the update face + compacted sink is the
    lower-latency, more-batch-consistent default; this face is for
    sinks without upsert semantics. Same session-timezone day
    bucketing, same schema, same downstream
    :func:`anomaly_monitor_view`.

    The LOGICAL plan is the update face's — the closed-day contract is
    a property of append-mode execution, not of the plan — so this
    delegates and the caller runs it with ``outputMode("append")``
    (pinned by ``test_daily_counts_closed_stream_emits_each_day_once``)."""
    return daily_type_counts_stream(events, delay)


def anomaly_monitor_view(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The z-score dashboard over the stream-maintained rollup table:
    reads the compacted (event_type, d, n_events) parquet and applies
    the batch face's scorer verbatim. Rollup is types × days rows, so
    the double consumption inside the scorer is free — no checkpoint
    needed."""
    from udacity_dsnd_projects_spark.operators.analytics import (
        score_daily_counts,
    )

    daily = spark.read.parquet(rollup_path).select(
        "event_type", "d", "n_events"
    )
    return score_daily_counts(daily)


def changepoint_monitor_view(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The CUSUM level-shift dashboard over the same stream-maintained
    rollup — the sequential companion to :func:`anomaly_monitor_view`
    (a z-score catches a one-day spike; CUSUM catches the sustained
    shift every day's z hides). Applies the batch face's scorer
    (:func:`~udacity_dsnd_projects_spark.operators.analytics.cusum_changepoints`)
    verbatim, so stream==batch is the shared-scorer identity, not an
    aspiration."""
    from udacity_dsnd_projects_spark.operators.analytics import (
        cusum_changepoints,
    )

    daily = spark.read.parquet(rollup_path).select(
        "event_type", "d", "n_events"
    )
    return cusum_changepoints(daily)


def token_budget_stream(docs: DataFrame, merges) -> DataFrame:
    """Streaming per-source MERGE-AWARE token accounting — the crawl
    loop's honest budget counter: as new-crawl micro-batches arrive,
    maintain the running (source, n_docs, n_words, n_merged_units)
    totals under the SHIPPED tokenizer (``merges`` — the driver-side
    artifact :func:`~udacity_dsnd_projects_spark.functions.text._learn_merges`
    learned on the published snapshot, baked into the plan as the same
    literal replace-chain the batch faces use, see
    :func:`~udacity_dsnd_projects_spark.functions.text.bpe_apply_merges`).
    A training run reads this to know when a source has delivered its
    planned token budget
    (:func:`~udacity_dsnd_projects_spark.functions.text.bpe_token_mixture_weights`).

    Stream==batch is a shared-helper identity: the per-row unit fold is
    ``_word_units_fn``/``_sum_over_words`` verbatim, so the final
    update-mode emission per source equals the batch rollup of
    ``bpe_apply_merges`` over the same rows — pinned by replay test.

    State shape: one aggregation row PER SOURCE (no watermark needed —
    source cardinality bounds state, the same argument as the
    compacted-table rollups; counts are monotone per key, so
    at-least-once upserts stay idempotent under last-write-wins on
    ``n_merged_units``). Run in update mode."""
    from udacity_dsnd_projects_spark.functions.text import (
        _eligible_words,
        _merged_units_sum,
    )

    per = docs.select("source", _eligible_words().alias("ws")).select(
        "source",
        F.size("ws").cast("long").alias("w"),
        _merged_units_sum(docs.sparkSession, merges).alias("u"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("u").alias("n_merged_units"),
    )


def encode_chunks_stream(docs: DataFrame, merges) -> DataFrame:
    """Streaming within-document chunking under the SHIPPED tokenizer —
    the ingest-time face of
    :func:`~udacity_dsnd_projects_spark.functions.text.bpe_encode_chunks`:
    each arriving crawl document is cut into
    :data:`~udacity_dsnd_projects_spark.functions.text.BPE_CHUNK_BUDGET`-unit
    training chunks the moment it lands, so the training-data writer
    downstream consumes chunk rows, not raw documents. ``merges`` is
    the published driver-side artifact (the same baked replace chain as
    :func:`token_budget_stream`).

    Stream == batch by shared-helper identity
    (:func:`~udacity_dsnd_projects_spark.functions.text.encode_chunks_frame`
    — applied verbatim). STATELESS: per-word costs, the prefix sum,
    chunk assignment, and the per-chunk rollup are all row-local array
    folds — no state store, no watermark, append mode; a micro-batch's
    output depends on nothing outside its own rows."""
    from udacity_dsnd_projects_spark.functions.text import encode_chunks_frame

    return encode_chunks_frame(docs, merges)
