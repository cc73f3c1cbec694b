"""Custom stateful streaming operators (SURVEY.md §2.8 T6, §7 phase 3).

The reference keeps mutable per-key state in a Faust in-memory table
(``kafka-streaming-pipeline/consumers/faust_stream.py:32,41-71``) and in
the dashboard's per-station models
(``consumers/models/station.py:26-43``). A streaming
``max(struct(seq, ...))`` aggregation keeps that table exactly: its
state store holds each key's winner across micro-batches, checkpoint
included, so late and out-of-order rows compare against the stored
winner. Faces that need per-key state a built-in aggregate cannot
express (gap fill, transitions) use ``applyInPandasWithState``:
user-defined per-key state in the same executor state store.

Scale notes: state is partitioned by key across executors (hash
shuffle), each micro-batch touches only keys present in the batch, and
the Arrow batch interface keeps the Python hops vectorized. State size
is O(distinct keys × payload), the same as the Faust table it replaces.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(
    updates: DataFrame,
    keys: list[str],
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit only the FIRST row seen per
    key across all micro-batches.

    Without ``event_time_col`` the dedup state grows forever (every key
    ever seen) — the compat form, matching the reference's unbounded
    stream state (T3). With it, ``dropDuplicatesWithinWatermark``
    bounds state to the watermark horizon: the 100 TB form, correct
    whenever true duplicates arrive within ``delay`` of each other
    (exactly the guarantee a Kafka producer retry needs).
    """
    if event_time_col is None:
        return updates.dropDuplicates(keys)
    return updates.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


def incremental_dedup_stream(
    new_docs: DataFrame,
    hist_hashes: DataFrame,
    text_col: str = "text",
    hash_col: str = "content_md5",
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming face of
    :func:`~udacity_dsnd_projects_spark.functions.dedup.incremental_dedup`:
    a stream of newly-crawled documents is content-hashed, deduped
    within the stream (first-seen wins across micro-batches), and
    anti-joined against the STATIC prior-snapshot hash table — a
    stream-static left-anti join, one of Spark's supported
    stream-static shapes, so only truly-new content flows downstream.

    ``hist_hashes`` must be a batch frame with column ``hash_col``
    (distinct md5s of the snapshot). At scale that frame is a
    bucketed/Z-ordered table the join prunes against; the per-stream
    state is the within-stream dedup's, and mirrors
    :func:`dedup_stream`'s signature (the ADVICE r14 doctrine applied
    family-wide): without ``event_time_col`` the store grows with
    every hash ever seen — the compat form; with it,
    ``dropDuplicatesWithinWatermark`` bounds state to the watermark
    horizon (the md5 projection preserves every input column, so the
    event-time column rides through untouched)."""
    from pyspark.sql import functions as F

    hashed = new_docs.withColumn(
        hash_col, F.md5(F.col(text_col).cast("binary"))
    )
    return dedup_stream(hashed, [hash_col], event_time_col, delay).join(
        hist_hashes, hash_col, "left_anti"
    )


def chunk_dedup_stream(
    new_chunks: DataFrame,
    hist_hashes: DataFrame,
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming CHUNK screen against the published ``chunk_hash``
    index — :func:`incremental_dedup_stream`'s recipe at training-chunk
    granularity (VERDICT r13 task 2): once the batch pass has
    published its keeper hash table
    (:func:`~udacity_dsnd_projects_spark.functions.text.chunk_dedup`),
    every chunk the ingest-time chunker emits
    (:func:`~udacity_dsnd_projects_spark.streaming.monitor.encode_chunks_stream`)
    is deduped within the stream (first-seen wins across micro-batches
    — a boilerplate passage recrawled twice in one day flows once) and
    anti-joined against the snapshot index, so only chunks the
    training set has never seen reach the writer.

    ``new_chunks`` already carries ``chunk_hash``
    (:func:`~udacity_dsnd_projects_spark.functions.text.encode_chunks_frame`
    computes it row-locally — no hashing here, stream == batch by
    construction); ``hist_hashes`` is a batch frame with a
    ``chunk_hash`` column (the dedup report, or any projection of it).
    State shape mirrors :func:`dedup_stream`'s signature (ADVICE r14):
    without ``event_time_col`` the within-stream dedup's store keyed
    by the 32-char md5 grows with every hash ever seen — the compat
    form; with it, ``dropDuplicatesWithinWatermark`` bounds state to
    the watermark horizon — the 100 TB form, correct whenever a
    recrawled chunk re-arrives within ``delay``. The history probe is
    a stream-static left-anti join either way — at scale a
    bucketed/Z-ordered hash table the join prunes against, exactly
    :func:`incremental_dedup_stream`'s shape."""
    return dedup_stream(new_chunks, ["chunk_hash"], event_time_col, delay).join(
        hist_hashes.select("chunk_hash"), "chunk_hash", "left_anti"
    )


def near_dup_stream(
    new_docs: DataFrame,
    index_bands: DataFrame,
    threshold: float | None = None,
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-dup detection against a static MinHash-LSH band
    index — the fuzzy sibling of :func:`incremental_dedup_stream`: a
    stream of new documents is signature-banded with the SAME JVM
    expressions as the batch face
    (:func:`~udacity_dsnd_projects_spark.functions.dedup.signatures_for`
    + ``bands_for_sigs`` — streaming-safe, no Python, no state) and
    joined stream-static against the snapshot's band index; colliding
    candidates are scored by estimated Jaccard (fraction of matching
    signature rows) and pairs over ``threshold`` flow downstream as
    (doc_id, hist_doc_id, est_jaccard).

    ``index_bands`` is ``minhash_bands_for(history)`` materialized —
    at scale a bucketed table keyed on (band, key) so the stream-side
    probe prunes. Band collisions produce duplicate candidate rows
    across micro-batches; the pair dedup mirrors
    :func:`dedup_stream`'s signature (ADVICE r14 doctrine): without
    ``event_time_col`` it keeps the first pair forever (compat
    unbounded state); with it, the event-time column rides through the
    signature/banding projections (``keep_cols``) so
    ``dropDuplicatesWithinWatermark`` can bound the pair store to the
    watermark horizon."""
    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.functions.dedup import (
        NUM_PERM,
        bands_for_sigs,
        signatures_for,
    )

    if threshold is None:
        from udacity_dsnd_projects_spark.functions.dedup import JACCARD_THRESHOLD

        threshold = JACCARD_THRESHOLD
    keep = (event_time_col,) if event_time_col is not None else ()
    bands = bands_for_sigs(signatures_for(new_docs, keep), keep)
    hist = index_bands.select(
        "band",
        "key",
        F.col("doc_id").alias("hist_doc_id"),
        F.col("mh").alias("hist_mh"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("mh", "hist_mh", lambda x, y: x == y), lambda eq: eq
            )
        )
        / NUM_PERM
    )
    pairs = (
        bands.join(hist, ["band", "key"])
        .withColumn("est_jaccard", F.round(est, 5))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_id", "hist_doc_id", "est_jaccard", *keep)
    )
    return dedup_stream(
        pairs, ["doc_id", "hist_doc_id"], event_time_col, delay
    ).select("doc_id", "hist_doc_id", "est_jaccard")


def latest_per_key_stateful(
    updates: DataFrame,
    key_col: str,
    seq_col: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """Exact last-write-wins table over a stream of upserts: for each
    key, keep the row with the highest ``seq_col`` seen SO FAR across
    all micro-batches, and emit the key's current winner every time
    the key appears in a batch (update-mode semantics, like a Faust
    changelog emit on every table write).

    A native streaming aggregate: ``max(struct(seq, *values))`` per
    key. Its state store holds the winner across micro-batches and
    restarts, so a late row with a lower sequence never overwrites a
    newer one — the comparison is against the stored winner, not just
    within the batch. Struct ordering declares the tie-break: on equal
    ``seq`` the larger value tuple wins, whatever the arrival order,
    batch boundaries or partitioning (the same order as
    :func:`.sinks.latest_per_key`).

    Migration: a checkpoint written by the earlier
    ``applyInPandasWithState`` form of this table is refused at restart
    (``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``).
    Discard that checkpoint; the replay from the earliest offset
    rebuilds the state, and the compacted-table sink's seq-ordered
    merge keeps the stored table correct meanwhile.
    """
    from pyspark.sql import functions as F

    return (
        updates.groupBy(key_col)
        .agg(F.max(F.struct(seq_col, *value_cols)).alias("__v"))
        .select(key_col, "__v.*")
    )


_HOUR_US = 3_600_000_000

#: State-schema versions for the applyInPandasWithState faces, stored
#: as the FIRST field of every state tuple. Spark's state store does
#: not decode-check pandas state tuples across code upgrades — a
#: restart from a checkpoint written by an older tuple layout would
#: silently MISDECODE (shifted fields), which is how the round-9
#: layout changes earned their docstring warnings. With the stamp, an
#: old checkpoint's first field (an epoch-us frontier, never a small
#: int) fails the equality check and the query dies loudly instead.
#: Bump on ANY state-tuple layout change.
GAP_FILL_STATE_VER = 2  # v2 = round-9 layout (+late_count) + stamp
TRANSITION_STATE_VER = 2  # v2 = round-9 layout (-last_eid, +late_count) + stamp


def _check_state_ver(stored: int, expected: int, face: str) -> None:
    """Fail-loud guard for checkpointed state decoded by newer code."""
    if stored != expected:
        raise ValueError(
            f"{face}: state-schema version mismatch — checkpoint holds "
            f"{stored!r}, this code expects {expected}. The checkpoint was "
            "written by an incompatible state layout; discard it (or run "
            "the matching code version) instead of misdecoding."
        )


def gap_fill_stateful(events: DataFrame) -> DataFrame:
    """Streaming face of
    :func:`~udacity_dsnd_projects_spark.operators.timeseries.timeseries_gap_fill`:
    per-user hourly LOCF resampling as incremental state. Per key the
    state is (last emitted hour, running argmax of that hour, carried
    value); each micro-batch emits (a) filler rows for every silent
    hour between the state's frontier and the batch's hours — carrying
    the last observed value forward, ``is_observed`` 0 — and (b) the
    observed hours themselves, re-emitting an hour when a later batch
    adds events to it (update-mode semantics: the LAST emission per
    (user, hr) is current, exactly like the compacted-table sink).

    Contract: per-user event time must be non-decreasing ACROSS
    micro-batches (the watermark-ordered replay the file/Kafka sources
    provide); an event older than the state frontier is counted into
    the frontier hour's stats rather than rewriting emitted history —
    the same no-time-travel rule every LOCF stream has. Contract
    violations are DETECTED, not silently trusted: every row landing
    in an hour BEFORE the frontier hour increments the per-key
    ``late_count`` state field (cumulative, checkpoint-persisted)
    while being folded, so an upstream that starts violating the
    ordering shows up as a growing counter rather than quietly skewed
    hourly stats. (A late row within the frontier hour itself is NOT a
    distortion — the hourly argmax handles it exactly.)

    Scale: state is O(distinct users × one row); silent-hour emission
    is bounded per batch by the real gap length, and each batch
    touches only the users present in it.

    Checkpoint compatibility: the state tuple leads with
    :data:`GAP_FILL_STATE_VER`; a restart from a checkpoint written by
    any other layout (e.g. the pre-round-9 tuple without
    ``late_count``) fails loudly on the version stamp instead of
    misdecoding shifted fields. Discard the old checkpoint (or run the
    matching code version) when upgrading across a state change.

    Expects columns (user_id, ts, event_id, value).
    """
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("hr", T.TimestampType()),
            T.StructField("value_filled", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("is_observed", T.IntegerType()),
        ]
    )
    # (schema version stamp, frontier hour epoch-us, best ts-us, best
    #  event_id, best value, events-in-frontier-hour, cross-hour late
    #  rows folded so far)
    state_schema = T.StructType(
        [
            T.StructField("ver", T.IntegerType()),
            T.StructField("hr_us", T.LongType()),
            T.StructField("best_ts", T.LongType()),
            T.StructField("best_eid", T.LongType()),
            T.StructField("best_val", T.DoubleType()),
            T.StructField("n_ev", T.LongType()),
            T.StructField("late_count", T.LongType()),
        ]
    )

    def update_fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            stored = list(state.get)
            _check_state_ver(stored[0], GAP_FILL_STATE_VER, "gap_fill_stateful")
            st = stored[1:]
        else:
            st = None

        # Vectorized fold (guide §4.2) — equivalent to the row-loop
        # state machine because the batch is sorted by (ts, event_id):
        # the batch-internal frontier never regresses, so "late" rows
        # (hour < frontier) can only be late vs the STORED frontier and
        # sit at the head of the sort; and within each hour group the
        # LAST row is its (ts, event_id) argmax.
        #
        # One group can arrive as SEVERAL Arrow chunks (rows beyond
        # arrow.maxRecordsPerBatch split); sorting per chunk would
        # process events out of time order and corrupt the frontier —
        # concatenate first, sort ONCE.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            ).sort_values(["ts", "event_id"])
            # unit-safe epoch-us: Arrow may hand pandas datetime64[ns]
            # OR [us] depending on version — normalize before the
            # integer view instead of assuming nanoseconds
            ts_us = (
                batch["ts"].astype("datetime64[us]").to_numpy().astype("int64")
            )
            eids = batch["event_id"].to_numpy()
            vals = batch["value"].to_numpy()
            hrs = (ts_us // _HOUR_US) * _HOUR_US
            late_n = 0
            if st is not None:
                # no-time-travel: fold pre-frontier rows into the
                # frontier hour, COUNTING the contract violations
                # (detect, don't trust). Late rows keep their original
                # (ts, event_id) for the argmax compare — all below the
                # stored best (best_ts >= frontier start > late ts), so
                # clamping the hour alone matches the row-loop exactly.
                late = hrs < st[0]
                late_n = int(late.sum())
                if late_n:
                    hrs = np.where(late, st[0], hrs)
            # hour-group boundaries over the (clamped) non-decreasing
            # hour array: last index per hour == per-hour argmax row
            last_idx = np.append(np.flatnonzero(np.diff(hrs) != 0), len(hrs) - 1)
            uh = hrs[last_idx]
            n_per = np.diff(np.append(-1, last_idx))
            # resolve the first hour against stored state
            obs_hr = uh
            obs_nev = n_per
            obs_val = vals[last_idx].astype("float64", copy=False)
            if st is None:
                start_hr = int(uh[0])
                late_total = 0
            else:
                late_total = st[5] + late_n
                start_hr = st[0]
                if uh[0] == st[0]:
                    # cross-batch merge into the stored frontier hour
                    obs_nev = obs_nev.copy()
                    obs_nev[0] += st[4]
                    i = last_idx[0]
                    if (int(ts_us[i]), int(eids[i])) <= (st[1], st[2]):
                        obs_val = obs_val.copy()
                        obs_val[0] = st[3]
                else:
                    # the stored frontier hour closes in front of the
                    # batch's hours
                    obs_hr = np.append(st[0], uh)
                    obs_nev = np.append(st[4], n_per)
                    obs_val = np.append(st[3], obs_val)
            # new state = the (possibly merged) LAST hour's winner
            j = last_idx[-1]
            if (
                st is not None
                and len(uh) == 1
                and uh[0] == st[0]
                and (int(ts_us[j]), int(eids[j])) <= (st[1], st[2])
            ):
                best_ts, best_eid, best_val = st[1], st[2], st[3]
            else:
                best_ts, best_eid, best_val = (
                    int(ts_us[j]),
                    int(eids[j]),
                    float(vals[j]),
                )
            st = [
                int(uh[-1]),
                best_ts,
                best_eid,
                best_val,
                int(obs_nev[-1]),
                int(late_total),
            ]
            # dense hour range [start_hr, frontier]: observed hours get
            # their stats, silent hours carry the last observed value
            # forward (LOCF via a running last-observed-index scan)
            all_hr = np.arange(start_hr, uh[-1] + _HOUR_US, _HOUR_US)
            pos = ((obs_hr - start_hr) // _HOUR_US).astype("int64")
            observed = np.zeros(len(all_hr), dtype="int32")
            observed[pos] = 1
            n_events = np.zeros(len(all_hr), dtype="int64")
            n_events[pos] = obs_nev
            val_at = np.zeros(len(all_hr), dtype="float64")
            val_at[pos] = obs_val
            carry_idx = np.maximum.accumulate(
                np.where(observed == 1, np.arange(len(all_hr)), 0)
            )
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(all_hr), key[0], dtype="int64"),
                    "hr": all_hr.astype("datetime64[us]"),
                    "value_filled": val_at[carry_idx],
                    "n_events": n_events,
                    "is_observed": observed,
                }
            )
            state.update((GAP_FILL_STATE_VER, *st))
        elif st is not None:
            state.update((GAP_FILL_STATE_VER, *st))
            yield pd.DataFrame(
                {
                    "user_id": np.array([key[0]], dtype="int64"),
                    "hr": np.array([st[0]], dtype="int64").astype("datetime64[us]"),
                    "value_filled": np.array([st[3]], dtype="float64"),
                    "n_events": np.array([st[4]], dtype="int64"),
                    "is_observed": np.array([1], dtype="int32"),
                }
            )

    # project to exactly the columns the fold reads BEFORE the keyed
    # shuffle: the events stream also carries event_type and the fat
    # ``props`` JSON payload, and an opaque Python function defeats
    # Catalyst's pruning — without this select every unused byte
    # crosses the shuffle AND the Arrow boundary (guide §4.1)
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def transition_stateful(events: DataFrame) -> DataFrame:
    """Streaming face of
    :func:`~udacity_dsnd_projects_spark.operators.analytics.event_transition_matrix`:
    per-user (prev_type → next_type) transitions as incremental state.
    Per key the state is (last_ts, last_type, late_count) — the
    frontier event time and type plus the cumulative dropped-late-row
    counter; each micro-batch sorts its rows once by (ts, event_id),
    emits one
    (user_id, prev_type, next_type) row per consecutive pair —
    including the pair that straddles the batch boundary via the
    stored state — and leaves the newest event in state. Downstream a
    plain streaming ``groupBy(prev_type, next_type).count()`` IS the
    transition matrix, updated per batch; emitted transitions are
    append-only facts (each consecutive pair exists exactly once), so
    no retraction logic is needed.

    Contract: per-user event time must be non-decreasing ACROSS
    micro-batches (the watermark-ordered replay the file/Kafka sources
    provide) — the same rule as :func:`gap_fill_stateful`. Unlike the
    LOCF face (where a late row can be folded into the frontier hour
    without breaking emitted history), a late row HERE would fabricate
    transitions that never happened in event time — (frontier → old)
    then (old → next) — so contract violations are DROPPED, not
    trusted: any row with event time strictly before the stored
    frontier is discarded and counted into the per-key ``late_count``
    state field (cumulative, checkpoint-persisted). Rows that tie the
    frontier timestamp are in-contract and processed normally.

    Scale: state is O(distinct users × one row); each batch touches
    only the users present in it, and the Python hop is one sorted
    pass per Arrow group.

    Checkpoint compatibility: the state tuple leads with
    :data:`TRANSITION_STATE_VER`; a restart from a checkpoint written
    by any other layout (e.g. the pre-round-9 tuple with ``last_eid``)
    fails loudly on the version stamp instead of misdecoding shifted
    fields. Discard the old checkpoint (or run the matching code
    version) when upgrading across a state change.

    Expects columns (user_id, ts, event_id, event_type).
    """
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
    )
    # schema version stamp, frontier event time (epoch-us, LIVE: the
    # late-row gate), its type, and the cumulative count of dropped
    # contract violations
    state_schema = T.StructType(
        [
            T.StructField("ver", T.IntegerType()),
            T.StructField("last_ts", T.LongType()),
            T.StructField("last_type", T.StringType()),
            T.StructField("late_count", T.LongType()),
        ]
    )

    def update_fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            stored = list(state.get)
            _check_state_ver(
                stored[0], TRANSITION_STATE_VER, "transition_stateful"
            )
            st = stored[1:]
        else:
            st = None
        # Vectorized fold (guide §4.2) — equivalent to the row loop
        # because the batch is sorted by (ts, event_id): the in-batch
        # frontier never regresses, so a row can only be late vs the
        # STORED frontier, and all late rows sit at the head of the
        # sort; the surviving rows' transitions are a 1-shift zip.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            ).sort_values(["ts", "event_id"])
            # unit-safe epoch-us (Arrow may deliver [ns] or [us])
            ts_us = (
                batch["ts"].astype("datetime64[us]").to_numpy().astype("int64")
            )
            etypes = batch["event_type"].to_numpy()
            if st is not None:
                n_late = int(np.count_nonzero(ts_us < st[0]))
                if n_late:  # late rows: drop, never mis-emit — but COUNT
                    ts_us, etypes = ts_us[n_late:], etypes[n_late:]
                    st = [st[0], st[1], st[2] + n_late]
            if len(etypes):
                prev = (
                    etypes[:-1]
                    if st is None
                    else np.append(np.array([st[1]], dtype=object), etypes[:-1])
                )
                nxt = etypes if st is not None else etypes[1:]
                st = [int(ts_us[-1]), etypes[-1], 0 if st is None else st[2]]
                if len(nxt):
                    yield pd.DataFrame(
                        {
                            "user_id": np.full(len(nxt), key[0], dtype="int64"),
                            "prev_type": prev,
                            "next_type": nxt,
                        }
                    )
        if st is not None:
            state.update((TRANSITION_STATE_VER, *st))

    # same pruning rationale as gap_fill_stateful: the opaque Python
    # hop would otherwise ship value + props through shuffle and Arrow
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def substring_match_stream(
    new_docs: DataFrame,
    fp_index: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """Streaming SUBSTRING-level screen against a static winnowing
    index — the third crawl-loop probe next to
    :func:`incremental_dedup_stream` (exact) and
    :func:`near_dup_stream` (whole-doc similarity): winnowing's
    guarantee makes a fingerprint collision a position-robust shared
    token RUN, so this face catches the quote/wrap/template case the
    other two miss. Each arriving document is fingerprinted with the
    SAME JVM expressions as the batch faces
    (:func:`~udacity_dsnd_projects_spark.functions.dedup._winnow_fp_arrays`
    — streaming-safe, no aggregation), its fingerprints probe the
    index stream-static, and each colliding (new doc, hist doc) pair
    is scored row-locally: ``shared = |fps ∩ hist_fps|``, ``overlap =
    shared / |fps|`` — containment of the NEW document ("how much of
    this crawl is already-known substring content"), the exact crawl
    triage question, with the denominator entirely stream-side so the
    score needs nothing but the collided row. Pairs at or above
    ``threshold`` flow downstream as
    (doc_id, hist_doc_id, shared, overlap).

    ``fp_index`` is ``winnowing_index_for(history)`` materialized —
    at scale a bucketed table keyed on ``fp`` (the publish-time DF cap
    already dropped boilerplate mega-buckets). Multi-fingerprint
    collisions produce duplicate candidate rows across micro-batches;
    ``dropDuplicates`` keeps the first (compat unbounded state —
    compose with a watermark column for the bounded form, as in
    :func:`dedup_stream`).

    UNSCREENABLE documents are surfaced, not swallowed: a new doc
    shorter than ``3 + WINNOW_WINDOW - 1`` tokens yields no
    fingerprints (the substrate's minimum window), so this probe can
    say nothing about it — it is emitted once as
    (doc_id, NULL, NULL, NULL) so a crawl-triage consumer can
    distinguish "screened clean" (absent) from "too short to screen"
    (null row) and route the doc to the exact-hash probe
    (:func:`incremental_dedup_stream`), which has no length floor."""
    from udacity_dsnd_projects_spark.functions.dedup import (
        WINNOW_OVERLAP_T,
        WINNOW_WINDOW,
        _winnow_fp_arrays,
    )
    from pyspark.sql import functions as F

    if threshold is None:
        threshold = WINNOW_OVERLAP_T
    probe = _winnow_fp_arrays(new_docs).select(
        "doc_id", "fps", F.explode_outer("fps").alias("fp")
    )
    shared = F.size(F.array_intersect("fps", "hist_fps"))
    matched = (
        probe.join(fp_index, "fp")
        .withColumn("shared", shared)
        .withColumn("overlap", F.round(shared / F.size("fps"), 5))
        .filter(F.col("overlap") >= threshold)
        .select("doc_id", "hist_doc_id", "shared", "overlap")
    )
    # too-short-to-screen rows: below the substrate's fingerprint
    # floor there is no screening verdict — emit a null row per doc so
    # downstream routes it instead of mistaking silence for "clean"
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    unscreened = (
        new_docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") < 3 + WINNOW_WINDOW - 1)
        .select(
            "doc_id",
            F.lit(None).cast("long").alias("hist_doc_id"),
            F.lit(None).cast("int").alias("shared"),
            F.lit(None).cast("double").alias("overlap"),
        )
    )
    # ONE dedup over BOTH branches (nulls compare equal in
    # dropDuplicates): matched pairs dedupe across multi-fingerprint
    # collisions as before, and a too-short doc re-delivered by an
    # at-least-once source dedupes on its (doc_id, NULL) key instead of
    # re-emitting a null row per delivery — the "emitted once" contract
    # in the docstring. Placing the single state store after the union
    # also drops the second shuffle the per-branch dedup would cost.
    return matched.unionByName(unscreened).dropDuplicates(
        ["doc_id", "hist_doc_id"]
    )


def deleak_probe_stream(new_docs: DataFrame, leak_ids: DataFrame) -> DataFrame:
    """Streaming LEAK screen against the PUBLISHED leak-id table — the
    fourth crawl-loop probe next to :func:`incremental_dedup_stream`
    (exact), :func:`near_dup_stream` (similarity) and
    :func:`substring_match_stream` (substring): once the batch
    decontamination pass
    (:func:`~udacity_dsnd_projects_spark.functions.curation.deleak_split`)
    has published its pair-bounded leak frame (doc_id, __n_cross), every
    newly crawled document is screened against it stream-static, so a
    re-crawl of a known test-set near-duplicate is flagged at INGEST
    instead of waiting for the next batch pass — the
    ``strip_against_index`` pattern applied to decontamination. Emits
    the same release row as the batch face: (doc_id, split,
    n_cross_pairs, action).

    Stream == batch by shared-helper identity (``_deleak_release`` —
    the select is the same object code). Stateless: one broadcast
    stream-static left join per micro-batch, split labels are modular
    arithmetic on the row's own id; no state store, no watermark
    needed. At scale the leak frame is pair-bounded (tiny at sane dup
    rates) — the broadcast is the right plan at any corpus size."""
    from pyspark.sql import functions as F

    from udacity_dsnd_projects_spark.functions.curation import _deleak_release

    return _deleak_release(new_docs.select("doc_id"), F.broadcast(leak_ids))


def quarantine_probe_stream(new_docs: DataFrame, strata: DataFrame) -> DataFrame:
    """Streaming DRIFT-quarantine screen against the PUBLISHED drift
    verdicts — the ingest-time face of
    :func:`~udacity_dsnd_projects_spark.functions.curation.quarantine_drifting_sources`:
    once the batch EMD gate has published its (lang, source, drifted)
    strata table, every newly crawled document is routed keep /
    quarantined at arrival, completing the crawl-loop action set
    (VERDICT r12 task 8). Emits the same release row as the batch
    face: (doc_id, lang, source, action).

    Stream == batch by shared-helper identity (``_quarantine_release``).
    Stateless: the strata table is (langs × sources)-sized — metadata —
    broadcast-left-joined onto each micro-batch; no state store, no
    shuffle of the document side, same plan shape at any scale."""
    from udacity_dsnd_projects_spark.functions.curation import (
        _quarantine_release,
    )

    return _quarantine_release(new_docs.select("doc_id", "lang", "source"), strata)
