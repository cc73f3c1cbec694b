"""Custom stateful streaming operators (SURVEY.md §2.8 T6, §7 phase 3).

The reference keeps mutable per-key state in a Faust in-memory table
(``kafka-streaming-pipeline/consumers/faust_stream.py:32,41-71``) and in
the dashboard's per-station models
(``consumers/models/station.py:26-43``). A streaming
``max(struct(seq, ...))`` aggregation keeps that table exactly: its
state store holds each key's winner across micro-batches, checkpoint
included, so late and out-of-order rows compare against the stored
winner; :func:`latest_per_key_stateful` is the CTA station table.
Faces that need per-key state a built-in aggregate cannot express
(:func:`gap_fill_stateful`, :func:`transition_stateful`) use
``applyInPandasWithState``: user-defined per-key state in the same
executor state store, stamped with a state-schema version so that an
incompatible checkpoint fails loudly instead of misdecoding.

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
    """Per-user hourly LOCF (last observation carried forward)
    resampling of an event stream, kept as incremental state. Per key the
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
    """Streaming per-user event-transition extraction: the
    (prev_type → next_type) pairs a batch ``lag(event_type)`` over
    ``(ts, event_id)`` per user yields, as incremental state.
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
