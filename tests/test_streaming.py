"""Streaming-face tests (SURVEY.md §7 phase 2): replay the same rows
through file streams (multiple micro-batches via maxFilesPerTrigger=1)
and check the final materialized state equals the batch answer.
"""

from __future__ import annotations

import base64
import json

import pytest

from udacity_dsnd_projects_spark.schemas import (
    STATION,
    TRANSFORMED_STATION,
    TURNSTILE,
    WEATHER,
    WEATHER_STATUS_DOMAIN,
)
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.imports import PACKAGE_DIR, imported_names

from udacity_dsnd_projects_spark.streaming.cta import (
    faust_station_transform,
    station_table_latest,
    turnstile_summary,
    weather_display,
)
from udacity_dsnd_projects_spark.streaming.sources import (
    file_stream,
    run_foreach_batch,
    run_to_memory,
    to_kafka_shape,
)
from udacity_dsnd_projects_spark.streaming.stedi import (
    derive_birth_year,
    join_risk,
    parse_redis_envelope,
    parse_stedi_events,
)

KV_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def _envelope_rows(n: int = 20):
    """Reference-shaped redis envelopes (FIXTURES.md §3)."""
    rows = []
    for i in range(n):
        cust = {
            "customerName": f"Cust {i}",
            "email": f"cust.{i}@test.com",
            "phone": f"80155512{i:02d}",
            "birthDay": f"{1950 + i % 50}-01-03",
        }
        env = {
            "key": _b64("Customer"),
            "existType": "NONE",
            "Ch": False,
            "Incr": False,
            "zSetEntries": [{"element": _b64(json.dumps(cust)), "score": "0.0"}],
        }
        rows.append((str(i), json.dumps(env)))
    return rows


def _stedi_rows(n: int = 40):
    rows = []
    for i in range(n):
        ev = {
            "customer": f"cust.{i % 20}@test.com",
            "score": str(round(-5.0 + (i * 0.9) % 35, 1)),
            "riskDate": "2020-09-14T07:54:06.417Z",
        }
        rows.append((str(i), json.dumps(ev)))
    return rows


def _write_kv_batches(spark, rows, path, n_batches=4):
    """Write rows as several parquet files so maxFilesPerTrigger=1
    yields several micro-batches."""
    per = max(1, len(rows) // n_batches)
    for b in range(0, len(rows), per):
        spark.createDataFrame(rows[b : b + per], KV_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)


@pytest.fixture(scope="module")
def stedi_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stedi")
    env_path = str(root / "envelopes")
    risk_path = str(root / "risks")
    _write_kv_batches(spark, _envelope_rows(), env_path)
    _write_kv_batches(spark, _stedi_rows(), risk_path)
    return env_path, risk_path


def test_streaming_package_imports_no_batch_operator_modules():
    """The pipelines' package stands alone: no module under
    ``streaming/`` imports the batch ``functions`` or ``operators``
    packages, at module level or inside a function."""
    banned = tuple(f"{PACKAGE_DIR.name}.{sub}." for sub in ("functions", "operators"))
    offenders = [
        f"{path.name}:{line} {n}"
        for path in sorted((PACKAGE_DIR / "streaming").glob("*.py"))
        for line, n in imported_names(path)
        if f"{n}.".startswith(banned)
    ]
    assert not offenders, offenders


def test_envelope_decode_stream_equals_batch(spark, stedi_dirs):
    env_path, _ = stedi_dirs
    batch = derive_birth_year(
        parse_redis_envelope(spark.read.schema(KV_SCHEMA).parquet(env_path))
    )
    stream = derive_birth_year(
        parse_redis_envelope(file_stream(spark, env_path, KV_SCHEMA, max_files_per_trigger=1))
    )
    got = run_to_memory(stream, "env_decode").collect()
    want = batch.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 20
    assert all(r.birthYear.isdigit() for r in got)


def test_stream_stream_join_compat(spark, stedi_dirs):
    """§3.1 steps 2-10 end-to-end: two file streams, no watermark
    (compat T3 — unbounded state is opt-in now), kafka-shaped sink
    rows."""
    env_path, risk_path = stedi_dirs
    customers = derive_birth_year(
        parse_redis_envelope(file_stream(spark, env_path, KV_SCHEMA, max_files_per_trigger=1))
    )
    risks = parse_stedi_events(file_stream(spark, risk_path, KV_SCHEMA, max_files_per_trigger=1))
    joined = join_risk(risks, customers, compat_unbounded_state=True)
    sink = to_kafka_shape(joined, "email")
    got = run_to_memory(sink, "risk_sink").collect()

    # batch face over the same files
    bcust = derive_birth_year(
        parse_redis_envelope(spark.read.schema(KV_SCHEMA).parquet(env_path))
    )
    brisk = parse_stedi_events(spark.read.schema(KV_SCHEMA).parquet(risk_path))
    want = join_risk(brisk, bcust).count()

    assert len(got) == want == 40  # every risk event matches one customer
    payload = json.loads(got[0].value)
    assert set(payload) == {"customer", "score", "email", "birthYear"}  # golden shape
    assert got[0].key == payload["email"]


def test_stream_stream_join_with_watermark_runs(spark, stedi_dirs):
    """Idiomatic T3 mode: watermarked join still yields all on-time rows."""
    env_path, risk_path = stedi_dirs
    customers = derive_birth_year(
        parse_redis_envelope(file_stream(spark, env_path, KV_SCHEMA, max_files_per_trigger=1))
    ).withColumn("cts", F.current_timestamp())
    risks = parse_stedi_events(
        file_stream(spark, risk_path, KV_SCHEMA, max_files_per_trigger=1)
    ).withColumn("rts", F.current_timestamp())
    joined = join_risk(risks, customers, watermarks=("rts", "cts"))
    got = run_to_memory(joined, "risk_wm")
    assert got.count() == 40


def test_streaming_join_without_watermark_is_refused(spark, stedi_dirs):
    """The watermarked join is the DEFAULT face: a streaming plan with
    neither watermarks nor the explicit compat opt-in must fail loudly
    instead of silently building unbounded state."""
    env_path, risk_path = stedi_dirs
    customers = derive_birth_year(
        parse_redis_envelope(file_stream(spark, env_path, KV_SCHEMA, max_files_per_trigger=1))
    )
    risks = parse_stedi_events(file_stream(spark, risk_path, KV_SCHEMA, max_files_per_trigger=1))
    with pytest.raises(ValueError, match="unbounded join state"):
        join_risk(risks, customers)


KV_TS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _run_collect_state(joined, name):
    """Drain a streaming join into memory; return (row_count, final
    join-state row total from the last progress event)."""
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        prog = q.lastProgress
        state_rows = sum(op["numRowsTotal"] for op in prog["stateOperators"])
    finally:
        q.stop()
    n = joined.sparkSession.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]
    return n, state_rows


def test_watermarked_join_bounds_state_vs_compat(spark, tmp_path_factory):
    """State-size assertion for the default face: with event times
    advancing an hour per micro-batch and a 10-minute delay, the
    watermarked+range join must (a) still emit every on-time pair and
    (b) finish holding strictly fewer state rows than the compat
    unbounded join over the same data."""
    import datetime as dt

    root = tmp_path_factory.mktemp("stedi_wm_state")
    env_path, risk_path = str(root / "env"), str(root / "risk")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    env_rows = _envelope_rows()  # 20 customers
    risk_rows = _stedi_rows()  # 40 events, 2 per customer
    # 4 micro-batches, one hour apart; matching customer/risk rows get
    # identical event times so every pair is on-time
    for b in range(4):
        ts = base + dt.timedelta(hours=b)
        env_b = [(k, v, ts) for k, v in env_rows[b * 5 : (b + 1) * 5]]
        risk_b = [
            (k, v, ts)
            for k, v in risk_rows
            if int(k) % 20 // 5 == b  # risks for this batch's customers
        ]
        spark.createDataFrame(env_b, KV_TS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(env_path)
        spark.createDataFrame(risk_b, KV_TS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(risk_path)

    def build(watermarked: bool):
        customers = derive_birth_year(
            parse_redis_envelope(
                file_stream(spark, env_path, KV_TS_SCHEMA, max_files_per_trigger=1), ts_col="ts"
            )
        )
        risks = parse_stedi_events(
            file_stream(spark, risk_path, KV_TS_SCHEMA, max_files_per_trigger=1), ts_col="ts"
        ).withColumnRenamed("event_ts", "risk_event_ts")
        if watermarked:
            return join_risk(
                risks,
                customers,
                watermarks=("risk_event_ts", "event_ts"),
                delay="10 minutes",
            )
        return join_risk(risks, customers, compat_unbounded_state=True)

    n_wm, state_wm = _run_collect_state(build(True), "wm_state_sink")
    n_compat, state_compat = _run_collect_state(build(False), "compat_state_sink")
    assert n_wm == n_compat == 40  # every pair on-time in both modes
    assert state_wm < state_compat  # watermark + range predicate GC'd state


@pytest.fixture(scope="module")
def turnstile_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cta")
    path = str(root / "turnstiles")
    rows = [
        (1000 + i, i % 7, f"station_{i % 7}", ["red", "blue", "green"][i % 3])
        for i in range(210)
    ]
    df = spark.createDataFrame(rows, TURNSTILE)
    for b in range(3):
        df.filter(F.col("timestamp") % 3 == b).coalesce(1).write.mode("append").parquet(
            path
        )
    return path


def test_turnstile_summary_stream_equals_batch(spark, turnstile_dir):
    """§3.2 — the KSQL count as an update-mode ('continuously updated
    table') streaming agg, materialized via foreachBatch upsert (K5/T6)
    exactly like a compacted changelog topic."""
    state: dict[int, int] = {}

    def upsert(batch_df, _epoch):
        for r in batch_df.collect():
            state[r["STATION_ID"]] = r["COUNT"]

    stream = turnstile_summary(
        file_stream(spark, turnstile_dir, TURNSTILE, max_files_per_trigger=1),
        ksql_compat_names=True,
    )
    run_foreach_batch(stream, upsert, output_mode="update")

    batch = turnstile_summary(spark.read.schema(TURNSTILE).parquet(turnstile_dir))
    want = {r["station_id"]: r["count"] for r in batch.collect()}
    assert state == want
    assert sum(state.values()) == 210


def test_weather_display_formats_every_status(spark):
    """F5 — the dashboard's weather formatting: one output row per input
    row, every status in the enum domain displayed the way the
    reference's ``replace('_',' ').title()`` does, and the temperature
    rounded to one decimal."""
    # temperature is a float column: 99.95 is stored as 99.9499969...
    temps = [(12.34, 12.3), (71.26, 71.3), (-3.97, -4.0), (0.04, 0.0), (99.95, 99.9)]
    rows = [
        (1_000 + i, t, status)
        for i, ((t, _), status) in enumerate(zip(temps, WEATHER_STATUS_DOMAIN))
    ]
    out = weather_display(spark.createDataFrame(rows, WEATHER))
    assert out.columns == ["timestamp", "temperature", "status_display"]
    want = [
        (ts, shown, status.replace("_", " ").title())
        for (ts, _, status), (_, shown) in zip(rows, temps)
    ]
    assert sorted(map(tuple, out.collect())) == want
    assert want[1][2] == "Partly Cloudy"


def test_windowed_agg_with_watermark_stream_equals_batch(spark, tmp_path_factory):
    """T4 — tumbling-window agg with a watermark: replaying the corpus
    through micro-batches converges to the batch date_trunc rollup
    (append mode emits each window once its watermark passes; the final
    state must equal the batch answer for all closed windows)."""
    root = tmp_path_factory.mktemp("t4")
    path = str(root / "events")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=7 * i), ["click", "view"][i % 2])
        for i in range(60)
    ]
    # replay in (rough) time order — a chunk that revisits times more
    # than the 10-minute watermark behind the stream's max would have
    # its rows legitimately dropped as late
    for b in range(3):
        spark.createDataFrame(rows[b * 20 : (b + 1) * 20], schema).coalesce(
            1
        ).write.mode("append").parquet(path)

    stream = (
        file_stream(spark, path, schema, max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )
    # update mode: keep the latest emission per (window, type)
    got_rows = run_to_memory(stream, "t4_win", output_mode="update").collect()
    got: dict[tuple, int] = {}
    for r in got_rows:
        got[(r["hour_start"], r["event_type"])] = r["n"]

    batch = (
        spark.read.schema(schema)
        .parquet(path)
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["hour_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_session_window_stream_equals_batch_sessionize(spark, tmp_path_factory):
    """Streaming ``session_window`` (30-min gap) equals the batch
    lag+cumsum sessionization on the same rows — the two faces of the
    sessionize operator agree on session boundaries and sizes."""
    root = tmp_path_factory.mktemp("sessw")
    path = str(root / "events")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for u in range(4):
        # two sessions per user: a burst, a >30min gap, another burst
        for i in range(5):
            rows.append((u, base + dt.timedelta(minutes=u * 3 + i * 5)))
        for i in range(3):
            rows.append((u, base + dt.timedelta(minutes=120 + u * 3 + i * 5)))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
    # session windows only support append output, which emits a window
    # once the watermark passes its close — a far-future sentinel row in
    # a second micro-batch pushes the watermark beyond every real session
    spark.createDataFrame(
        [(999, base + dt.timedelta(days=2))], schema
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        file_stream(spark, path, schema, max_files_per_trigger=1)
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in run_to_memory(stream, "sessw", output_mode="append").collect()
        if r["user_id"] != 999
    }
    assert len(got) == 8  # 4 users x 2 sessions
    assert all(n in {3, 5} for n in got.values())


def test_stateful_latest_per_key(spark, tmp_path_factory):
    """T6 — streaming-aggregate last-write-wins: per-key state
    persists across micro-batches, and a row with a LOWER sequence
    arriving in a LATER micro-batch cannot overwrite the stored winner
    (the case plain per-batch max_by upserts get wrong)."""
    from udacity_dsnd_projects_spark.streaming.stateful import latest_per_key_stateful

    root = tmp_path_factory.mktemp("stateful")
    path = str(root / "updates")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    # batch 1 carries the HIGH sequences; batch 2 replays stale rows
    b1 = [(k, 100 + k, f"new_{k}") for k in range(6)]
    b2 = [(k, k, f"stale_{k}") for k in range(6)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    out = latest_per_key_stateful(
        file_stream(spark, path, schema, max_files_per_trigger=1), "k", "seq", ("val",)
    )
    rows = run_to_memory(out, "lww_state", output_mode="update").collect()
    # last emitted row per key is the final table state
    final: dict[int, tuple] = {}
    for r in rows:
        final[r["k"]] = (r["seq"], r["val"])
    assert final == {k: (100 + k, f"new_{k}") for k in range(6)}


LWW_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def _append_files(spark, path: str, batches, schema) -> None:
    """One parquet file per batch, with strictly increasing mtimes so
    a ``maxFilesPerTrigger=1`` stream reads them in list order."""
    import glob
    import os
    import time

    t0 = time.time() - len(batches)
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
        for f in set(glob.glob(f"{path}/*.parquet")) - seen:
            os.utime(f, (t0 + i, t0 + i))
            seen.add(f)


def _await(q) -> None:
    """Wait for an ``availableNow`` query; a failed query raises, a hung
    one is stopped and fails the test."""
    try:
        finished = q.awaitTermination(120)
    finally:
        q.stop()
    assert finished, "streaming query still running after 120 s"


def _run_collect(df, ckpt: str) -> list:
    """Drain ``df`` (update mode) from checkpoint ``ckpt``; return the
    emitted rows in epoch order."""
    out: list = []
    q = (
        df.writeStream.foreachBatch(lambda b, e: out.append((e, b.collect())))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return [r for _, rows in sorted(out, key=lambda x: x[0]) for r in rows]


def test_latest_per_key_tie_break_is_order_free(spark, tmp_path):
    """Equal-sequence rows have ONE declared winner — the larger value
    tuple — whether the tied rows arrive in one micro-batch or in two,
    in either order. The stream state, the stored-table merge and both
    batch faces agree on it."""
    from udacity_dsnd_projects_spark.streaming.sinks import (
        compacted_table_upsert,
        latest_per_key,
    )
    from udacity_dsnd_projects_spark.streaming.stateful import latest_per_key_stateful

    schema = T.StructType(
        [
            T.StructField("station_id", T.IntegerType()),
            T.StructField("stop_id", T.IntegerType()),
            T.StructField("station_name", T.StringType()),
            T.StructField("order", T.IntegerType()),
            T.StructField("line", T.StringType()),
        ]
    )
    values = ("station_name", "order", "line")
    a = [(1, 5, "alpha", 1, "red"), (2, 7, "same", 3, "blue"), (3, 2, "low", 1, "red")]
    b = [(1, 5, "beta", 1, "red"), (2, 7, "same", 9, "blue"), (3, 1, "lower", 1, "red")]
    want = {1: (5, "beta", 1, "red"), 2: (7, "same", 9, "blue"), 3: (2, "low", 1, "red")}

    def as_table(rows):
        return {r["station_id"]: (r["stop_id"], *(r[c] for c in values)) for r in rows}

    everything = spark.createDataFrame(a + b, schema)
    assert as_table(latest_per_key(everything, ["station_id"], "stop_id").collect()) == want
    batch_face = station_table_latest(everything).collect()
    assert {r["station_id"]: tuple(r[c] for c in values) for r in batch_face} == {
        k: v[1:] for k, v in want.items()
    }

    for name, batches in {"one": [a + b], "ab": [a, b], "ba": [b, a]}.items():
        src, table = str(tmp_path / name / "src"), str(tmp_path / name / "table")
        _append_files(spark, src, batches, schema)
        emitted = _run_collect(
            latest_per_key_stateful(
                file_stream(spark, src, schema, max_files_per_trigger=1),
                "station_id",
                "stop_id",
                values,
            ),
            str(tmp_path / name / "ck_state"),
        )
        assert as_table(emitted) == want, name  # last emit per key wins

        q = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(compacted_table_upsert(table, ["station_id"], "stop_id"))
            .option("checkpointLocation", str(tmp_path / name / "ck_sink"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        assert as_table(spark.read.parquet(table).collect()) == want, name


def test_stateful_latest_per_key_restart_keeps_winners(spark, tmp_path):
    """T2 + T6 — restarted from its checkpoint, the native table still
    holds the stored winners: lower-sequence stale rows for old keys
    re-emit the stored winner, and new keys land."""
    from udacity_dsnd_projects_spark.streaming.stateful import latest_per_key_stateful

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")

    def run():
        return _run_collect(
            latest_per_key_stateful(
                file_stream(spark, src, LWW_SCHEMA, max_files_per_trigger=1),
                "k",
                "seq",
                ("val",),
            ),
            ckpt,
        )

    _append_files(spark, src, [[(k, 100 + k, f"new_{k}") for k in range(5)]], LWW_SCHEMA)
    first = {r["k"]: (r["seq"], r["val"]) for r in run()}
    assert first == {k: (100 + k, f"new_{k}") for k in range(5)}

    stale_and_new = [(k, k, f"stale_{k}") for k in range(5)] + [(10, 1, "n10"), (11, 2, "n11")]
    spark.createDataFrame(stale_and_new, LWW_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    second = {r["k"]: (r["seq"], r["val"]) for r in run()}
    assert second == {**first, 10: (1, "n10"), 11: (2, "n11")}


def test_stateful_latest_per_key_refuses_pandas_state_checkpoint(spark, tmp_path):
    """A checkpoint written by the earlier applyInPandasWithState form
    of the table is refused loudly on restart — never misread as the
    aggregate's state. The remedy (docstring) is to discard it."""
    import pandas as pd
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from udacity_dsnd_projects_spark.streaming.stateful import latest_per_key_stateful

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")

    def keep_max(key, pdfs, state):
        rows = [(int(r.seq), r.val) for pdf in pdfs for r in pdf.itertuples()]
        if state.exists:
            rows.append(tuple(state.get))
        best = max(rows)
        state.update(best)
        yield pd.DataFrame([[key[0], *best]], columns=["k", "seq", "val"])

    _append_files(spark, src, [[(1, 1, "a")]], LWW_SCHEMA)
    pandas_table = (
        file_stream(spark, src, LWW_SCHEMA, max_files_per_trigger=1)
        .groupBy("k")
        .applyInPandasWithState(
            keep_max,
            outputStructType=LWW_SCHEMA,
            stateStructType="seq long, val string",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    assert len(_run_collect(pandas_table, ckpt)) == 1

    spark.createDataFrame([(2, 1, "b")], LWW_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    native = latest_per_key_stateful(
        file_stream(spark, src, LWW_SCHEMA, max_files_per_trigger=1), "k", "seq", ("val",)
    )
    with pytest.raises(
        StreamingQueryException,
        match="STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA",
    ):
        _run_collect(native, ckpt)


def test_checkpoint_restart_processes_only_new_data(spark, tmp_path_factory):
    """T2 — checkpointed restart: a query restarted with the same
    checkpointLocation resumes from committed offsets, so rows from the
    first run are NOT reprocessed (the reference relies on exactly this
    via /tmp/kafkacheckpoint, sparkpykafkajoin.py:150)."""
    root = tmp_path_factory.mktemp("ckpt")
    src, ckpt = str(root / "src"), str(root / "checkpoint")
    schema = T.StructType([T.StructField("id", T.LongType())])

    seen: list[int] = []

    def collect(batch_df, _epoch):
        seen.extend(r["id"] for r in batch_df.collect())

    def run_once():
        q = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([(i,) for i in range(5)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert sorted(seen) == [0, 1, 2, 3, 4]

    spark.createDataFrame([(i,) for i in (10, 11)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert sorted(seen) == [0, 1, 2, 3, 4, 10, 11]  # first five not replayed


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
_FILE_CONTEXT_MANAGER = f"{_CHECKPOINTING}.FileContextBasedCheckpointFileManager"
_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
SUM_SCHEMA = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])


def _checkpoint_manager(spark, directory):
    """The checkpoint file manager that a streaming query of ``spark``
    would use for ``directory``."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(directory.as_uri()),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _sum_by_key(spark, src: str):
    return (
        file_stream(spark, src, SUM_SCHEMA, max_files_per_trigger=1)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
    )


def _totals(rows) -> dict:
    out: dict = {}
    for k, v in rows:
        n, total = out.get(k, (0, 0))
        out[k] = (n + 1, total + v)
    return out


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Local sessions write checkpoints through Hadoop's FileSystem,
    not the default FileContext manager, which forks shell processes
    for every file without libhadoop. Fails loudly if Spark moves the
    class."""
    assert (
        _checkpoint_manager(spark, tmp_path).getClass().getName()
        == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_manager_refuses_to_overwrite(spark, tmp_path):
    """A non-overwriting atomic create onto an existing file raises
    Hadoop's FileAlreadyExistsException, which HDFSMetadataLog reads as
    a concurrent writer, and keeps the first content."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    manager = _checkpoint_manager(spark, tmp_path)
    target = jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())

    first = manager.createAtomic(target, False)
    first.write(bytearray(b"first"))
    first.close()
    second = manager.createAtomic(target, False)
    second.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    already_exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert already_exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def test_stateful_checkpoint_keeps_crc_sidecars(spark, tmp_path):
    """A stateful query's checkpoint holds Hadoop's ``.crc`` files and
    Spark's ``N.delta.crc`` checksum sidecars beside each state delta."""
    src, ckpt = tmp_path / "src", tmp_path / "ck"
    _append_files(spark, str(src), [[(i % 3, i) for i in range(9)]], SUM_SCHEMA)
    _run_collect(_sum_by_key(spark, str(src)), str(ckpt))

    for log in ("offsets", "commits", "sources/0"):
        assert {p.name for p in (ckpt / log).iterdir()} >= {"0", ".0.crc"}, log
    deltas = list((ckpt / "state" / "0").glob("*/1.delta"))
    assert deltas
    for delta in deltas:
        assert (delta.parent / ".1.delta.crc").is_file(), delta
        assert (delta.parent / "1.delta.crc").is_file(), delta


@pytest.mark.parametrize("first_on_file_context", [True, False])
def test_checkpoint_resumes_across_checkpoint_managers(spark, tmp_path, first_on_file_context):
    """A stateful checkpoint written under Spark's FileContext manager
    resumes under the engine default with exact totals, and the
    reverse: the managers leave the same checkpoint layout."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    rows = [(i % 4, i) for i in range(12)]
    more = [(i % 6, 100 + i) for i in range(12)]

    def run(on_file_context: bool) -> dict:
        engine_default = spark.conf.get(_MANAGER_CONF)
        if on_file_context:
            spark.conf.set(_MANAGER_CONF, _FILE_CONTEXT_MANAGER)
        try:
            manager = _checkpoint_manager(spark, tmp_path).getClass().getName()
            assert (manager == _FILE_CONTEXT_MANAGER) == on_file_context
            emitted = _run_collect(_sum_by_key(spark, src), ckpt)
        finally:
            spark.conf.set(_MANAGER_CONF, engine_default)
        return {r["k"]: (r["n"], r["total"]) for r in emitted}

    _append_files(spark, src, [rows], SUM_SCHEMA)
    assert run(first_on_file_context) == _totals(rows)

    spark.createDataFrame(more, SUM_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    # only the new file is read, and its keys update the restored totals
    assert run(not first_on_file_context) == _totals(rows + more)


def test_envelope_decode_tolerates_corrupt_payloads(spark):
    """Robustness of the decode chain (P2/P5): malformed envelope JSON,
    non-base64 elements, and truncated customer JSON must yield null
    fields — never a task failure — so one poison message can't kill
    the stream (from_json PERMISSIVE + unbase64 null-on-error)."""
    good_cust = json.dumps(
        {"customerName": "G", "email": "g@test.com", "phone": "1", "birthDay": "1990-01-01"}
    )
    good_env = json.dumps(
        {
            "key": _b64("Customer"),
            "existType": "NONE",
            "Ch": False,
            "Incr": False,
            "zSetEntries": [{"element": _b64(good_cust), "score": "0.0"}],
        }
    )
    rows = [
        ("0", good_env),
        ("1", "{not json at all"),
        ("2", json.dumps({"key": "x", "zSetEntries": [{"element": "!!!not-b64!!!", "score": "0"}]})),
        ("3", json.dumps({"key": "x", "zSetEntries": [{"element": _b64("{trunc"), "score": "0"}]})),
        ("4", None),
    ]
    kv = spark.createDataFrame(rows, KV_SCHEMA)
    out = derive_birth_year(parse_redis_envelope(kv))
    got = out.collect()  # must not raise
    assert [(r.email, r.birthYear) for r in got] == [("g@test.com", "1990")]


def test_compacted_table_sink(spark, tmp_path_factory):
    """K5 — the foreachBatch compacted-table sink converges to the
    batch latest-per-key answer, including stale rows replayed in a
    later micro-batch (idempotent last-write-wins merge, T7)."""
    from udacity_dsnd_projects_spark.streaming.sinks import (
        compacted_table_upsert,
        latest_per_key,
    )

    root = tmp_path_factory.mktemp("compact")
    src = str(root / "updates")
    table = str(root / "table")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    b1 = [(k, 100 + k, f"new_{k}") for k in range(5)]
    b2 = [(k, k, f"stale_{k}") for k in range(5)] + [(9, 1, "only_9")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    q = (
        file_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(compacted_table_upsert(table, ["k"], "seq"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["k"]: (r["seq"], r["val"]) for r in spark.read.parquet(table).collect()}
    want_df = latest_per_key(spark.read.schema(schema).parquet(src), ["k"], "seq")
    want = {r["k"]: (r["seq"], r["val"]) for r in want_df.collect()}
    assert got == want
    assert got[9] == (1, "only_9")
    assert got[0] == (100, "new_0")


def test_compacted_table_sink_crash_recovery(spark, tmp_path):
    """T7 — a crash between rename(live -> .bak) and rename(staged ->
    live) leaves .bak as the only copy. The next epoch must restore it
    and merge, NOT treat the missing live path as a first epoch (which
    would drop all prior keys and then delete the backup)."""
    import os

    from udacity_dsnd_projects_spark.streaming.sinks import compacted_table_upsert

    table = str(tmp_path / "table")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    up = compacted_table_upsert(table, ["k"], "seq")
    up(spark.createDataFrame([(k, 1, f"old_{k}") for k in range(5)], schema), 0)

    # simulate the mid-swap crash: live renamed away, backup is the
    # only copy (exactly the state after the first rename of epoch 1)
    os.rename(table, f"{table}.bak")
    up(spark.createDataFrame([(9, 1, "only_9")], schema), 1)

    got = {r["k"]: r["val"] for r in spark.read.parquet(table).collect()}
    assert got == {0: "old_0", 1: "old_1", 2: "old_2", 3: "old_3", 4: "old_4", 9: "only_9"}
    assert not os.path.exists(f"{table}.bak")


def test_compacted_table_upsert_evaluates_each_batch_once(spark, tmp_path):
    """The sink runs the batch plan once per epoch: a counting UDF
    between the native table and the sink sees every row exactly once
    (the emptiness test reuses the cached reduction), and the cache is
    released each epoch, so persistent RDDs do not pile up.

    The UDF sits after the table's shuffle, because a second action on
    the batch reuses the shuffle files and reruns only the stages after
    them. It counts with one marker file per call, not an accumulator:
    a take-style job such as ``isEmpty`` stops its Python workers early
    and their accumulator updates are dropped."""
    from udacity_dsnd_projects_spark.streaming.sinks import compacted_table_upsert
    from udacity_dsnd_projects_spark.streaming.stateful import latest_per_key_stateful

    src, table = str(tmp_path / "src"), str(tmp_path / "table")
    batches = [[(k, 10 * e + k, f"v{e}_{k}") for k in range(5)] for e in range(4)]
    _append_files(spark, src, batches, LWW_SCHEMA)

    sc = spark.sparkContext
    marks = tmp_path / "calls"
    marks.mkdir()

    @F.udf("boolean")
    def counted(v):
        import os
        import tempfile

        os.close(tempfile.mkstemp(dir=str(marks))[0])
        return True

    upsert = compacted_table_upsert(table, ["k"], "seq")
    persistent: list[int] = []

    def sink(batch_df, epoch):
        upsert(batch_df, epoch)
        persistent.append(sc._jsc.getPersistentRDDs().size())

    table_stream = latest_per_key_stateful(
        file_stream(spark, src, LWW_SCHEMA, max_files_per_trigger=1), "k", "seq", ("val",)
    )
    q = (
        table_stream.filter(counted("val"))  # a filter, so no action prunes it
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    assert len(persistent) == len(batches)
    assert len(list(marks.iterdir())) == sum(map(len, batches))  # a row per key per batch
    assert len(set(persistent)) == 1, persistent
    got = {r["k"]: (r["seq"], r["val"]) for r in spark.read.parquet(table).collect()}
    assert got == {k: (30 + k, f"v3_{k}") for k in range(5)}


def test_faust_station_transform_yields_transformed_station(spark):
    """§3.3 — the Faust transform turns a ``STATION`` record into the
    reference's ``TransformedStation`` (``faust_stream.py:25-29``):
    the same field names, in order, with the same types."""
    out = faust_station_transform(spark.createDataFrame([], STATION)).schema
    assert [(f.name, f.dataType) for f in out] == [
        (f.name, f.dataType) for f in TRANSFORMED_STATION
    ]


def test_faust_station_table_stream_equals_batch(spark, tmp_path_factory):
    """§3.3 — Faust transform + last-write-wins table: streamed upserts
    converge to the batch latest-per-key answer."""
    root = tmp_path_factory.mktemp("stations")
    path = str(root / "updates")
    # two updates per station across separate micro-batches: line flips
    rows = []
    for seq in range(2):
        for sid in range(8):
            rows.append(
                (
                    seq * 100 + sid,  # stop_id = monotone sequence
                    "E",
                    f"stop_{sid}",
                    f"station_{sid}",
                    f"Station {sid}",
                    sid,
                    sid,
                    (sid + seq) % 3 == 0,
                    (sid + seq) % 3 == 1,
                    (sid + seq) % 3 == 2,
                )
            )
    df = spark.createDataFrame(rows, STATION)
    df.filter(F.col("stop_id") < 100).coalesce(1).write.mode("append").parquet(path)
    df.filter(F.col("stop_id") >= 100).coalesce(1).write.mode("append").parquet(path)

    state: dict[int, tuple] = {}

    def upsert(batch_df, _epoch):
        # per-batch last-write-wins by the monotone sequence, then upsert
        latest = station_table_latest(
            faust_station_transform(batch_df, keep_cols=("stop_id",))
        )
        for r in latest.collect():
            state[r["station_id"]] = (r["station_name"], r["order"], r["line"])

    run_foreach_batch(file_stream(spark, path, STATION, max_files_per_trigger=1), upsert)

    batch_latest = station_table_latest(
        faust_station_transform(
            spark.read.schema(STATION).parquet(path), keep_cols=("stop_id",)
        )
    )
    want = {
        r["station_id"]: (r["station_name"], r["order"], r["line"])
        for r in batch_latest.collect()
    }
    assert state == want
    assert len(state) == 8
    # the seq=1 write wins for every station
    assert all(line in {"red", "blue", "green", ""} for (_, _, line) in state.values())


def test_kafka_round_trip_gated(spark, tmp_path_factory):
    """S1/K1 end-to-end against a real broker — skips VISIBLY when the
    spark-sql-kafka connector or a localhost broker is absent (the
    sandbox has neither; mirrors the have_avro gate in test_sources).
    Semantics under test match sparkpykafkajoin.py:61-67,145-152:
    earliest-offset subscribe, string-cast projection, kafka sink with
    checkpoint."""
    from udacity_dsnd_projects_spark.streaming.sources import (
        have_kafka,
        kafka_bytes_as_strings,
        kafka_stream,
    )

    if not have_kafka(spark):
        pytest.skip("spark-sql-kafka connector or localhost:9092 broker absent")

    ckpt = str(tmp_path_factory.mktemp("kafka_ckpt"))
    raw = kafka_stream(spark, topic="engine-test-in")
    parsed = kafka_bytes_as_strings(raw)
    q = (
        parsed.select(F.col("key"), F.col("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("topic", "engine-test-out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_cdc_changelog_stream_equals_batch_merge(spark, tmp_path_factory):
    """The K5 compacted-table sink serves MERGE semantics for an
    upsert/delete changelog: streamed in two micro-batches into the
    foreachBatch sink (keyed on ``k``, latest ``seq`` wins, deletes kept
    as tombstones and compacted at read), the served table equals a
    plain-Python fold of the same log in arrival order."""
    from udacity_dsnd_projects_spark.streaming.sinks import compacted_table_upsert

    root = tmp_path_factory.mktemp("cdc_stream")
    src = str(root / "log")
    table = str(root / "table")
    schema = "k long, seq long, op string, v string"
    batches = [
        [
            (1, 1, "upsert", "a1"),  # insert, updated next batch
            (2, 1, "upsert", "b1"),  # insert, deleted next batch
            (3, 1, "upsert", "c1"),
            (3, 2, "delete", None),  # delete, re-inserted next batch
            (4, 1, "upsert", "d1"),
            (4, 2, "upsert", "d2"),  # update inside one batch
            (6, 1, "upsert", "f1"),
        ],
        [
            (1, 2, "upsert", "a2"),  # update
            (2, 2, "delete", None),  # delete
            (3, 3, "upsert", "c3"),  # re-insert after the delete
            (5, 1, "delete", None),  # delete of an absent key
            (6, 0, "upsert", "f0"),  # late and stale: seq 1 stays
            (7, 1, "upsert", "g1"),  # insert
        ],
    ]
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(src)

    q = (
        file_stream(spark, src, frames[0].schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(compacted_table_upsert(table, ["k"], "seq"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [7, 6]

    folded = {}
    for k, seq, op, v in (r for rows in batches for r in rows):
        if k not in folded or seq > folded[k][0]:
            folded[k] = (seq, op, v)
    want = sorted((k, seq, v) for k, (seq, op, v) in folded.items() if op != "delete")
    assert want == [(1, 2, "a2"), (3, 3, "c3"), (4, 2, "d2"), (6, 1, "f1"), (7, 1, "g1")]

    stored = spark.read.parquet(table)
    served = stored.filter(F.col("op") != "delete").select("k", "seq", "v")
    assert sorted(map(tuple, served.collect())) == want
    tombstones = stored.filter(F.col("op") == "delete").select("k").collect()
    assert sorted(r.k for r in tombstones) == [2, 5]


def test_gap_fill_stateful_fills_silent_hours_across_batches(spark, tmp_path_factory):
    """T6 — streaming LOCF: the stateful gap-fill face must (a) emit
    filler rows for hours with no events, carrying the last value,
    (b) merge same-hour events arriving in DIFFERENT micro-batches
    into one (re-emitted) observation, matching the batch face's
    hourly argmax."""
    from datetime import datetime

    from udacity_dsnd_projects_spark.streaming.stateful import gap_fill_stateful

    root = tmp_path_factory.mktemp("gapfill")
    path = str(root / "events")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def t(h, m):
        return datetime(2024, 1, 1, h, m)

    # batch 1: user 1 twice in hour 10; user 2 once in hour 9
    b1 = [(1, t(10, 5), 1, 1.0), (1, t(10, 40), 2, 2.0), (2, t(9, 15), 3, 5.0)]
    # batch 2: user 1 jumps to hour 13 (hours 11, 12 silent);
    # user 2 gets a LATER event in the SAME hour 9 (cross-batch merge)
    b2 = [(1, t(13, 10), 4, 3.0), (2, t(9, 45), 5, 6.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    out = gap_fill_stateful(file_stream(spark, path, schema, max_files_per_trigger=1))
    rows = run_to_memory(out, "gapfill_state", output_mode="update").collect()

    # last emission per (user, hr) is the current row (update mode)
    final: dict[tuple, tuple] = {}
    for r in rows:
        final[(r["user_id"], r["hr"])] = (
            r["value_filled"],
            r["n_events"],
            r["is_observed"],
        )
    assert final == {
        (1, t(10, 0)): (2.0, 2, 1),
        (1, t(11, 0)): (2.0, 0, 0),
        (1, t(12, 0)): (2.0, 0, 0),
        (1, t(13, 0)): (3.0, 1, 1),
        (2, t(9, 0)): (6.0, 2, 1),
    }


def test_window_chunks_stream_equals_batch(spark, tmp_path_factory):
    """The context-window chunker is stateless, so the SAME transform
    (functions/training.py::window_chunks) runs unchanged under a
    file stream in append mode; chunks accumulated across two
    micro-batch files equal the batch answer row-for-row."""
    from udacity_dsnd_projects_spark.functions.training import window_chunks

    root = tmp_path_factory.mktemp("winchunks")
    path = str(root / "docs")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    long_text = " ".join(f"tok{i % 7}" for i in range(150))  # 5 windows
    b1 = [(1, "short doc"), (2, long_text)]
    b2 = [(3, " ".join(["x"] * 48)), (4, " ".join(["y"] * 49))]  # 1 and 2
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    got = run_to_memory(
        window_chunks(file_stream(spark, path, schema, max_files_per_trigger=1)),
        "win_chunks_stream",
    ).collect()
    batch = window_chunks(spark.read.schema(schema).parquet(path)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    # the stride math: 150 toks -> ceil((150-48)/32)+1 = 5 windows
    assert sum(1 for r in got if r.doc_id == 2) == 5
    assert sum(1 for r in got if r.doc_id == 3) == 1
    assert sum(1 for r in got if r.doc_id == 4) == 2


def test_transition_stream_equals_batch(spark, tmp_path_factory):
    """Stateful per-user transition extraction: replaying time-ordered
    micro-batches emits exactly the consecutive (prev -> next) pairs
    the batch lag() computes on the same rows — including the pairs
    that straddle micro-batch boundaries (held in per-user state)."""
    from udacity_dsnd_projects_spark.streaming.stateful import transition_stateful

    root = tmp_path_factory.mktemp("trans")
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

    base = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase"]
    rows = [
        (uid, base + dt.timedelta(minutes=5 * i + uid), 100 * uid + i, types[(i + uid) % 3])
        for uid in range(4)
        for i in range(9)
    ]
    rows.sort(key=lambda r: r[1])  # time-ordered replay across batches
    for b in range(3):
        spark.createDataFrame(rows[b * 12 : (b + 1) * 12], schema).coalesce(
            1
        ).write.mode("append").parquet(path)

    got_rows = run_to_memory(
        transition_stateful(file_stream(spark, path, schema, max_files_per_trigger=1)),
        "transition_stream",
    ).collect()
    got: dict[tuple, int] = {}
    for r in got_rows:
        k = (r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + 1

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        spark.read.schema(schema)
        .parquet(path)
        .select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .count()
    )
    want = {(r["prev_type"], r["next_type"]): r["count"] for r in batch.collect()}
    assert got == want
    # each user contributes exactly n-1 transitions
    assert sum(got.values()) == 4 * 8
