"""Named schema registry.

The reference declares every schema explicitly and never infers
(SURVEY.md §1.2): Avro schemas on the producer side
(``kafka-streaming-pipeline/producers/models/schemas/*.json``), inline
PySpark StructTypes on the Spark side
(``spark-streaming-pipeline/sparkpykafkajoin.py:12-52``), Faust Records
(``kafka-streaming-pipeline/consumers/faust_stream.py:11-29``) and SQL DDL
(``kafka-streaming-pipeline/load_stations.sql:1-12``). This module is the
engine's equivalent: one canonical StructType per boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# STEDI pipeline schemas (spark-streaming-pipeline/sparkpykafkajoin.py:15-52)
# ---------------------------------------------------------------------------

#: Redis keyspace-change envelope published to topic ``redis-server``
#: (sparkpykafkajoin.py:15-33). Values inside are base64-encoded.
REDIS_SERVER = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("existType", T.StringType()),
        T.StructField("Ch", T.BooleanType()),
        T.StructField("Incr", T.BooleanType()),
        T.StructField(
            "zSetEntries",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("element", T.StringType()),
                        T.StructField("score", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

#: Customer JSON carried (base64) inside ``zSetEntries[*].element``
#: (sparkpykafkajoin.py:36-43). Dates/numbers stay strings for fidelity.
CUSTOMER_RECORD = T.StructType(
    [
        T.StructField("customerName", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("birthDay", T.StringType()),
    ]
)

#: Risk event on topic ``stedi-events`` (sparkpykafkajoin.py:46-52).
#: ``score`` is declared string even though payloads are numeric.
STEDI_EVENT = T.StructType(
    [
        T.StructField("customer", T.StringType()),
        T.StructField("score", T.StringType()),
        T.StructField("riskDate", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# CTA transit pipeline schemas (kafka-streaming-pipeline)
# ---------------------------------------------------------------------------

#: Turnstile event — one row per rider entry
#: (producers/models/schemas/turnstile_value.json:1-10).
TURNSTILE = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("station_id", T.IntegerType()),
        T.StructField("station_name", T.StringType()),
        T.StructField("line", T.StringType()),
    ]
)

#: Weather event (producers/models/schemas/weather_value.json:1-15);
#: ``status`` is an Avro enum -> StringType + domain check.
WEATHER = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("temperature", T.FloatType()),
        T.StructField("status", T.StringType()),
    ]
)

WEATHER_STATUS_DOMAIN = ("sunny", "partly_cloudy", "cloudy", "windy", "precipitation")

#: ``stations`` dimension (load_stations.sql:1-12, faust_stream.py:11-22).
STATION = T.StructType(
    [
        T.StructField("stop_id", T.IntegerType(), False),
        T.StructField("direction_id", T.StringType()),
        T.StructField("stop_name", T.StringType()),
        T.StructField("station_name", T.StringType()),
        T.StructField("station_descriptive_name", T.StringType()),
        T.StructField("station_id", T.IntegerType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("red", T.BooleanType()),
        T.StructField("blue", T.BooleanType()),
        T.StructField("green", T.BooleanType()),
    ]
)

#: Faust output record (faust_stream.py:25-29): 9 fields projected to 4.
TRANSFORMED_STATION = T.StructType(
    [
        T.StructField("station_id", T.IntegerType()),
        T.StructField("station_name", T.StringType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("line", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver test-corpus schemas (/root/testdata — TESTDATA.md / FIXTURES.md §2)
# ---------------------------------------------------------------------------

#: Schema of the JSON payload in ``events.props``.
EVENT_PROPS = T.StructType([T.StructField("k", T.IntegerType())])

#: All tables in the test corpus.
CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
