"""Source connectors (SURVEY.md §2.1).

Batch: parquet/csv/json with explicit schemas (S3/S4), JDBC (S2).
Streaming: file-stream + rate + Kafka-gated sources (S1/S5/S6) live in
:mod:`udacity_dsnd_projects_spark.streaming`.
"""

from udacity_dsnd_projects_spark.sources.catalog import load_table  # noqa: F401
