"""Streaming faces of the reference pipelines (SURVEY.md §2.8, §3, §7
phase 2): the STEDI risk join (:mod:`.stedi`) and the CTA dashboard
(:mod:`.cta`, with the station table in :mod:`.stateful` and its
compacted-table sink in :mod:`.sinks`).

One logical plan, two execution modes: every transform here is written
against a DataFrame and works identically on a batch frame or a
``readStream`` frame — which is how the reference's own Spark scripts
behave and how Structured Streaming is designed. Kafka sources and
sinks are built by :mod:`.sources` and run only where its
``have_kafka`` capability check passes (the connector on the class
path and a broker answering). Without a broker, the tests and
``perfbench`` run both pipelines on ``file_stream``; the tests read
results back through memory sinks. Nothing here imports the batch
``functions`` or ``operators`` packages.
"""
