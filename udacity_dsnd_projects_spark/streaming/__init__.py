"""Streaming faces of the reference pipelines (SURVEY.md §2.8, §3, §7
phase 2): the STEDI risk join (:mod:`.stedi`) and the CTA dashboard
(:mod:`.cta`, with the station table in :mod:`.stateful` and its
compacted-table sink in :mod:`.sinks`).

One logical plan, two execution modes: every transform here is written
against a DataFrame and works identically on a batch frame or a
``readStream`` frame — which is how the reference's own Spark scripts
behave and how Structured Streaming is designed. Kafka sources/sinks
are constructed by :mod:`.sources` but gated behind a flag (no broker
in the test environment); tests drive everything through file and
memory streams. Nothing here imports the batch ``functions`` or
``operators`` packages.
"""
