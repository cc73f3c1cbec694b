"""In-flight data-quality metrics via Spark's ``observe`` API.

A 100 TB pipeline needs per-job row counts, null rates and domain
violations — and it must NOT pay an extra corpus scan for them.
``DataFrame.observe`` attaches aggregate expressions to a plan node;
the metrics are accumulated AS the action runs (the same pass that does
the real work) and surface:

- batch: on the ``pyspark.sql.Observation`` handle after any action;
- streaming: per micro-batch in ``StreamingQueryProgress
  .observedMetrics``, so a quality alarm rides the progress stream a
  monitoring agent already consumes.

This is the engine's answer to side-channel quality counters (Beam
metrics, Flink accumulators): declarative, exactly-once per action, and
free. Only full aggregates are allowed in an observation (no windows,
no distinct) — exactly what the guard metrics below are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from udacity_dsnd_projects_spark.operators.localframe import local_frame


def quality_metrics(
    cols: list[str],
    domain_checks: dict[str, Column] | None = None,
) -> list[Column]:
    """The standard guard-metric expressions: total rows, per-column
    null counts, plus one violation count per named domain check
    (a boolean Column, True = VIOLATION). All plain aggregates, all
    computable in the observe pass."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    metrics += [
        F.count_if(F.col(c).isNull()).alias(f"null_{c}") for c in cols
    ]
    for name, bad in (domain_checks or {}).items():
        metrics.append(F.count_if(bad).alias(f"bad_{name}"))
    return metrics


def observed(
    df: DataFrame,
    cols: list[str],
    domain_checks: dict[str, Column] | None = None,
    name: str = "quality",
) -> tuple[DataFrame, Observation]:
    """BATCH face: attach the guard metrics to ``df`` and return
    (df, observation). After the caller's next action on the returned
    frame, ``observation.get`` holds the metrics — measured during
    that action's own scan, not a second one.

        df, obs = observed(df, ["price"], {"neg_price": F.col("price") < 0})
        df.write.parquet(out)          # the real job
        assert obs.get["bad_neg_price"] == 0
    """
    obs = Observation(name)
    return df.observe(obs, *quality_metrics(cols, domain_checks)), obs


def observed_stream(
    df: DataFrame,
    cols: list[str],
    domain_checks: dict[str, Column] | None = None,
    name: str = "quality",
) -> DataFrame:
    """STREAMING face: same guard metrics, surfaced per micro-batch in
    ``StreamingQueryProgress.observedMetrics[name]`` (an ``Observation``
    handle is batch-only; streams observe by name)."""
    return df.observe(name, *quality_metrics(cols, domain_checks))


def guard_metrics_report(spark, sf_dir: str) -> DataFrame:
    """Registry face of the observe-API guard metrics — driver-visible
    proof that the zero-extra-scan counters measure what a direct
    aggregation measures. Attaches the standard guards (row count,
    per-column null counts, three domain checks) to a full corpus
    scan, runs ONE action that plays the role of the real job (the
    metrics accumulate during that action's own pass — `observe`
    adds no scan of its own), then returns the observed values as a
    one-row frame for the oracle to reproduce with plain SQL
    aggregates.

    The collect here is the observation handle's metadata (one row of
    counters), never data; at 100 TB the pattern is identical — the
    job's own write is the action, and the counters ride it."""
    from udacity_dsnd_projects_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    df, obs = observed(
        docs,
        ["text", "lang", "source"],
        {
            "empty_text": F.length("text") == 0,
            "len_mismatch": F.length("text") != F.col("n_chars"),
            "nonpos_chars": F.col("n_chars") <= 0,
        },
    )
    # the "real job": a full-plan action the metrics ride along with
    df.selectExpr("sum(hash(*)) AS h").collect()
    v = obs.get
    return local_frame(
        spark,
        [
            (
                int(v["n_rows"]),
                int(v["null_text"]),
                int(v["null_lang"]),
                int(v["null_source"]),
                int(v["bad_empty_text"]),
                int(v["bad_len_mismatch"]),
                int(v["bad_nonpos_chars"]),
            )
        ],
        "n_rows long, null_text long, null_lang long, null_source long, "
        "bad_empty_text long, bad_len_mismatch long, bad_nonpos_chars long",
    )


ORACLE_GUARD_METRICS_REPORT = """
SELECT COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN text IS NULL THEN 1 END) AS BIGINT)
         AS null_text,
       CAST(COUNT(CASE WHEN lang IS NULL THEN 1 END) AS BIGINT)
         AS null_lang,
       CAST(COUNT(CASE WHEN source IS NULL THEN 1 END) AS BIGINT)
         AS null_source,
       CAST(COUNT(CASE WHEN length(text) = 0 THEN 1 END) AS BIGINT)
         AS bad_empty_text,
       CAST(COUNT(CASE WHEN length(text) <> n_chars THEN 1 END) AS BIGINT)
         AS bad_len_mismatch,
       CAST(COUNT(CASE WHEN n_chars <= 0 THEN 1 END) AS BIGINT)
         AS bad_nonpos_chars
FROM documents
"""
