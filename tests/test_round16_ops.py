"""Round-16 tests (optimization round 2): the ADVICE r15 hardening —
local_frame's row-arity validation and createDataFrame-parity
nullability — plus pins for any operator internals this round's
optimizations restructure."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T


# --------------------------------------------------------------------------
# ADVICE r15 (low) — local_frame input validation + nullability parity
# --------------------------------------------------------------------------


def test_local_frame_rejects_short_and_long_rows(spark):
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    with pytest.raises(ValueError, match="1 values for 2"):
        local_frame(spark, [("a",)], "k string, n long")
    with pytest.raises(ValueError, match="3 values for 2"):
        local_frame(spark, [("a", 1, 2)], "k string, n long")


def test_local_frame_nullability_matches_createdataframe(spark):
    """All-non-null literal columns must come out with the DECLARED
    nullability, exactly like createDataFrame — not nullable=False."""
    from udacity_dsnd_projects_spark.operators.localframe import local_frame

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )
    rows = [("a", 1), ("b", 2)]
    lf = local_frame(spark, rows, schema)
    cf = spark.createDataFrame(rows, schema)
    assert lf.schema == cf.schema
    assert sorted(map(tuple, lf.collect())) == sorted(map(tuple, cf.collect()))
    # the literal path must stay task-free: no Python-RDD scan
    plan = lf._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
