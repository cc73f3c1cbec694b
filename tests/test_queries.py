"""Every registry query vs its DuckDB oracle — the local replica of the
driver's t2 correctness gate."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.oracle import assert_matches_oracle


def _registry_items():
    from udacity_dsnd_projects_spark import registry

    qs = registry.queries()
    oracles = registry.oracle_sql()
    return [(name, qs[name], oracles.get(name)) for name in sorted(qs)]


@pytest.mark.slow
@pytest.mark.parametrize(
    "name,fn,oracle", _registry_items(), ids=[n for n, _, _ in _registry_items()]
)
def test_query_matches_oracle(spark, duck, sf_dir, name, fn, oracle):
    df = fn(spark, sf_dir)
    if oracle is None:
        # rows-only check (non-SQL-expressible op)
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_registry_consistency():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_batch_benchmark_queries_have_oracles(monkeypatch):
    """Every query ``perfbench --workload batch_analytics`` times is
    registered and checked against a DuckDB oracle."""
    from udacity_dsnd_projects_spark import registry

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "perfbench"))
    from batch import QUERIES

    qs, oracles = registry.queries(), registry.oracle_sql()
    assert [n for n in QUERIES if n not in qs] == []
    assert [n for n in QUERIES if n not in oracles] == []
