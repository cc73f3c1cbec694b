"""Every registry query vs its DuckDB oracle — the local replica of the
driver's t2 correctness gate."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.imports import (
    PACKAGE_DIR,
    imported_names,
    module_name,
    name_uses,
    public_definitions,
)
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


def _batch_queries(monkeypatch) -> tuple[str, ...]:
    """``perfbench/batch.py`` ``QUERIES``: the queries the batch
    benchmark times."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "perfbench"))
    from batch import QUERIES

    return QUERIES


def test_batch_benchmark_queries_have_oracles(monkeypatch):
    """Every query ``perfbench --workload batch_analytics`` times is
    registered and checked against a DuckDB oracle."""
    from udacity_dsnd_projects_spark import registry

    QUERIES = _batch_queries(monkeypatch)

    qs, oracles = registry.queries(), registry.oracle_sql()
    assert [n for n in QUERIES if n not in qs] == []
    assert [n for n in QUERIES if n not in oracles] == []


#: modules kept although neither pipeline nor a benchmark query imports
#: them, each with the reason it stays
DECLARED_FACES = {
    "functions.scalar": "SURVEY §2.7: the reference's scalar-function inventory",
    "operators.projections": "SURVEY §2: the projection and filter inventory",
    "sources.formats": "SURVEY §2.1-2.2: CSV, JSON and JDBC loads and the Avro codec",
    "metrics": "ROADMAP item 5: the observe() mechanism of the per-batch record",
}

#: unreached modules whose deletion is still open on ROADMAP item 1(c);
#: 1(c) is split over several changes so that each one removes few
#: tests
PENDING_DELETION = {"operators.skew", "sources.layout"}


def test_every_module_is_reached_by_a_pipeline_query_or_face(monkeypatch):
    """A package module stays only if the two pipelines, the batch
    benchmark's queries or a declared face import it, directly or
    transitively (imports inside functions included). The unreached
    set must be exactly the modules pending deletion, so a new dead
    module fails, and so does a pending one that is deleted or reached
    without the list being updated."""
    from udacity_dsnd_projects_spark import registry

    QUERIES = _batch_queries(monkeypatch)

    pkg = PACKAGE_DIR.name
    files = {module_name(p): p for p in PACKAGE_DIR.rglob("*.py")}
    qs = registry.queries()
    todo = [module_name(p) for p in (PACKAGE_DIR / "streaming").glob("*.py")]
    todo += [f"{pkg}.session", f"{pkg}.schemas"]
    todo += [qs[n].__module__ for n in QUERIES]
    todo += [f"{pkg}.{face}" for face in DECLARED_FACES]
    # the registry imports every query module; walking it would reach all
    reached = {f"{pkg}.registry"}
    while todo:
        mod = todo.pop()
        if mod in reached or mod not in files:
            continue
        reached.add(mod)
        # importing a module runs its packages' __init__ first
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += [n for _, n in imported_names(files[mod])]
    unreached = sorted(
        m.removeprefix(f"{pkg}.")
        for m, p in files.items()
        if m not in reached and p.name != "__init__.py"
    )
    assert unreached == sorted(PENDING_DELETION), "unreached: " + ", ".join(unreached)


#: the files of the two pipelines
PIPELINE_CORE = [
    *sorted((PACKAGE_DIR / "streaming").glob("*.py")),
    PACKAGE_DIR / "schemas.py",
    PACKAGE_DIR / "session.py",
    PACKAGE_DIR / "sources" / "catalog.py",
    PACKAGE_DIR / "operators" / "envelope.py",
    PACKAGE_DIR / "operators" / "risk_join.py",
]

#: modules that still register queries outside the batch benchmark, the
#: pipeline core and the declared faces; ROADMAP item 1(c) deletes those
#: registrations slice by slice
PENDING_REGISTRATIONS = {
    "functions.corpus",
    "functions.dedup",
    "functions.pipeline",
    "functions.similarity",
    "functions.text",
    "functions.training",
    "operators.aggregations",
    "operators.joins",
    "operators.skew",
    "operators.windows",
}


def test_every_registration_is_benchmarked_core_or_declared(monkeypatch):
    """A registered query stays only if the batch benchmark runs it, or
    it lives in a pipeline-core file, a declared face or a module whose
    registrations are pending deletion. The modules holding the other
    registrations must be exactly the pending ones, so a new query in
    any other module fails, and so does a pending module whose last
    such registration goes without the list being updated."""
    from udacity_dsnd_projects_spark import registry

    QUERIES = _batch_queries(monkeypatch)

    pkg = PACKAGE_DIR.name
    kept = {module_name(p) for p in PIPELINE_CORE}
    kept |= {f"{pkg}.{face}" for face in DECLARED_FACES}
    pending = {
        fn.__module__.removeprefix(f"{pkg}.")
        for name, fn in registry.queries().items()
        if name not in QUERIES and fn.__module__ not in kept
    }
    assert sorted(pending) == sorted(PENDING_REGISTRATIONS), "pending: " + ", ".join(sorted(pending))


#: public names kept although nothing reads them, each with the reason
#: it stays
DECLARED_NAMES = {
    "streaming.sources.kafka_sink": "the reference's production sink "
    "(sparkpykafkajoin.py:145-152); it cannot run without a broker",
}


def test_every_package_name_is_used_or_declared():
    """A public top-level name anywhere in the package stays only if it
    is read somewhere outside its own definition (in the package, the
    tests or the benchmark) or is declared with a reason. The unused set
    must be exactly the declared one, so a new dead name fails, and so
    does a declared one that is deleted or put to use."""
    pkg = PACKAGE_DIR.name
    uses = name_uses()
    unused = []
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        for name, node in public_definitions(path).items():
            outside = [
                (p, line)
                for p, line in uses.get(name, [])
                if p != path or not node.lineno <= line <= node.end_lineno
            ]
            if not outside:
                unused.append(f"{module_name(path).removeprefix(pkg + '.')}.{name}")
    assert sorted(unused) == sorted(DECLARED_NAMES), "unused: " + ", ".join(sorted(unused))
