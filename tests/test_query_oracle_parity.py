"""Driver-style parity gate: every queries() entry with oracle SQL must
hash-match its DuckDB oracle — run here at sf0.001 before the driver does
it at sf0.01."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.harness_util import compare_query


def _pairs():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, qs[name], oracles.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize(
    "name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()]
)
def test_query_matches_oracle(spark, sf_dir, name, fn, sql):
    if sql is None:
        df = fn(spark, sf_dir)
        assert df.count() >= 0  # rows-only check (driver's weaker gate)
    else:
        compare_query(spark, sf_dir, fn, sql, name=name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns


def test_every_query_has_oracle_or_is_flagged():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle_sql for unknown queries: {missing}"


def test_registry_import_failure_raises(monkeypatch):
    # a module that fails to import must fail queries(), not silently
    # drop its whole family of heads
    import sys

    monkeypatch.setitem(
        sys.modules, "parallelutilities_jl_spark.operators.sketches", None
    )
    with pytest.raises(ImportError):
        entrymod.queries()
