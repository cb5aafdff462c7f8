"""Mirror of the driver's correctness gate at sf0.001 (fast smoke scale).

Every registered query with an oracle must match DuckDB exactly:
row count, columns, and values (order-insensitive). The driver runs the
same comparison at sf0.01; tools/parity.py runs it at any scale.
"""

from __future__ import annotations

import pytest

from fawac_cdc_spark.registry import all_specs
from tools.parity import compare_frames, make_duckdb

_SPECS = all_specs()
_ORACLED = sorted(name for name, s in _SPECS.items() if s.oracle is not None)
_ROWS_ONLY = sorted(name for name, s in _SPECS.items() if s.oracle is None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return make_duckdb(sf_dir)


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = _SPECS[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(spec.oracle).df()
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = _SPECS[name].fn(spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"n_name", "order_month", "revenue", "n_lines"} == set(df.columns)


def test_driver_window_is_valid():
    """The driver's correctness gate evaluates names[:50] of the registry
    emission order, so _PRIORITY must stay exactly 50 unique names that
    all resolve — a typo here silently shrinks the verified window."""
    from fawac_cdc_spark.registry import _PRIORITY

    assert len(_PRIORITY) == 50
    assert len(set(_PRIORITY)) == 50
    unknown = [n for n in _PRIORITY if n not in _SPECS]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"
    assert list(_SPECS)[:50] == _PRIORITY


def test_bench_lists_resolve_and_do_not_overlap():
    """bench.py times the 20 HEADLINE queries: every name must resolve in
    the registry and appear once, so no query is timed twice in the
    total."""
    from bench import HEADLINE

    missing = [n for n in HEADLINE if n not in _SPECS]
    assert not missing, missing
    assert len(HEADLINE) == 20
    assert len(set(HEADLINE)) == len(HEADLINE)


def test_no_hash_risky_oracle_types(sf_dir):
    """Every oracle's declared output types must hash-match a possible
    Spark type: a DuckDB HUGEINT (uncast integer SUM) becomes float64 in
    pandas while Spark BIGINT stays int64, failing the driver's
    representation-sensitive value hash even on identical values — the
    round-2 regression class. DESCRIBE-only, no query execution."""
    from tools.parity import sweep_oracle_types

    flagged = sweep_oracle_types(sf_dir)
    assert not flagged, flagged
