"""The declaration gate (SURVEY §5.3.1): every declared query must
hash-match its DuckDB oracle. Runs at sf0.001 for speed in the default
suite; tools/check_parity.py runs the same loop at sf0.01 (the driver's
grading scale) and is executed before every declaration change."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_parity import (  # noqa: E402
    canon_result,
    compare,
    oracle_dtype_problems,
    run_oracle,
)

from pipetree_spark.catalog import TABLES, table_path  # noqa: E402
from pipetree_spark.ops.relational import checkpoint_scope  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def oracle_con(sf_small):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_small, t)}')"
        )
    return con


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_small, oracle_con):
    q = REGISTRY[name]
    with checkpoint_scope(spark):
        sdf = q.fn(spark, sf_small)
        srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        assert len(srows) >= 0  # rows-only contract: runs and returns
        return
    ocols, orows = run_oracle(oracle_con, q.oracle)
    sc, sr = canon_result(sdf.columns, srows)
    oc, orr = canon_result(ocols, orows)
    problems = compare(sc, sr, oc, orr, tol=0.0)
    assert not problems, f"{name}: {problems[:3]}"
    # driver-hash dtype view: fetchall() returns width-less Python ints,
    # hiding e.g. DuckDB HUGEINT→float64 coercion (q_fn_condagg failed
    # the driver twice on bit-identical values). Re-fetch via .df() —
    # the driver's pandas canonicalization path — and flag drift.
    ora_df = oracle_con.execute(q.oracle).df()
    dtype_problems = oracle_dtype_problems(sdf.schema.fields, srows, ora_df)
    assert not dtype_problems, f"{name}: {dtype_problems}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_output_schema_is_driver_hashable(name, spark, sf_small):
    """The driver canonicalizes results via a pandas sort + value hash;
    raw boolean columns hash unreliably and array/map/struct columns
    raise TypeError in its sort (both observed in CORRECTNESS_r01). An
    oracle-declared query therefore may only emit scalar non-boolean
    columns: serialize arrays (array_join) and cast booleans to int at
    the query edge. Rows-only queries (oracle=None) are exempt — the
    driver's rows-only check never hashes values."""
    q = REGISTRY[name]
    if q.oracle is None:
        return
    with checkpoint_scope(spark):  # eager checkpoints pin while building
        sdf = q.fn(spark, sf_small)
    bad = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if f.dataType.simpleString() == "boolean"
        or f.dataType.simpleString().startswith(("array", "map", "struct", "binary"))
    ]
    assert not bad, f"{name} emits driver-unhashable columns: {bad}"


def test_driver_contract_shape():
    import __spark_entry__ as se

    qs, osql = se.queries(), se.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 75
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in osql.values())
