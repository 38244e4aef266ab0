"""Oracle differential tests (SURVEY.md §5.2-1): every registered
(queries, oracle_sql) pair must match DuckDB exactly at sf0.001.

`testkit.compare` is the driver's own check (schema, row count,
value hash); the driver replica driver_sim.py runs it at sf0.01.
"""

import pytest

from fcs_etl_reactor_spark.queries import ORACLE, QUERIES
from fcs_etl_reactor_spark.testkit import compare
from tests.conftest import SF_SMALL


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(spark, name):
    res = compare(name, QUERIES[name](spark, SF_SMALL), ORACLE[name], SF_SMALL)
    assert res.ok, str(res) + "".join(
        f"\n  spark={s}\n  oracle={o}" for s, o in res.mismatches
    )


def test_all_queries_have_callables(spark):
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_rows_only_queries_run(spark):
    for name in set(QUERIES) - set(ORACLE):
        df = QUERIES[name](spark, SF_SMALL)
        assert df.count() >= 0, name


def _oracle_pair(spark, rows, ddl, sql):
    return compare("pair", spark.createDataFrame(rows, ddl), sql, SF_SMALL)


def test_compare_rejects_top_level_array_cell(spark):
    """The driver's canonicalizer cannot sort an ARRAY cell, so equal
    arrays with matching types must still fail, as the driver's error."""
    res = _oracle_pair(
        spark, [(1, [1, 2])], "id bigint, xs array<bigint>",
        "SELECT 1::BIGINT AS id, [1, 2]::BIGINT[] AS xs",
    )
    assert not res.ok
    assert "top-level complex cell" in res.detail


def test_compare_ignores_row_and_column_order(spark):
    res = _oracle_pair(
        spark, [(1, "a"), (2, "b"), (3, "c")], "id bigint, s string",
        "SELECT s, id FROM (VALUES (3::BIGINT, 'c'), (1, 'a'), (2, 'b')) t(id, s)",
    )
    assert res.ok, str(res)


def test_compare_names_the_differing_float_line(spark):
    res = _oracle_pair(
        spark, [(1, 0.1), (2, 0.2), (3, 0.3)], "id bigint, x double",
        "SELECT * FROM (VALUES (1::BIGINT, 0.1::DOUBLE), (2, 0.2), "
        "(3, 0.1::DOUBLE + 0.2::DOUBLE)) t(id, x)",
    )
    assert not res.ok
    assert res.mismatches == [("3|0.3", "3|0.30000000000000004")]
