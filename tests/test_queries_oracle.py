"""Mirror of the driver's correctness gate at sf0.001: every queries() entry
vs its DuckDB oracle (row count + columns + order-insensitive value hash)."""

import pytest

from tableextraction_spark.queries import REGISTRY
from tableextraction_spark.queries.oracle_check import check_query, duck_connection

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    fn, sql = REGISTRY[name]
    ok, detail = check_query(spark, duck, fn, sql, SF_DIR)
    assert ok, f"{name}: {detail}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"doc_id", "offset", "kind", "media_ref", "text_md5"}
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_mirror_catches_one_ulp_float_divergence(spark):
    """The mirror is as strict as the correctness gate's hash: a double one
    ulp away from the oracle's value is a mismatch, not a rounding-equal
    pass."""
    import math

    import duckdb

    con = duckdb.connect()
    sql = "SELECT 0.3::DOUBLE AS x"
    for got, want_ok in ((0.3, True), (math.nextafter(0.3, 1.0), False)):
        def fn(spark, _sf, got=got):
            return spark.createDataFrame([(got,)], "x double")

        ok, detail = check_query(spark, con, fn, sql, SF_DIR)
        assert ok is want_ok, detail
