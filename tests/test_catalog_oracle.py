"""Operators with a single Arrow-batched implementation, checked end to
end against their catalog DuckDB oracles with the same comparison
``tools/check_parity.py`` applies to the whole catalog."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.test_text_analysis import SF
from tools.check_parity import compare, oracle_connection


@pytest.fixture(scope="module")
def oracle_con():
    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "s05_nearest_centroid_confusion",
        "s08_kmeans_fixed",
        "s10_gram_matrix",
        "x07_winnow_fingerprints",
    ],
)
def test_query_matches_duckdb_oracle(spark, oracle_con, name):
    sdf = entry_mod.queries()[name](spark, SF).toPandas()
    ddf = oracle_con.sql(entry_mod.oracle_sql()[name]).df()
    assert len(sdf) > 0
    assert compare(sdf, ddf) == []
