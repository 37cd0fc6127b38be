"""The MinHash-LSH back half (``dedup._minhash_verify_pairs`` and the
``_cap_buckets`` guard it runs through) against its DuckDB oracle.

Both operators that share it, ``dedup_minhash_lsh`` and ``dedup_pipeline``,
must return the rows their ``oracle_sql()`` entry returns on the sf0.001
fixture, compared in ``scripts/check_oracle.canon``'s row form.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from scripts.check_oracle import canon

SF_DIR = entrymod.SF0001


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    """The dedup operators persist their shingle and candidate relations;
    drop them so later tests' plans do not pick up the cached subplans."""
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_pipeline"])
def test_minhash_back_half_matches_oracle(spark, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = con.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) > 0
    assert canon(got) == canon(want)
