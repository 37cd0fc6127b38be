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
from ocr_spark.operators.dedup import JACCARD_MIN, _minhash_verify_pairs, minhash_bands
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


def test_minhash_verify_cuts_at_jaccard_min(spark):
    """The verify filter keeps a candidate pair exactly when its Jaccard is
    at least ``JACCARD_MIN``.  The fixture's verified pairs all read
    0.889–0.989, so only pairs on either side of the cut pin it: two pairs
    of 99–100 shingles, Jaccard 66/134 (just below) and 66/132 (exactly at
    the cut).  Each pair shares its smallest shingle, which is every affine
    hash's minimum (all values stay below ``P``), so both pairs agree on
    every band and are candidates."""

    def ids(base, *ranges):
        return [base + i for r in ranges for i in r]

    below = (1, ids(1000, range(100)), 2, ids(1000, range(66), range(100, 134)))
    at = (3, ids(2000, range(99)), 4, ids(2000, range(66), range(99, 132)))
    assert 66 / 134 < JACCARD_MIN == 66 / 132
    sha = spark.createDataFrame(
        [(d, sh) for d1, s1, d2, s2 in (below, at) for d, sh in ((d1, s1), (d2, s2))],
        "doc_id BIGINT, sh_arr ARRAY<BIGINT>",
    )
    keys: dict[int, set] = {}
    for r in minhash_bands(spark, None, shingle_arrays=sha).collect():
        keys.setdefault(r.doc_id, set()).add((r.band, r.s0, r.s1))
    assert keys[1] & keys[2] and keys[3] & keys[4]

    got = [tuple(r) for r in _minhash_verify_pairs(spark, sha).collect()]
    assert got == [(3, 4, 0.5)]
