"""Oracle leg for the near-dup / corpus family and the bucket-join similarity
operators: registry queries at the smallest test scale against their DuckDB
oracle SQL, compared the way scripts/check_oracle.py compares them (row
count, column names, order-insensitive value multiset). The corpus family
(MinHash pairs, clusters, prepare, incremental and stream) and the queries
whose candidates come from the shared bucket-pair kernel (ANN LSH and IVF,
SimHash, SimHash + Jaccard verification) plus the brute-force ANN they are
ranked like."""

import pytest

import __spark_entry__ as entry_mod
from scripts.check_oracle import oracle_connection, result_diff

SF_DIR = "/root/testdata/sf0.001"  # TESTDATA.md: the t1 smoke scale

QUERIES = (
    "dedup_minhash",
    "dedup_clusters",
    "corpus_prepare",
    "corpus_incremental_exact",
    "corpus_stream_exact",
    "ann_topk",
    "ann_lsh",
    "ann_ivf",
    "dedup_simhash",
    "dedup_simhash_verified",
)


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_corpus_family_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entry_mod.oracle_sql()[name])
    drows = res.fetchall()
    assert srows, f"{name}: empty result proves nothing"
    assert result_diff(sdf.columns, srows, res.columns, drows) == []
