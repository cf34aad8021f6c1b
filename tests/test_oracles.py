"""Oracle parity for the dedup and similarity queries: each runs through
`__spark_entry__.queries()` on the tables tools/check_oracles.py reads
(sf0.01 by default) and must match its DuckDB `oracle_sql()` mirror in
row count, columns and that tool's order-insensitive value hash (the
same gate it applies to every registered query)."""

import importlib.util
import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = [
    "neardup_pairs",
    "minhash_assign",
    "fingerprints",
    "ann_bruteforce",
    "ann_approx",
    "embedding_dedup",
]


def _load(relpath, name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle_env():
    import __spark_entry__ as entry

    co = _load("tools/check_oracles.py", "check_oracles")
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{co.SF_DIR}/{t}.parquet')")
    yield co, con, entry.queries(), entry.oracle_sql()
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, oracle_env, name):
    co, con, queries, oracles = oracle_env
    got = queries[name](spark, co.SF_DIR).toPandas()
    exp = con.execute(oracles[name]).df()
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp)
    assert co.value_hash(got) == co.value_hash(exp)
