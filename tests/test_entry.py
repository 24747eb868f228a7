"""Driver-contract smoke: entry() + a fast subset of queries vs oracles.

The full gate (all 73 queries at sf0.01) is scripts/check_entry.py; this
keeps `pytest -x -q` fast while still catching contract regressions.
"""

import os
import sys

import duckdb
import numpy as np

# the checkout this file lives in, not whichever one is on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"
FAST = ["pip_polygon", "knn_events", "zonal_grid_stats", "latest_per_key", "token_stats", "incr_exact_dedup", "geocode_docs", "doc_fingerprint", "mm_decode_stats"]


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.floating) or np.issubdtype(
            df[c].dtype, np.integer
        ):
            df[c] = df[c].astype(np.float64).round(9)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def test_entry_smoke(spark):
    df = em.entry(spark)
    assert df.count() > 0
    assert df.schema.simpleString() == "struct<h3_7:bigint,n_rows:bigint,n_s2:bigint>"


def test_queries_have_oracles_or_reason(spark):
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(oracles) <= set(qs)
    # round 3: EVERY query is oracle-checked — the engine-id-defined two
    # (cell_counts_h3, footprint_cover) carry frozen regression-pin
    # parquet oracles (scripts/gen_pins.py) instead of independent SQL
    assert set(qs) - set(oracles) == set()


def test_fast_queries_match_duckdb(spark):
    con = duckdb.connect()
    for t in ["events", "documents", "embeddings", "lineitem", "orders", "customer"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs = em.queries()
    oracles = em.oracle_sql()
    for name in FAST:
        got = _canon(qs[name](spark, SF).toPandas())
        want = _canon(con.execute(oracles[name]).df())
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)}"
        assert got.equals(want), name


def test_minhash_oracle_reproduces_pins():
    """The round-5 independent minhash SQL oracles must reproduce the
    frozen sf0.01 pins exactly (belt-and-braces: an accidental edit to
    the oracle builder fails here without needing the Spark side)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        " read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    got = sorted(
        tuple(r) for r in con.execute(em._minhash_pairs_oracle()).fetchall()
    )
    assert got == sorted((a, b, j) for a, b, j in em._MINHASH_PIN)
    got_i = sorted(
        tuple(r) for r in con.execute(em._incr_minhash_oracle()).fetchall()
    )
    assert got_i == sorted((a, b, j) for a, b, j in em._INCR_MINHASH_PIN)
    got_s = sorted(
        tuple(r) for r in con.execute(em._simhash_pairs_oracle()).fetchall()
    )
    assert got_s == sorted((a, b, h) for a, b, h in em._SIMHASH_PIN)
