"""Replicates the driver's correctness gate: each __spark_entry__ query
runs on Spark AND its oracle SQL runs on DuckDB over the same parquet
tables; row counts, schemas, and values must match."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")
    return con


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str):
    got = spark_df.toPandas()
    assert sorted(got.columns) == sorted(oracle_pdf.columns), (
        f"{name}: columns {list(got.columns)} vs {list(oracle_pdf.columns)}"
    )
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    exp = oracle_pdf[cols].sort_values(cols).reset_index(drop=True)
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    for c in cols:
        g, e = got[c], exp[c]
        if np.issubdtype(np.asarray(g).dtype, np.floating) or np.issubdtype(
            np.asarray(e).dtype, np.floating
        ):
            assert np.allclose(
                g.astype(float), e.astype(float), atol=1e-9, equal_nan=True
            ), f"{name}.{c}: float mismatch\n{got.head()}\n{exp.head()}"
        else:
            assert (g.astype(str).values == e.astype(str).values).all(), (
                f"{name}.{c}: mismatch\n{got.head()}\n{exp.head()}"
            )


ALL = sorted(E.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, ddb, name):
    q = E.queries()[name]
    sql = E.oracle_sql().get(name)
    assert sql is not None, f"{name} missing oracle"
    got = q(spark, SF_DIR)
    exp = ddb.execute(sql).fetchdf()
    compare(got, exp, name)
    # non-triviality: most queries should return rows (absent-by-design ones excluded)
    if "absent" not in name and "missing" not in name:
        assert len(exp) > 0, f"{name}: oracle returned no rows — weak test"


@pytest.mark.parametrize("on", [True, False], ids=["driver", "spark"])
@pytest.mark.parametrize("name", [n for n in ALL if n.startswith("ft_")])
def test_ft_row_with_tier_forced(spark, ddb, tier, name, on):
    """Every full-text row gives the oracle's answer with the driver-local
    tier forced on for every eligible search/msearch, and forced off."""
    tier(on)
    test_query_matches_oracle(spark, ddb, name)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "score" in df.columns


def test_ngram_oracle_precondition_no_routed_buckets(spark):
    """d_ngram_jaccard's DuckDB oracle computes the EXACT all-pairs
    path; the engine's default routes buckets above NGRAM_MAX_BUCKET_DOCS
    through MinHash-LSH (bounded recall). The two agree only while no
    bucket exceeds the cap — assert that precondition holds at the
    certification scale so the divergence can never be silent."""
    from opensearch_spark.pipelines.dedup import (
        NGRAM_MAX_BUCKET_DOCS, ngram_bucket_accounting,
    )

    acct = ngram_bucket_accounting(spark, SF_DIR, NGRAM_MAX_BUCKET_DOCS)
    routed = [r["source"] for r in acct.collect() if r["routed_to_lsh"]]
    assert routed == [], (
        f"buckets {routed} exceed the skew cap at certification scale — "
        "the d_ngram_jaccard oracle no longer matches the default path; "
        "pin the entry to max_bucket_docs=None or extend the oracle"
    )
