"""Driver-mimic: run every catalog query on Spark and its DuckDB oracle
side-by-side at sf0.001 and require identical (row-count, columns,
values). This is a local replica of the CORRECTNESS gate."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from crawl4ai_spark.catalog import ORACLES, PYTEST_ONLY_QUERIES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, ddb):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    want = _normalize(ddb.sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=0, atol=0)


def test_every_query_is_oracle_backed():
    """All driver-catalog entries carry a DuckDB oracle — a rows-only
    entry would silently weaken the CORRECTNESS gate. (This used to be
    an empty parametrize, which pytest reports as a permanent SKIP in
    every full-suite run.)"""
    assert sorted(set(QUERIES) - set(ORACLES)) == []


def test_every_q_function_is_registered():
    """A module-level ``q_*`` function is a catalog query: it must be a
    value of QUERIES or PYTEST_ONLY_QUERIES, or nothing ever runs it.
    Parts that registered queries compose are private (``_q_*``)."""
    import inspect

    from crawl4ai_spark import catalog

    registered = {id(f) for f in (*QUERIES.values(), *PYTEST_ONLY_QUERIES.values())}
    unregistered = sorted(
        name for name, f in vars(catalog).items()
        if name.startswith("q_") and inspect.isfunction(f)
        and id(f) not in registered
    )
    assert unregistered == []


@pytest.mark.parametrize("name", sorted(PYTEST_ONLY_QUERIES))
def test_pytest_only_queries_run(name, spark):
    """xxhash/stemmer production twins of the oracle-checked portable
    variants: still executed every run even though they live outside
    the driver catalog (50-entry CORRECTNESS window)."""
    df = PYTEST_ONLY_QUERIES[name](spark, SF_DIR)
    assert df.count() > 0


def test_driver_catalog_fits_correctness_window():
    """The driver checks only the first 50 catalog entries; every entry
    must be inside that window (r2 verdict item 2)."""
    assert len(QUERIES) <= 50
    assert set(QUERIES) >= set(ORACLES)
