"""Replicates the driver's correctness gate locally: every queries()
entry has an oracle, runs at sf0.001 and must match DuckDB exactly
(row count, column names, order-insensitive values)."""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetch_df()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    return v


def _norm_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


ALL_QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _gated(names) -> list:
    return [
        pytest.param(n, marks=pytest.mark.requires_reference)
        if n in entry_mod.REFERENCE_EXPECTED
        else n
        for n in sorted(names)
    ]


def test_every_oracle_has_a_query():
    # and every query an oracle, so test_query_matches_oracle runs them all
    assert set(ORACLES) == set(ALL_QUERIES)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert "extracted_text" in df.columns


@pytest.mark.parametrize("name", _gated(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR).toPandas()
    ddf = _duck(ORACLES[name])
    assert sorted(sdf.columns) == sorted(ddf.columns), name
    assert len(sdf) == len(ddf), f"{name}: {len(sdf)} vs {len(ddf)} rows"
    srows, drows = _norm_rows(sdf), _norm_rows(ddf)
    mismatches = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
    assert not mismatches, f"{name}: first mismatch {srows[mismatches[0]]} != {drows[mismatches[0]]}"
