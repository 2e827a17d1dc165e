"""The driver's correctness gate, run in tier-1: every registry key executes
once through ``toPandas()``. Oracle-backed keys must match DuckDB's ``.df()``
on column set, row count, pandas dtypes and the driver's canonical hash, and
on values at 9 significant digits (finer than the hash's ``round(6)``).
Rows-only keys must produce at least one column and a computable hash.

Runs at sf0.001; pointing ``SPARK_GRAFT_TEST_SF_DIR`` at another scale's
testdata directory runs the same gate there."""

import hashlib
import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from lakeside_spark.sources.tables import ALL_TABLES

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def driver_hash(pdf: pd.DataFrame) -> str:
    """The driver's canonical form: columns sorted by name, rows sorted over
    all columns, ``round(6)``, md5 of the CSV. Every key's result must get
    through it: ``sort_values`` raises on unhashable cells such as lists,
    so an array-typed output column crashes the driver."""
    cols = sorted(pdf.columns)
    canon = pdf[cols].sort_values(cols).reset_index(drop=True)
    return hashlib.md5(canon.round(6).to_csv(index=False).encode()).hexdigest()


def _norm(v):
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _value_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = (tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False))
    return sorted(rows, key=repr)


def gate_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Everything on which ``got`` fails the gate against ``exp``; empty when
    it passes."""
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns differ: {list(got.columns)} vs {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"row counts differ: {len(got)} vs {len(exp)}"]
    out = []
    dtypes = {
        c: (got[c].dtype, exp[c].dtype) for c in got.columns if got[c].dtype != exp[c].dtype
    }
    if dtypes:
        out.append(f"dtypes differ: {dtypes}")
    if driver_hash(got) != driver_hash(exp):
        out.append("driver hash differs")
    values = [(g, e) for g, e in zip(_value_rows(got), _value_rows(exp)) if g != e]
    if values:
        out.append(f"values differ at 9 significant digits, first: {values[:3]}")
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, ddb):
    got = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        assert len(got.columns) > 0
        driver_hash(got)
        return
    problems = gate_mismatches(got, ddb.sql(ORACLES[name]).df())
    assert not problems, f"{name}: " + "; ".join(problems)


def test_gate_rejects_dtype_and_sub_hash_drift():
    base = pd.DataFrame({"k": [1, 2, 3], "x": [0.5, 1e-8, 2.0]})
    assert gate_mismatches(base[["x", "k"]].iloc[::-1], base) == []
    assert gate_mismatches(base.astype({"k": "int32"}), base.astype({"k": "int64"}))
    assert gate_mismatches(base.assign(x=[0.5, 2e-8, 2.0]), base)


def test_whitening_rounds_ties_like_duckdb(spark):
    """embedding_whitening's values are integers over 1e9, so some end in
    …500; rounded to 6 places they must resolve as DuckDB's ROUND does
    (Spark's own round took -1.045126 and -0.522645 for these two)."""
    from pyspark.sql import functions as F

    from lakeside_spark.registry.embedding import _round6_as_duckdb

    s9 = [-1045125500, -522644500, -400]
    got = [
        r.val
        for r in spark.createDataFrame([(v,) for v in s9], "s9 long")
        .select(_round6_as_duckdb(F.col("s9") / 1e9).alias("val"))
        .collect()
    ]
    want = [
        duckdb.sql(f"SELECT ROUND(CAST({v} AS DOUBLE) / 1e9, 6) + 0.0").fetchone()[0]
        for v in s9
    ]
    assert got == want == [-1.045125, -0.522644, 0.0]
    assert math.copysign(1.0, got[2]) == 1.0
