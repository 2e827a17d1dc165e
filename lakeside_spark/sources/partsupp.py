"""Derived partsupp table.

The driver testdata ships a trimmed TPC-H star schema without ``partsupp``,
which blocks TPC-H q2/q9/q11/q16/q20 (reference runs the full suite over its
lake segments; core Commons.scala table registry has no such gap). We derive
a deterministic partsupp from ``part`` x ``supplier`` with dbgen-like
structure — each part gets 4 suppliers spread across the supplier keyspace —
using only integer arithmetic so the DuckDB oracle (PARTSUPP_CTE below) and
the Spark plan produce bit-identical rows.

Scale notes: the derivation is a narrow projection of ``part`` cross-joined
with a literal 4-row sequence and a single-row broadcast count of
``supplier`` — no driver action, no shuffle; downstream joins see an
ordinary (ps_partkey, ps_suppkey)-keyed relation that Catalyst can reorder
and AQE can broadcast when the filtered side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .footers import footer_row_count
from .tables import load_table

__all__ = ["derived_partsupp", "PARTSUPP_CTE"]


def _supplier_count(spark: SparkSession, sf_dir: str) -> int:
    """The supplier row count the derivation needs as a literal, from
    parquet footers (no Spark job). Folding it into the plan as a
    single-row broadcast cross join stacked three blocking stages
    (count → SinglePartition exchange → broadcast) in FRONT of every
    broadcast build that consumes partsupp — ~0.8s of pure stage latency
    on each of q2/q9/q11/q16/q20 at sf0.1."""
    supplier = load_table(spark, sf_dir, "supplier")
    n = footer_row_count(supplier)
    return supplier.count() if n is None else n


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 suppliers per part: ps_suppkey = (p_partkey + i*max(1, S div 4)) % S
    for i in 0..3 (distinct mod S for all testdata S >= 10); availqty and
    supplycost are affine hashes of the key pair, so every engine that runs
    the same integer math materializes the identical table."""
    s = _supplier_count(spark, sf_dir)
    step = max(1, s // 4)
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    suppkey = (F.col("ps_partkey") + F.col("i") * F.lit(step)) % F.lit(s)
    return (
        part.select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            "ps_partkey",
            suppkey.cast("long").alias("ps_suppkey"),
        )
        .withColumn(
            "ps_availqty",
            ((F.col("ps_partkey") * 17 + F.col("ps_suppkey") * 31) % 9999 + 1)
            .cast("long"),
        )
        .withColumn(
            "ps_supplycost",
            ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 100000)
            .cast("double")
            / 100.0
            + 1.0,
        )
    )


# DuckDB CTE computing the identical table (prepend to oracle SQL).
PARTSUPP_CTE = """
WITH s_cnt AS (SELECT COUNT(*) AS s FROM supplier),
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         CAST((p_partkey + i.i * GREATEST(1, s // 4)) % s AS BIGINT) AS ps_suppkey,
         CAST((p_partkey * 17 + ((p_partkey + i.i * GREATEST(1, s // 4)) % s) * 31) % 9999 + 1 AS BIGINT) AS ps_availqty,
         CAST(((p_partkey * 13 + ((p_partkey + i.i * GREATEST(1, s // 4)) % s) * 7) % 100000) AS DOUBLE) / 100.0 + 1.0 AS ps_supplycost
  FROM part, s_cnt, (VALUES (0),(1),(2),(3)) AS i(i)
)
"""
