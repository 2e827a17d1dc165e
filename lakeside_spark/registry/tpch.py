"""Registry keys: TPC-H-style lake analytics (SURVEY §2 E)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark.sources.partsupp import PARTSUPP_CTE
from lakeside_spark.sources.tables import load_table

# q9 broadcast-gate memo: filtered-part count per (applicationId, sf_dir)
_Q9_PART_COUNT: dict[tuple[str, str], int] = {}


# ---------------------------------------------------------------------------
# TPC-H-style lake analytics


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # money math in exact fixed-point longs (see _revenue_fixed): the
    # decimal(28,x) product-sums this replaces ran per-row BigDecimal
    li = load_table(spark, sf_dir, "lineitem")
    p, d, t, q = (
        _cents("l_extendedprice"),
        _cents("l_discount"),
        _cents("l_tax"),
        _cents("l_quantity"),
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fixed_sum(q, 100).alias("sum_qty"),
            _fixed_sum(p, 100).alias("sum_base_price"),
            _fixed_sum(p * (F.lit(100) - d), 10000).alias("sum_disc_price"),
            _fixed_sum(
                p * (F.lit(100) - d) * (F.lit(100) + t), 1000000
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))
       * CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS DECIMAL(28,8))) AS DOUBLE) AS sum_charge,
  ROUND(AVG(l_quantity), 6) AS avg_qty,
  ROUND(AVG(l_extendedprice), 6) AS avg_price,
  ROUND(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _cents(c: str) -> F.Column:
    """Exact integer cents of a 2-decimal money/ratio column."""
    return F.round(F.col(c) * 100).cast("long")


def _revenue_fixed() -> F.Column:
    """l_extendedprice·(1−l_discount) as an exact integer scaled 1e4.

    Spark Decimals past precision 18 leave the long-backed fast path
    (per-row java BigDecimal), which made the decimal(28,6) revenue
    product the hottest expression in every revenue query (~40% of
    tpch_q1's wall). The same exact arithmetic as LONG multiplies is
    codegen-friendly; sums go through decimal(38,0) (``_fixed_sum``) so
    a 100 TB row count cannot overflow, and the final scale-down
    happens in decimal, so the double the oracle compares against is
    converted from the identical exact value the DECIMAL formulation
    produces (strict-sweep verified)."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


def _fixed_sum(col: F.Column, scale: int) -> F.Column:
    """SUM of an exact integer-scaled product → exact → double.

    Accumulates as TWO long sums (hi = col >> 20, lo = col & 0xFFFFF —
    the split identity holds for negatives under arithmetic shift) and
    recombines in decimal only on the group-count-sized result: exact
    like a decimal(38,0) sum, but the per-row hot loop stays in pure
    long codegen (measured 2.05x faster on 600M rows; Decimal128
    accumulation was the chart-topping cost in the 1000x tpch_q1
    profile). Overflow bounds: lo-sum < 2^20·N; hi-sum < (max|col|/2^20)·N
    — safe past 10^12 rows/group for every TPC-H money product
    (max|col| < 2^42)."""
    hi = F.sum(F.shiftright(col, 20))
    lo = F.sum(col.bitwiseAND(F.lit(1048575)))
    return (
        (hi.cast("decimal(38,0)") * F.lit(1048576) + lo)
        / F.lit(scale).cast("decimal(18,0)")
    ).cast("double")


_REVENUE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS "
    "DECIMAL(18,2)) AS DECIMAL(18,4)) AS DECIMAL(28,6))"
)


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        # date as string: engines disagree on timestamp unit (ns vs us)
        # in their pandas/Arrow output, which trips strict schema compares
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
    )


TPCH_Q3_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-03-15' AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), (F.col("o_custkey") == F.col("c_custkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("revenue"))
    )


TPCH_Q5_SQL = f"""
SELECT n_name, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _fixed_sum(
                _cents("l_extendedprice") * _cents("l_discount"), 10000
            ).alias("revenue")
        )
    )


TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (EXISTS correlated subquery → LEFT SEMI join; the driver
    tables lack l_commitdate/l_receiptdate so the inner predicate is
    l_quantity > 48). Semi-join never duplicates orders rows, so no
    distinct: at scale the build side streams instead of materializing."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    return (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(
            li.filter(F.col("l_quantity") > 48),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 48)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: returned-item revenue per customer, top 20. Fact-side joins
    shuffle on the order key; nation is broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promo revenue share — conditional aggregation over a broadcast
    part join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-02-01").cast("timestamp")
    rev = _revenue_fixed()
    joined = li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)).join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * _fixed_sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)),
                10000,
            )
            / _fixed_sum(rev, 10000),
            6,
        ).alias("promo_revenue")
    )


TPCH_Q14_SQL = f"""
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL}
                                   ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 6) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
"""


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive brand/size/quantity predicates — the OR of
    ANDs becomes the residual condition on a broadcast-hash join, with the
    common l_partkey = p_partkey equi-key still hashable."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("revenue"))
    )


TPCH_Q19_SQL = f"""
SELECT CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE l_partkey = p_partkey AND (
      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
"""


TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: shipping volume between two nations per year. The two nation
    lookups broadcast; the fact-side chain shuffles once per fact join and
    the (n1, n2) disjunction is a residual on the broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY") | (
        F.col("supp_nation") == "GERMANY"
    ) & (F.col("cust_nation") == "FRANCE")
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
            )
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
    OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: national market share — a conditional-sum ratio per year over a
    7-way join; every dimension broadcasts, facts shuffle on their keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey"))
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("volume")
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "STANDARD")), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("o_orderdate").between(
                F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
            )
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _revenue_fixed().alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            # the 1e4 fixed-point scale cancels in the ratio; the decimal
            # division matches the oracle's decimal-division-then-double
            (
                F.sum(
                    F.when(F.col("supp_nation") == "GERMANY", vol)
                    .otherwise(F.lit(0))
                    .cast("decimal(38,0)")
                )
                / F.sum(vol.cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("mkt_share")
        )
        .withColumn("mkt_share", F.round("mkt_share", 6))
        .orderBy("o_year")
    )


TPCH_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n2.n_name = 'GERMANY' THEN {_REVENUE_SQL} ELSE 0 END)
             / SUM({_REVENUE_SQL}) AS DOUBLE), 6) AS mkt_share
FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
  AND p_type = 'STANDARD'
GROUP BY 1 ORDER BY 1
"""


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (priority counts for late shipments; the driver tables
    lack l_shipmode/l_commitdate/l_receiptdate, so 'late' =
    l_shipdate > o_orderdate + 60 days and grouping is by l_linestatus).
    One fact-fact shuffle join; the CASE sums combine map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


TPCH_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: customer order-count distribution via LEFT OUTER join (the
    driver tables lack o_comment; the exclusion filter is
    o_orderpriority <> '1-URGENT', preserving the filtered-outer shape).
    Two aggregations, both partial-agg friendly; the outer join shuffles
    on custkey once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: top supplier(s) by quarterly revenue — the revenue view is one
    partial-agg groupBy; the scalar max comes from a single-row broadcast
    join (no window over the whole aggregate, no second scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    revenue = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_fixed_sum(_revenue_fixed(), 10000).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 6).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(total_revenue, 6) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: small-quantity average yearly revenue — the correlated
    avg-per-part subquery becomes a broadcast of the per-part averages
    (tiny: one row per qualifying part), never a re-scan per row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    li_part = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    avg_qty = li_part.groupBy(F.col("p_partkey").alias("__pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("__avg_fifth")
    )
    return (
        li_part.join(F.broadcast(avg_qty), F.col("p_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__avg_fifth"))
        .agg(
            F.round((F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) / F.lit(7.0)), 6)
            .cast("double")
            .alias("avg_yearly")
        )
    )


TPCH_Q17_SQL = """
SELECT CAST(ROUND(SUM(l_extendedprice) / 7.0, 6) AS DOUBLE) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size < 15
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
                    WHERE l_partkey = p_partkey)
"""


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: large-volume customers — the HAVING subquery is an aggregate
    semi-join feed (qualifying orderkeys broadcast back onto the fact),
    so lineitem is scanned twice but shuffled only on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select(F.col("l_orderkey").alias("__big_ok"))
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("__big_ok"), "leftsemi")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


TPCH_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
"""


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting: EXISTS another
    supplier's line + NOT EXISTS another late line; the driver tables lack
    l_commitdate/l_receiptdate so 'late' = l_shipdate > o_orderdate + 90
    days). EXISTS → leftsemi, NOT EXISTS → leftanti — both shuffle on
    l_orderkey, never nested-loop."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderstatus"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("o_orderstatus") == "F")
    l1 = late.filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)).select(
        "l_orderkey", "l_suppkey", "o_orderdate"
    )
    # EXISTS l2: another supplier on the same order (any line)
    l2 = li.select(F.col("l_orderkey").alias("l2_ok"), F.col("l_suppkey").alias("l2_sk"))
    # NOT EXISTS l3: another supplier ALSO late on the same order
    l3 = (
        li.join(orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        .select(F.col("l_orderkey").alias("l3_ok"), F.col("l_suppkey").alias("l3_sk"))
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("l2_ok")) & (F.col("l_suppkey") != F.col("l2_sk")),
            "leftsemi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("l3_ok")) & (F.col("l_suppkey") != F.col("l3_sk")),
            "leftanti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "FRANCE")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


TPCH_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_orderkey = o3.o_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
  AND s_nationkey = n_nationkey AND n_name = 'FRANCE'
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (promising inactive customers: above-average balance,
    no orders; the driver tables lack c_phone so the 'country code' gate is
    the customer's nation key in a fixed set). Scalar avg broadcasts;
    NOT EXISTS orders → leftanti on custkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nations = (7, 13, 17, 19, 21)
    in_scope = cust.filter(F.col("c_nationkey").isin(*nations))
    avg_bal = in_scope.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        in_scope.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "leftanti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 6).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


TPCH_Q22_SQL = """
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
       ROUND(SUM(c_acctbal), 6) AS totacctbal
FROM customer
WHERE c_nationkey IN (7, 13, 17, 19, 21)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0 AND c_nationkey IN (7, 13, 17, 19, 21))
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey ORDER BY cntrycode
"""


# --- q2/q9/q11/q16/q20 run over the deterministically derived partsupp
# (sources/partsupp.py) — the driver testdata has no partsupp file, so both
# the Spark plan and the DuckDB oracle derive the identical table from
# part x supplier with pure integer arithmetic. This completes the runnable
# 22-query TPC-H suite (reference core runs the full suite over the lake).


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (min-cost supplier per part within a region; driver part
    table lacks p_mfgr so the output carries p_type instead). The per-part
    min is a window over the region-filtered partsupp — one shuffle on
    ps_partkey, no self-join; dims broadcast."""
    from pyspark.sql import Window

    from lakeside_spark.sources.partsupp import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eu = ps.join(F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey")
    return (
        ps_eu.withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "ps_supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (product-type profit by nation and year). partsupp is derived from
    part, so the name-filtered (part ⋈ partsupp) side is narrow; the join to
    lineitem shuffles on (partkey, suppkey) and AQE may broadcast the small
    side. Profit math is exact fixed-point (longs summed in decimal) so
    summation order can't drift."""
    from lakeside_spark.sources.partsupp import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # both terms exact integers scaled 1e4 (cents × cent-ratio)
    profit = _revenue_fixed() - _cents("ps_supplycost") * _cents("l_quantity")
    ps_named = ps.join(
        F.broadcast(part.select("p_partkey")), F.col("ps_partkey") == F.col("p_partkey")
    )
    # explicit-but-GATED hint: Catalyst can't estimate the derived-ps
    # side's size and was measured broadcasting the LINEITEM fact
    # instead (fine at local SFs where the whole fact fits the 10 MB
    # threshold, exactly wrong at scale). The derived side is
    # name-filtered part × 4 suppliers — it grows LINEARLY with the
    # part table, so an unconditional hint would itself be wrong at
    # large SF (forcing a broadcast past the 8 GB / 512M-row limits).
    # Gate on the filtered-part count (cheap pushdown dim scan,
    # memoized per session+sf like the supplier count): hint only while
    # 4×parts stays comfortably broadcastable; past the gate the fact
    # no longer fits 10 MB either, so AQE cannot repeat the measured
    # fact-broadcast mistake.
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _Q9_PART_COUNT:
        _Q9_PART_COUNT[key] = part.count()
    if _Q9_PART_COUNT[key] * 4 <= 5_000_000:
        ps_named = F.broadcast(ps_named)
    return (
        li.join(
            ps_named,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            # one broadcast build instead of two: supplier ⋈ nation is
            # dim × dim (1k × 25) — pre-joining them shaves a blocking
            # broadcast stage off the lineitem probe pipeline
            F.broadcast(
                supp.join(
                    nation, F.col("n_nationkey") == F.col("s_nationkey")
                ).select("s_suppkey", "n_name")
            ),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_fixed_sum(profit, 10000).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (important stock in a nation). Per-part values aggregate once;
    the HAVING threshold reuses the grouped result (sum of exact decimal
    partials), broadcast as a single row. Threshold compare is integer-scaled
    (value*200 > total) so no float boundary can disagree with the oracle."""
    from lakeside_spark.sources.partsupp import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    dec_cost = F.col("ps_supplycost").cast("decimal(18,2)")
    grouped = (
        ps.join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
                ).select("s_suppkey")
            ),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("ps_partkey")
        .agg(F.sum(dec_cost * F.col("ps_availqty")).alias("__value"))
    )
    total = grouped.agg(F.sum("__value").alias("__total"))
    return (
        grouped.join(F.broadcast(total))
        .filter(F.col("__value") * 200 > F.col("__total"))
        .select("ps_partkey", F.col("__value").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (supplier count by brand/type/size; driver supplier table has no
    s_comment, so the complaints exclusion is dropped). Distinct count after
    a broadcast join of the filtered part dim — one shuffle on the group
    keys."""
    from lakeside_spark.sources.partsupp import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#19")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 9, 15, 23, 36, 45, 49, 50)
    )
    return (
        ps.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 (suppliers with excess stock of 'cold' parts in a nation). The
    shipped-quantity side pre-aggregates lineitem per (partkey, suppkey)
    before the join; the stock gate is integer-scaled (2*availqty > sum_qty)
    for exact cross-engine compare. Missing lineitem rows count as zero."""
    from lakeside_spark.sources.partsupp import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("cold%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    shipped = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty"))
    )
    cand = (
        ps.join(
            F.broadcast(part.select("p_partkey")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
            "left",
        )
        .filter(
            F.col("ps_availqty") * 2
            > F.coalesce(F.col("__qty"), F.lit(0).cast("decimal(18,2)"))
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cand), F.col("s_suppkey") == F.col("ps_suppkey"))
        .select("s_name", "s_suppkey")
        .orderBy("s_name")
    )


TPCH_Q2_SQL_BODY = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
FROM partsupp
JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps_supplycost) FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""

TPCH_Q9_SQL_BODY = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
            - CAST(ps_supplycost AS DECIMAL(18,2))
                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""

TPCH_Q11_SQL_BODY = """
SELECT ps_partkey,
       CAST(SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS DOUBLE)
         AS part_value
FROM partsupp
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
GROUP BY ps_partkey
HAVING SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) * 200 >
  (SELECT SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty)
   FROM partsupp
   JOIN supplier ON s_suppkey = ps_suppkey
   JOIN nation ON s_nationkey = n_nationkey
   WHERE n_name = 'NATION_7')
ORDER BY part_value DESC, ps_partkey
"""

TPCH_Q16_SQL_BODY = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#19' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 9, 15, 23, 36, 45, 49, 50)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

TPCH_Q20_SQL_BODY = """
SELECT s_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3' AND s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
    AND ps_availqty * 2 > (
      SELECT COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'))
ORDER BY s_name
"""

TPCH_Q2_SQL = PARTSUPP_CTE + TPCH_Q2_SQL_BODY
TPCH_Q9_SQL = PARTSUPP_CTE + TPCH_Q9_SQL_BODY
TPCH_Q11_SQL = PARTSUPP_CTE + TPCH_Q11_SQL_BODY
TPCH_Q16_SQL = PARTSUPP_CTE + TPCH_Q16_SQL_BODY
TPCH_Q20_SQL = PARTSUPP_CTE + TPCH_Q20_SQL_BODY
