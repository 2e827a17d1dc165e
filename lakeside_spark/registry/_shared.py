"""Shared registry plumbing: DuckDB-side canonical projections, time
constants, fixed-point money helpers, and cross-family utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BaseExpr, ChartOptions
from lakeside_spark.engine import QueryEngine
from lakeside_spark.schema import load_telemetry

DAY = 86_400_000

# DuckDB-side canonical telemetry projection of the events table
_T = (
    "(SELECT epoch_ms(ts) AS timestamp_ms, event_type AS name, value, "
    "props AS message, CAST(user_id AS VARCHAR) AS user_id, event_id "
    "FROM events)"
)


def _rounded(df: DataFrame, col: str = S.VALUE, n: int = 6) -> DataFrame:
    return df.withColumn(col, F.round(F.col(col), n))


# ---------------------------------------------------------------------------
# formula engine


def _series(spark: SparkSession, sf_dir: str, flt, step_ms: int) -> DataFrame:
    expr = BaseExpr(filter=flt, chart=ChartOptions(aggregation="count"))
    df = QueryEngine(spark, step_ms=step_ms).run(expr, load_telemetry(spark, sf_dir))
    # global aggregation across names per step (reference: globalAgg over the
    # per-name datapoint streams) so the formula joins one row per step key
    return df.groupBy(S.STEP_TS).agg(F.sum(S.VALUE).alias(S.VALUE))


_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


_FUNNEL_WINDOW_MS = 7 * DAY
