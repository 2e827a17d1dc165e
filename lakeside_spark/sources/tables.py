"""Parquet table loading.

The reference reads parquet segments from a partitioned lake layout
(``db/{customer}/{collector}/{dateint}/{dataset}/{hour}/{segment}.parquet``,
core Commons.scala:160-177) with DuckDB ``read_parquet(union_by_name=True)``.
Spark equivalents used here:

- plain `spark.read.parquet(path)` — schema merge via
  ``mergeSchema`` when segments disagree (union_by_name parity)
- hive-partitioned reads get partition pruning for free when the path
  embeds ``dateint=/hour=`` directories; time-range predicates on the
  partition columns never touch excluded files (replaces the trigram
  segment index for time pruning)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
)
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

# TIMESTAMP(NANOS) columns arrive as epoch-nano longs
# (spark.sql.legacy.parquet.nanosAsLong) and are restored to timestamps here.
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# plan cache: re-listing files + reading footers costs ~50-100ms per query;
# the logical plan is immutable so reuse is safe (keyed on the session's
# applicationId — stable for the session's lifetime, unlike id(spark) which
# CPython can recycle after a stopped session is garbage-collected)
_PLAN_CACHE: dict[tuple[str, str, str, bool], DataFrame] = {}


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """The testdata parquet historically encoded TIMESTAMP(NANOS), which Spark
    only reads with ``spark.sql.legacy.parquet.nanosAsLong`` on; newer testdata
    is plain ``timestamp[us]`` (no tz), which Spark reads as TIMESTAMP_NTZ.
    Callers (the driver) may hand us a vanilla SparkSession, so set both confs
    at runtime — they are runtime-settable and idempotent. The session timezone
    is pinned to UTC so the NTZ→timestamp cast below is tz-independent (the
    canonical telemetry timestamp is epoch millis; reference stores epoch
    millis directly, core Commons.scala:45-72)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # already set read-only/identical — reads will still work
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    # The NTZ→timestamp cast below is only correct under a UTC session tz;
    # a silently-ignored conf.set would shift every telemetry timestamp by
    # the ambient zone offset with no error. Verify, don't hope.
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone is {tz!r}, not 'UTC' — TIMESTAMP_NTZ "
            "columns would be reinterpreted in the ambient zone. Set the conf "
            "before loading tables (it is runtime-settable on a standard "
            "SparkSession; a session where it cannot be set cannot read this "
            "testdata correctly)."
        )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, merge_schema: bool = False
) -> DataFrame:
    _ensure_nanos_readable(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name, merge_schema)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, T.LongType):
            # legacy nanos-as-long read: epoch-nano bigint → timestamp
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dtype, T.TimestampNTZType):
            # timestamp[us] without tz reads as TIMESTAMP_NTZ; cast to
            # session-tz timestamp (session tz pinned UTC above, so the wall
            # clock is interpreted as UTC — matches DuckDB epoch_ms exactly)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _PLAN_CACHE[key] = df
    return df
