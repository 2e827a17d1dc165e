"""Telemetry ingestion: JSON-lines / CSV files → canonical schema → lake.

The reference ingests telemetry as JSON rows over its consistent-hash ring
and seals them into parquet segments (cluster plumbing SURVEY §3 does not
port); the Spark-native ingest path is a batch (or streaming) read of
newline-delimited JSON or CSV, normalization onto the canonical telemetry
schema, and a partitioned write through sources.segments.write_segments.

Scale notes: the canonical schema is PINNED (never inferred — inference
reads every file twice and races concurrent writers); extra tag columns are
declared by the caller. Rows missing timestamp or name are dropped, not
errored — bad telemetry must not wedge an ingest pipeline. Both readers are
plain `spark.read` so they parallelize per file split and push column
pruning into the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakeside_spark import schema as S


def telemetry_schema(tag_columns: tuple[str, ...] = ()) -> T.StructType:
    """Canonical ingest schema: timestamp_ms, name, value, message + string
    tag columns (reference: core Commons.scala:45-72 canonical fields)."""
    fields = [
        T.StructField(S.TIMESTAMP, T.LongType()),
        T.StructField(S.NAME, T.StringType()),
        T.StructField(S.VALUE, T.DoubleType()),
        T.StructField(S.MESSAGE, T.StringType()),
    ]
    fields += [T.StructField(c, T.StringType()) for c in tag_columns]
    return T.StructType(fields)


def _normalize(raw: DataFrame, tag_columns: tuple[str, ...]) -> DataFrame:
    cols = [S.TIMESTAMP, S.NAME, S.VALUE, S.MESSAGE, *tag_columns]
    return (
        raw.select(*cols)
        .filter(F.col(S.TIMESTAMP).isNotNull() & F.col(S.NAME).isNotNull())
    )


def read_jsonl_telemetry(
    spark: SparkSession, path: str, tag_columns: tuple[str, ...] = ()
) -> DataFrame:
    """Newline-delimited JSON → canonical telemetry frame. Unparseable
    lines drop (DROPMALFORMED), never error the batch."""
    raw = spark.read.schema(telemetry_schema(tag_columns)).option(
        "mode", "DROPMALFORMED"
    ).json(path)
    return _normalize(raw, tag_columns)


def read_csv_telemetry(
    spark: SparkSession, path: str, tag_columns: tuple[str, ...] = ()
) -> DataFrame:
    """Headered CSV → canonical telemetry frame (same pinned schema)."""
    raw = (
        spark.read.schema(telemetry_schema(tag_columns))
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    return _normalize(raw, tag_columns)


def ingest_files(
    spark: SparkSession,
    src_path: str,
    lake_path: str,
    fmt: str = "jsonl",
    dataset: str = S.DATASET_LOGS,
    tag_columns: tuple[str, ...] = (),
) -> int:
    """End-to-end ingest: read → normalize → seal into the partitioned
    segment lake, in one pass over the source. Ingesting into an existing
    lake adds the batch's hours and keeps every other hour; an hour already
    in the lake is replaced by the batch's rows for it (write_segments
    overwrites dynamically, per partition). Returns the number of rows
    written — after malformed lines and rows without timestamp or name
    drop — counted by an observed metric of the write itself, so the
    source is read once."""
    from lakeside_spark.sources.segments import write_segments

    reader = {"jsonl": read_jsonl_telemetry, "csv": read_csv_telemetry}[fmt]
    written = Observation()
    telemetry = reader(spark, src_path, tag_columns).observe(
        written, F.count(F.lit(1)).alias("rows")
    )
    write_segments(telemetry, lake_path, dataset=dataset)
    return written.get["rows"]
