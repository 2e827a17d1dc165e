"""Partitioned segment lake layout.

The reference stores sealed segments at
``db/{customer}/{collector}/{dateint}/{dataset}/{hour}/{segmentId}.parquet``
and prunes segments with a trigram index + time metadata
(core Commons.scala:160-177, NLPUtils.scala). The Spark-native equivalent is
a hive-partitioned layout — ``dataset=X/dateint=D/hour=H`` — where time-range
predicates become partition filters: excluded hours are never listed, read,
or even footer-checked. Tag-value skipping comes from parquet row-group
statistics and (optionally) bloom filters instead of trigrams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark import schema as S


def write_segments(
    telemetry: DataFrame,
    path: str,
    dataset: str = S.DATASET_LOGS,
    bloom_columns: tuple[str, ...] = (),
) -> None:
    """Seal a telemetry frame into the partitioned lake layout.

    Partition columns derive from the timestamp: dateint=YYYYMMDD, hour=HH
    (reference dateint/hour path parity). Writing into an existing lake
    replaces only the (dataset, dateint, hour) partitions the frame has
    rows for: an hour already in the lake is replaced, every other hour
    stays. Writers at scale should aim for ~100-500 MB files per partition
    (repartition by the partition key first).
    """
    # timezone-INDEPENDENT partition derivation: pure integer math on epoch
    # millis plus DateType arithmetic (dates carry no timezone), so written
    # partitions always agree with read_segments' UTC pruning
    # (_dateint_hour) no matter what spark.sql.session.timeZone a
    # caller-supplied session uses
    epoch_day = (F.col(S.TIMESTAMP) / F.lit(86_400_000)).cast("long")
    dateint = F.date_format(
        F.date_add(F.to_date(F.lit("1970-01-01")), epoch_day.cast("int")), "yyyyMMdd"
    ).cast("int")
    hour = ((F.col(S.TIMESTAMP) / F.lit(3_600_000)).cast("long") % 24).cast("int")
    df = (
        telemetry.withColumn("dataset", F.lit(dataset))
        .withColumn("dateint", dateint)
        .withColumn("hour", hour)
        .repartition("dateint", "hour")
        # sort rows inside each file by (ts, name): parquet row-group
        # min/max statistics become tight ranges, so time- and
        # name-predicate scans skip whole row groups at read time —
        # free pruning on every query against the lake
        .sortWithinPartitions(S.TIMESTAMP, S.NAME)
    )
    # dynamic per write, whatever the session sets: under Spark's default
    # STATIC mode an overwrite first deletes the whole lake
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dataset", "dateint", "hour")
    )
    for col in bloom_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    writer.parquet(path)


def compact_segments(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> None:
    """Rewrite each (dataset, dateint, hour) partition with right-sized
    files. Streaming ingest seals many small segments (the reference seals
    every ~20 min per collector); at lake scale the file-count, not the
    byte-count, dominates scan planning time — compaction batches them to
    ~target_file_bytes.

    Crash-safe: the compacted lake is written to a sibling temp directory,
    row-count-verified against the source, and only then swapped into place
    with two renames — a failure at any earlier point leaves the original
    lake untouched (on an object store the same two-phase shape applies
    with the store's atomic-rename/committer primitive). Source schema,
    row count and bytes, and the verification count, come from parquet
    footers (``sources.footers.lake_footers``): the same row counts a Spark
    ``count()`` of a bare scan reads, without its job.
    """
    import os
    import shutil

    from lakeside_spark.sources.footers import lake_footers

    source = lake_footers(spark, path)
    if source.rows is None:
        raise ValueError(f"compact_segments rewrites a local lake in place, not {path!r}")
    base = path.rstrip("/")
    tmp, old = base + ".compact.tmp", base + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        df = spark.read.schema(source.schema).parquet(path)
        total_rows = source.rows or 1
        # estimate rows per target file from overall average row width;
        # skewed hours get ceil(rows/rows_per_file) files, never one giant
        rows_per_file = max(
            1, int(target_file_bytes / max(source.data_bytes / total_rows, 1))
        )
        sort_cols = [c for c in (S.TIMESTAMP, S.NAME) if c in df.columns]
        shaped = df.repartition("dataset", "dateint", "hour")
        if sort_cols:
            shaped = shaped.sortWithinPartitions(*sort_cols)
        (
            shaped.write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy("dataset", "dateint", "hour")
            .parquet(tmp)
        )
        compacted_rows = lake_footers(spark, tmp).rows
        if compacted_rows != source.rows:
            raise RuntimeError(
                f"compact_segments: row count changed during compaction "
                f"({source.rows} -> {compacted_rows}); source left untouched"
            )
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def read_segments(
    spark: SparkSession,
    path: str,
    dataset: str | None = None,
    start_ts: int | None = None,
    end_ts: int | None = None,
) -> DataFrame:
    """Read with partition pruning: the dataset/dateint/hour predicates are
    partition filters (check .explain() → PartitionFilters), so out-of-range
    segments cost nothing. The residual precise timestamp bounds remain as
    pushed row-group filters.

    The schema is the union over the whole lake, read from parquet footers
    on the driver (``sources.footers.lake_footers``) and handed to Spark,
    so planning runs no schema-inference job; a column some hours lack
    reads as null there."""
    from lakeside_spark.sources.footers import lake_footers

    df = spark.read.schema(lake_footers(spark, path).schema).parquet(path)
    if dataset is not None:
        df = df.filter(F.col("dataset") == dataset)
    if start_ts is not None:
        day, hour = _dateint_hour(start_ts)
        df = df.filter(
            (F.col("dateint") > day)
            | ((F.col("dateint") == day) & (F.col("hour") >= hour))
        ).filter(F.col(S.TIMESTAMP) >= start_ts)
    if end_ts is not None:
        day, hour = _dateint_hour(end_ts)
        df = df.filter(
            (F.col("dateint") < day)
            | ((F.col("dateint") == day) & (F.col("hour") <= hour))
        ).filter(F.col(S.TIMESTAMP) < end_ts)
    return df


def _dateint_hour(ts_ms: int) -> tuple[int, int]:
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ts_ms / 1000.0, tz=timezone.utc)
    return int(dt.strftime("%Y%m%d")), dt.hour
