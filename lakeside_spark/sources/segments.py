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
    """Rewrite the (dataset, dateint, hour) partitions whose files are not
    right-sized. Streaming ingest seals many small segments (the reference
    seals every ~20 min per collector); at lake scale the file-count, not
    the byte-count, dominates scan planning time — compaction batches them
    to ~target_file_bytes.

    Partition-scoped: a partition is rewritten only when its file count
    differs from the ``max(1, ceil(rows / rows_per_file))`` files a rewrite
    would give it (``rows_per_file`` from the lake's average row width), so
    settled hours are never re-merged and a lake with nothing to rewrite
    costs one footer read and no Spark job. Schema, row counts and bytes
    come from parquet footers (``sources.footers.lake_footers``).

    Crash-safe per partition: rewritten partitions are written to a
    sibling temp directory and each is verified by footer row count
    against its source partition; only then is each swapped into place
    with two renames (``lake/p`` → ``<lake>.compact.old/p``, temp →
    ``lake/p``). A failure before the swap leaves the lake untouched; a
    failure during it moves every partition already swapped back before
    re-raising. A rewrite drops the lake's trigram index, whose entries
    name the replaced files (rebuild it after compacting).
    """
    import math
    import os
    import shutil

    from lakeside_spark.sources.footers import lake_footers
    from lakeside_spark.sources.trigram_index import INDEX_DIR

    source = lake_footers(spark, path)
    if source.rows is None:
        raise ValueError(f"compact_segments rewrites a local lake in place, not {path!r}")
    base = path.rstrip("/")
    tmp, old = base + ".compact.tmp", base + ".compact.old"
    if os.path.exists(old):
        raise RuntimeError(
            f"compact_segments: {old} is left from an interrupted swap and may "
            f"hold the only copy of some partitions; move them back into {base}"
        )
    # rows per target file from the overall average row width; skewed
    # hours get ceil(rows/rows_per_file) files, never one giant
    rows_per_file = max(
        1, int(target_file_bytes / max(source.data_bytes / (source.rows or 1), 1))
    )
    dirty = {
        part: rows
        for part, (files, rows) in _partitions(base, source.file_rows).items()
        if files != max(1, math.ceil(rows / rows_per_file))
    }
    if not dirty:
        return
    shutil.rmtree(tmp, ignore_errors=True)
    moved: list[str] = []
    try:
        df = (
            spark.read.schema(source.schema)
            .option("basePath", base)
            .parquet(*(os.path.join(base, part) for part in dirty))
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
        written = {
            part: rows
            for part, (_, rows) in _partitions(tmp, lake_footers(spark, tmp).file_rows).items()
        }
        changed = sorted(
            p for p in dirty.keys() | written.keys() if dirty.get(p) != written.get(p)
        )
        if changed:
            raise RuntimeError(
                f"compact_segments: row count changed during compaction in "
                f"{len(changed)} partition(s), first {changed[0]} "
                f"({dirty.get(changed[0], 0)} -> {written.get(changed[0], 0)}); "
                f"source left untouched"
            )
        shutil.rmtree(os.path.join(base, INDEX_DIR), ignore_errors=True)
        for part in dirty:
            os.makedirs(os.path.dirname(os.path.join(old, part)), exist_ok=True)
            os.rename(os.path.join(base, part), os.path.join(old, part))
            moved.append(part)
            os.rename(os.path.join(tmp, part), os.path.join(base, part))
    except BaseException:
        for part in reversed(moved):
            if os.path.exists(os.path.join(base, part)):
                os.rename(os.path.join(base, part), os.path.join(tmp, part))
            os.rename(os.path.join(old, part), os.path.join(base, part))
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old)
    shutil.rmtree(tmp)


def _partitions(root: str, file_rows: dict[str, int]) -> dict[str, tuple[int, int]]:
    """(file count, row count) per partition directory, keyed by its path
    relative to the lake ``root``."""
    import os

    out: dict[str, tuple[int, int]] = {}
    for f, rows in file_rows.items():
        part = os.path.dirname(os.path.relpath(f, root))
        if not part:
            raise ValueError(f"compact_segments: {f} is not inside a partition directory")
        files, total = out.get(part, (0, 0))
        out[part] = (files + 1, total + rows)
    return out


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
