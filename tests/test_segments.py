"""Segment lake layout: round-trip + partition pruning verification."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BaseExpr, Filter
from lakeside_spark.engine import QueryEngine
from lakeside_spark.schema import load_telemetry
from lakeside_spark.sources.segments import read_segments, write_segments


@pytest.fixture(scope="module")
def lake(spark, sf_dir):
    path = tempfile.mkdtemp(prefix="lake_")
    tele = load_telemetry(spark, sf_dir)
    write_segments(tele, path, dataset="logs")
    yield path, tele
    shutil.rmtree(path, ignore_errors=True)


def test_roundtrip_preserves_rows(spark, lake):
    path, tele = lake
    got = read_segments(spark, path, dataset="logs")
    assert got.count() == tele.count()


def test_time_range_filters_rows(spark, lake):
    path, tele = lake
    bounds = tele.select(F.min(S.TIMESTAMP), F.max(S.TIMESTAMP)).first()
    start = bounds[0] + 86_400_000  # skip first day
    end = bounds[1] - 86_400_000
    got = read_segments(spark, path, dataset="logs", start_ts=start, end_ts=end)
    exp = tele.filter((F.col(S.TIMESTAMP) >= start) & (F.col(S.TIMESTAMP) < end))
    assert got.count() == exp.count()


def test_partition_pruning_in_plan(spark, lake):
    path, _ = lake
    df = read_segments(spark, path, dataset="logs", start_ts=1704412800000, end_ts=1704499200000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # partition filters must reference the layout columns, not be empty
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "dateint" in pf and "dataset" in pf


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    import glob

    from lakeside_spark.sources.segments import compact_segments, write_segments
    from lakeside_spark.sources.tables import load_table
    from lakeside_spark.schema import load_telemetry

    lake = str(tmp_path / "lake")
    tele = load_telemetry(spark, sf_dir)
    # simulate many tiny sealed segments: 16 files per partition
    from pyspark.sql import functions as F

    ts = F.timestamp_millis(F.col("timestamp_ms"))
    df = (
        tele.withColumn("dataset", F.lit("logs"))
        .withColumn("dateint", F.date_format(ts, "yyyyMMdd").cast("int"))
        .withColumn("hour", F.date_format(ts, "HH").cast("int"))
        .repartition(16)
    )
    df.write.mode("overwrite").partitionBy("dataset", "dateint", "hour").parquet(lake)
    rows_before = spark.read.parquet(lake).count()
    files_before = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    compact_segments(spark, lake, target_file_bytes=64 * 1024 * 1024)
    rows_after = spark.read.parquet(lake).count()
    files_after = len(glob.glob(f"{lake}/**/*.parquet", recursive=True))
    assert rows_after == rows_before
    assert files_after < files_before, (files_before, files_after)


def test_partitions_timezone_independent(spark, sf_dir, tmp_path):
    """write_segments must derive dateint/hour from UTC integer math, not
    the session timezone — otherwise read-side UTC pruning silently drops
    rows near day/hour boundaries on non-UTC sessions."""
    lake = str(tmp_path / "tzlake")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        tele = load_telemetry(spark, sf_dir)
        write_segments(tele, lake, dataset="logs")
        bounds = tele.select(F.min(S.TIMESTAMP), F.max(S.TIMESTAMP)).first()
        got = read_segments(
            spark, lake, dataset="logs", start_ts=bounds[0], end_ts=bounds[1] + 1
        )
        assert got.count() == tele.count()
        # spot-check: every partition value equals the UTC derivation
        row = got.select(S.TIMESTAMP, "dateint", "hour").first()
        from lakeside_spark.sources.segments import _dateint_hour

        day, hour = _dateint_hour(row[S.TIMESTAMP])
        assert (row["dateint"], row["hour"]) == (day, hour)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_compaction_failure_leaves_source_intact(spark, sf_dir, tmp_path, monkeypatch):
    """A crash mid-compaction (here: during the temp write) must not lose
    lake data — the swap only happens after the temp copy verifies."""
    import lakeside_spark.sources.segments as seg

    lake = str(tmp_path / "crashlake")
    tele = load_telemetry(spark, sf_dir).limit(500)
    write_segments(tele, lake, dataset="logs")
    # one hour with several small files, so compaction has work to do
    _add_small_file(spark, sorted(glob.glob(f"{lake}/dataset=*/dateint=*/hour=*"))[0])
    before = read_segments(spark, lake, dataset="logs").count()

    import os as os_mod

    def exploding_rename(src, dst):
        raise OSError("simulated crash before swap")

    monkeypatch.setattr(os_mod, "rename", exploding_rename)
    with pytest.raises(OSError, match="simulated crash"):
        seg.compact_segments(spark, lake)
    monkeypatch.undo()
    assert read_segments(spark, lake, dataset="logs").count() == before


def _malformed_jsonl(tmp_path):
    """Six good telemetry lines, one malformed line and one line without
    timestamp or name."""
    import json

    src = tmp_path / "in.jsonl"
    rows = [
        {"timestamp_ms": 1_700_000_000_000 + i * 3_600_000, "name": "error",
         "value": float(i), "message": f"m{i}", "host": f"h{i % 2}"}
        for i in range(6)
    ]
    lines = [json.dumps(r) for r in rows]
    lines.insert(3, "{not json at all")          # malformed line drops
    lines.append(json.dumps({"value": 1.0}))      # missing ts+name drops
    src.write_text("\n".join(lines))
    return src


def test_jsonl_ingest_roundtrip(spark, tmp_path):
    from lakeside_spark.sources.ingest import ingest_files, read_jsonl_telemetry

    src = _malformed_jsonl(tmp_path)
    tele = read_jsonl_telemetry(spark, str(src), tag_columns=("host",))
    assert tele.count() == 6
    assert tele.columns == ["timestamp_ms", "name", "value", "message", "host"]

    lake = tmp_path / "lake"
    n = ingest_files(spark, str(src), str(lake), fmt="jsonl", tag_columns=("host",))
    assert n == 6
    from lakeside_spark.sources.segments import read_segments

    back = read_segments(spark, str(lake), dataset="logs")
    assert back.count() == 6
    assert {r["host"] for r in back.select("host").collect()} == {"h0", "h1"}


def test_csv_ingest(spark, tmp_path):
    from lakeside_spark.sources.ingest import read_csv_telemetry

    src = tmp_path / "in.csv"
    src.write_text(
        "timestamp_ms,name,value,message,region\n"
        "1700000000000,error,1.5,boom,us\n"
        "1700000100000,info,2.5,ok,eu\n"
        ",missing,1.0,dropped,us\n"
    )
    tele = read_csv_telemetry(spark, str(src), tag_columns=("region",))
    got = {(r["name"], r["region"]) for r in tele.collect()}
    assert got == {("error", "us"), ("info", "eu")}


def test_ingest_counts_rows_in_its_write_pass(spark, tmp_path, sql_executions):
    """ingest_files counts the rows it writes in the write itself: one SQL
    execution, and the count excludes the malformed and ts/name-less lines."""
    from lakeside_spark.sources.ingest import ingest_files

    src = _malformed_jsonl(tmp_path)
    desc = f"ingest one pass {tmp_path}"
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        n = ingest_files(spark, str(src), str(tmp_path / "lake"), tag_columns=("host",))
    finally:
        sc.setJobDescription(None)
    assert n == 6
    assert sql_executions(desc) == 1
    assert read_segments(spark, str(tmp_path / "lake")).count() == 6


def test_ingest_into_existing_lake_keeps_other_hours(spark, tmp_path):
    """Ingest appends hours to a lake on a stock session (STATIC overwrite
    mode): two hour-disjoint batches both read back, and a batch for an
    hour already in the lake replaces that hour only."""
    import json

    from lakeside_spark.sources.ingest import ingest_files

    hour = 3_600_000
    t0 = 1_700_000_000_000 - 1_700_000_000_000 % hour

    def batch(name, hours, tag):
        src = tmp_path / f"{name}.jsonl"
        src.write_text("\n".join(
            json.dumps({"timestamp_ms": t0 + h * hour + i, "name": "error",
                        "value": 1.0, "message": tag})
            for h in hours for i in range(3)
        ))
        return str(src)

    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"
    lake = str(tmp_path / "lake")
    assert ingest_files(spark, batch("a", (0, 1), "a"), lake) == 6
    assert ingest_files(spark, batch("b", (2, 3), "b"), lake) == 6
    back = read_segments(spark, lake, dataset="logs")
    assert back.count() == 12
    assert ingest_files(spark, batch("c", (1,), "c"), lake) == 3
    got = {
        (r[S.TIMESTAMP] // hour - t0 // hour, r[S.MESSAGE])
        for r in read_segments(spark, lake, dataset="logs").collect()
    }
    assert got == {(0, "a"), (1, "c"), (2, "b"), (3, "b")}


def test_lake_modules_read_no_schema_by_merging():
    """One lake-schema policy: the segment and trigram-index readers take
    their schema from sources.footers, never from Spark's schema merge."""
    import pathlib

    import lakeside_spark.sources.segments as seg
    import lakeside_spark.sources.trigram_index as tri

    for mod in (seg, tri):
        assert "mergeSchema" not in pathlib.Path(mod.__file__).read_text(), mod.__name__


# ---------------------------------------------------------------------------
# schema evolution: hours that lack a column, sidecars and hidden files

HOUR = 3_600_000
EVO_T0 = 1_704_412_800_000  # 2024-01-05T00:00Z


@pytest.fixture
def evolved_lake(spark, tmp_path):
    """Hour 0 carries ``host`` and ``event_id`` (written by Spark), hour 1
    lacks both (written by Spark), hour 2 lacks both (written by pyarrow,
    no Spark footer schema); plus a trigram index sidecar, ``_SUCCESS``
    and ``.crc`` files, and a hidden staging file of another schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeside_spark.sources.trigram_index import build_trigram_index

    lake = str(tmp_path / "evo")
    base = spark.createDataFrame(
        [(EVO_T0 + i, "error", float(i), f"boot {i}", f"h{i % 2}", i) for i in range(4)],
        f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, "
        f"{S.MESSAGE} string, host string, event_id long",
    )
    write_segments(base, lake, dataset="logs")
    later = spark.createDataFrame(
        [(EVO_T0 + HOUR + i, "ok", 10.0 + i, f"later {i}") for i in range(3)],
        f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, {S.MESSAGE} string",
    )
    write_segments(later, lake, dataset="logs")
    hour2 = os.path.join(lake, "dataset=logs", "dateint=20240105", "hour=2")
    os.makedirs(hour2)
    pq.write_table(
        pa.table({
            S.TIMESTAMP: pa.array([EVO_T0 + 2 * HOUR], pa.int64()),
            S.NAME: ["ok"], S.VALUE: [5.0], S.MESSAGE: ["arrow"],
        }),
        os.path.join(hour2, "part-00000.parquet"),
    )
    pq.write_table(pa.table({"junk": [1]}), os.path.join(hour2, ".stage.parquet"))
    pq.write_table(pa.table({"junk": [1]}), os.path.join(hour2, "_tmp.parquet"))
    build_trigram_index(spark, lake, indexed_dims=(S.MESSAGE,))
    open(os.path.join(lake, "_SUCCESS"), "w").close()
    crcs = [f for _, _, fs in os.walk(lake) for f in fs if f.endswith(".crc")]
    assert crcs and os.path.isdir(os.path.join(lake, "_trigram_index"))
    return lake


def _names_types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_read_segments_schema_equals_merge_schema_read(spark, evolved_lake):
    from lakeside_spark.sources.footers import lake_footers

    merged = spark.read.option("mergeSchema", "true").parquet(evolved_lake)
    got = read_segments(spark, evolved_lake, dataset="logs")
    assert sorted(_names_types(got), key=str) == sorted(_names_types(merged), key=str)
    assert got.count() == merged.count() == 8
    meta = lake_footers(spark, evolved_lake)
    assert meta.rows == 8
    # the union covers the whole lake, whatever window is read
    window = read_segments(spark, evolved_lake, "logs", EVO_T0 + HOUR, EVO_T0 + 3 * HOUR)
    assert {"host", "event_id"} <= set(window.columns)


def test_exemplar_over_hour_without_column_returns_it_null(spark, evolved_lake):
    df = read_segments(spark, evolved_lake, "logs", EVO_T0 + HOUR, EVO_T0 + 3 * HOUR)
    expr = BaseExpr(filter=Filter(k=S.NAME, v=("ok",), op=S.EQ), limit=10)
    out = QueryEngine(spark).run(expr, df, EVO_T0 + HOUR, EVO_T0 + 3 * HOUR)
    rows = out.collect()
    assert len(rows) == 4
    assert "host" in out.columns and all(r["host"] is None for r in rows)
    assert all(r["event_id"] is None for r in rows)
    # a filter on a column the window's files lack matches nothing
    flt = BaseExpr(filter=Filter(k="host", v=("h0",), op=S.EQ), limit=10)
    assert QueryEngine(spark).run(flt, df).count() == 0


def test_footer_schema_falls_back_to_spark_for_unmapped_types(spark, tmp_path):
    """A column type outside the footer converter's table (here a
    pyarrow timestamp) takes Spark's own schema inference."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeside_spark.sources.footers import lake_footers

    d = tmp_path / "ts" / "hour=1"
    os.makedirs(d)
    pq.write_table(
        pa.table({"t": pa.array([0], pa.timestamp("us", tz="UTC")), "v": [1.0]}),
        str(d / "a.parquet"),
    )
    meta = lake_footers(spark, str(tmp_path / "ts"))
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "ts"))
    assert [f.name for f in meta.schema.fields][:2] == ["t", "v"]
    assert meta.schema["t"].dataType == merged.schema["t"].dataType
    assert meta.rows == 1


def test_compaction_aborts_when_footer_rows_disagree(spark, evolved_lake, monkeypatch):
    import dataclasses

    import lakeside_spark.sources.footers as footers
    from lakeside_spark.sources.segments import compact_segments

    def files():
        return sorted(glob.glob(f"{evolved_lake}/**/*.parquet", recursive=True))

    _add_small_file(spark, _hour_dir(evolved_lake, 0))
    before_files = files()
    before = sorted(tuple(r) for r in read_segments(spark, evolved_lake).collect())
    real = footers.lake_footers

    def short_tmp(spark_, path):
        meta = real(spark_, path)
        if path.endswith(".compact.tmp"):
            file_rows = dict(meta.file_rows)
            file_rows[next(iter(file_rows))] -= 1
            return dataclasses.replace(meta, file_rows=file_rows)
        return meta

    monkeypatch.setattr(footers, "lake_footers", short_tmp)
    with pytest.raises(RuntimeError, match="row count changed"):
        compact_segments(spark, evolved_lake)
    monkeypatch.undo()
    assert files() == before_files
    assert not os.path.exists(evolved_lake + ".compact.tmp")
    assert sorted(tuple(r) for r in read_segments(spark, evolved_lake).collect()) == before
    # unpatched, the same lake compacts and keeps every row and column
    compact_segments(spark, evolved_lake)
    after = read_segments(spark, evolved_lake)
    assert {"host", "event_id"} <= set(after.columns)
    assert after.count() == len(before)
    assert len(glob.glob(f"{_hour_dir(evolved_lake, 0)}/*.parquet")) == 1
    # the rewrite replaced indexed files, so the stale index is gone
    assert not os.path.exists(os.path.join(evolved_lake, "_trigram_index"))


# ---------------------------------------------------------------------------
# partition-scoped compaction

TELE_DDL = f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, {S.MESSAGE} string"


def _hour_rows(spark, hours, per_hour):
    """``per_hour`` distinct telemetry rows in each of ``hours`` (hours
    after EVO_T0)."""
    return spark.createDataFrame(
        [(EVO_T0 + h * HOUR + i, "error", float(i), f"row {h} {i}")
         for h in hours for i in range(per_hour)],
        TELE_DDL,
    )


def _hour_dir(lake, hour):
    return os.path.join(lake, "dataset=logs", "dateint=20240105", f"hour={hour}")


def _add_small_file(spark, hour_dir, rows=3):
    """Append one small file of copies of the first rows already in
    ``hour_dir``, so that hour holds several files."""
    df = spark.read.parquet(hour_dir)
    spark.createDataFrame(df.limit(rows).collect(), df.schema).write.mode(
        "append"
    ).parquet(hour_dir)


def _file_mtimes(lake):
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(lake)
        for f in fs
    }


def _rows_by_hour(spark, lake):
    return {
        r["hour"]: r["count"]
        for r in read_segments(spark, lake).groupBy("hour").count().collect()
    }


def test_compaction_of_clean_lake_runs_no_job(spark, tmp_path):
    """Every hour already holds its one right-sized file: compaction reads
    footers only, starts no Spark job and touches no file."""
    from lakeside_spark.sources.segments import compact_segments

    lake = str(tmp_path / "clean")
    write_segments(_hour_rows(spark, range(4), 5), lake, dataset="logs")
    before = _file_mtimes(lake)
    sc = spark.sparkContext
    sc.setJobGroup("compact_clean_lake", "compact a lake with nothing to rewrite")
    try:
        compact_segments(spark, lake)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("compact_clean_lake")) == []
    assert _file_mtimes(lake) == before


def test_compaction_rewrites_only_dirty_hours(spark, tmp_path):
    """One hour of 16 small files among clean hours: only that hour's files
    change; rows per hour, the rows themselves and the columns do not."""
    from lakeside_spark.sources.segments import compact_segments

    lake = str(tmp_path / "mixed")
    write_segments(_hour_rows(spark, (1, 2, 3), 5), lake, dataset="logs")
    _hour_rows(spark, (0,), 64).repartition(16).write.parquet(_hour_dir(lake, 0))
    dirty = _hour_dir(lake, 0)
    before = _file_mtimes(lake)
    assert len(glob.glob(f"{dirty}/*.parquet")) == 16
    hours_before = _rows_by_hour(spark, lake)
    rows_before = sorted(tuple(r) for r in read_segments(spark, lake).collect())
    columns_before = read_segments(spark, lake).columns

    compact_segments(spark, lake)

    after = _file_mtimes(lake)
    clean = {p: t for p, t in before.items() if not p.startswith(dirty + os.sep)}
    assert {p: t for p, t in after.items() if not p.startswith(dirty + os.sep)} == clean
    new_dirty = [p for p in after if p.startswith(dirty + os.sep) and p.endswith(".parquet")]
    assert len(new_dirty) == 1 and new_dirty[0] not in before
    assert _rows_by_hour(spark, lake) == hours_before
    assert sorted(tuple(r) for r in read_segments(spark, lake).collect()) == rows_before
    assert read_segments(spark, lake).columns == columns_before
    assert glob.glob(lake + ".compact.*") == []


def test_compaction_splits_file_over_target_size(spark, tmp_path):
    """A single file larger than target_file_bytes is dirty too: it is
    split into files of at most rows_per_file rows."""
    import pyarrow.parquet as pq

    from lakeside_spark.sources.segments import compact_segments

    lake = str(tmp_path / "big")
    write_segments(_hour_rows(spark, (0,), 2000), lake, dataset="logs")
    (src,) = glob.glob(f"{_hour_dir(lake, 0)}/*.parquet")
    rows_before = sorted(tuple(r) for r in read_segments(spark, lake).collect())

    compact_segments(spark, lake, target_file_bytes=os.path.getsize(src) // 4)

    files = glob.glob(f"{_hour_dir(lake, 0)}/*.parquet")
    assert len(files) >= 4 and src not in files
    assert max(pq.read_metadata(f).num_rows for f in files) < 2000 // 3
    assert sorted(tuple(r) for r in read_segments(spark, lake).collect()) == rows_before


@pytest.mark.parametrize("fail_on", [2, 3])
def test_compaction_swap_failure_restores_lake(spark, tmp_path, monkeypatch, fail_on):
    """A rename failing mid-swap — 2nd call: the first hour's compacted copy
    cannot move in; 3rd call: the second hour cannot move out after the
    first was swapped — moves every swapped hour back: every row reads
    back, no ``.compact.*`` directory remains and compaction then succeeds."""
    from lakeside_spark.sources.segments import compact_segments

    lake = str(tmp_path / "swap")
    write_segments(_hour_rows(spark, range(3), 4), lake, dataset="logs")
    for h in (0, 1):
        _add_small_file(spark, _hour_dir(lake, h))
    before = sorted(tuple(r) for r in read_segments(spark, lake).collect())

    real_rename, calls = os.rename, []

    def flaky_rename(src, dst):
        calls.append(src)
        if len(calls) == fail_on:
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    with pytest.raises(OSError, match="simulated rename failure"):
        compact_segments(spark, lake)
    monkeypatch.undo()
    assert sorted(tuple(r) for r in read_segments(spark, lake).collect()) == before
    assert glob.glob(lake + ".compact.*") == []

    compact_segments(spark, lake)
    assert sorted(tuple(r) for r in read_segments(spark, lake).collect()) == before
    assert [len(glob.glob(f"{_hour_dir(lake, h)}/*.parquet")) for h in range(3)] == [1, 1, 1]
