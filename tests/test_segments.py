"""Segment lake layout: round-trip + partition pruning verification."""

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
    before = read_segments(spark, lake, dataset="logs").count()

    import os as os_mod

    def exploding_rename(src, dst):
        raise OSError("simulated crash before swap")

    monkeypatch.setattr(os_mod, "rename", exploding_rename)
    with pytest.raises(OSError, match="simulated crash"):
        seg.compact_segments(spark, lake)
    monkeypatch.undo()
    assert read_segments(spark, lake, dataset="logs").count() == before


def test_jsonl_ingest_roundtrip(spark, tmp_path):
    import json

    from lakeside_spark.sources.ingest import ingest_files, read_jsonl_telemetry

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
    import glob
    import os

    import lakeside_spark.sources.footers as footers
    from lakeside_spark.sources.segments import compact_segments

    def files():
        return sorted(glob.glob(f"{evolved_lake}/**/*.parquet", recursive=True))

    before_files = files()
    before = sorted(tuple(r) for r in read_segments(spark, evolved_lake).collect())
    real = footers.lake_footers

    def short_tmp(spark_, path):
        meta = real(spark_, path)
        if path.endswith(".compact.tmp"):
            return footers.LakeFooters(meta.schema, meta.rows - 1, meta.data_bytes)
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
