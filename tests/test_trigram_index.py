"""Trigram segment index: soundness (never skips a matching segment),
effectiveness (selective predicates actually skip files), and the
regex→required-literal compiler (reference NLPUtils.scala:90-131)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.filters import filter_to_column
from lakeside_spark.ast.model import BinaryClause, Filter, NotClause
from lakeside_spark.schema import load_telemetry
from lakeside_spark.sources.footers import lake_footers
from lakeside_spark.sources.segments import compact_segments, write_segments
from lakeside_spark.sources.trigram_index import (
    build_trigram_index,
    clause_to_trigram_query,
    prune_segments,
    read_segments_indexed,
    required_literals,
)

IDX = dict(indexed_dims=("message",), full_value_dims=("name",))


@pytest.fixture(scope="module")
def indexed_lake(spark, sf_dir):
    path = tempfile.mkdtemp(prefix="triglake_")
    write_segments(load_telemetry(spark, sf_dir), path, dataset="logs")
    build_trigram_index(spark, path, **IDX)
    full = spark.read.option("mergeSchema", "true").parquet(path)
    yield path, full
    shutil.rmtree(path, ignore_errors=True)


CLAUSES = {
    "contains": Filter(k="message", v=('"k": 87',), op=S.CONTAINS),
    "eq_full_value": Filter(k="name", v=("signup",), op=S.EQ),
    "regex": Filter(k="message", v=('"k": 9[0-9]',), op=S.REGEX),
    "and": BinaryClause(
        Filter(k="message", v=('"k": 87',), op=S.CONTAINS),
        Filter(k="name", v=("error",), op=S.EQ),
        "and",
    ),
    "or": BinaryClause(
        Filter(k="message", v=('"k": 87',), op=S.CONTAINS),
        Filter(k="message", v=('"k": 88',), op=S.CONTAINS),
        "or",
    ),
    "in": Filter(k="name", v=("signup", "error"), op=S.IN),
    "not": NotClause(Filter(k="name", v=("error",), op=S.EQ)),
    "has": Filter(k="user_id", op=S.HAS),
    "missing_column": Filter(k="no_such_col", v=("x",), op=S.EQ),
}


@pytest.mark.parametrize("label", sorted(CLAUSES))
def test_pruned_read_matches_full_scan(spark, indexed_lake, label):
    path, full = indexed_lake
    clause = CLAUSES[label]
    got = read_segments_indexed(spark, path, clause, **IDX)
    exp = full.filter(filter_to_column(clause, set(full.columns)))
    assert got.count() == exp.count()


def test_selective_predicates_skip_files(spark, indexed_lake):
    path, _ = indexed_lake
    kept, indexed = prune_segments(spark, path, CLAUSES["contains"], **IDX)
    live = {os.path.abspath(f) for f in lake_footers(spark, path).file_rows}
    total = len(live)
    assert indexed == live
    assert total > 50
    assert len(kept) < total / 4  # a needle literal must skip most files


def test_missing_column_prunes_everything(spark, indexed_lake):
    path, _ = indexed_lake
    kept, _ = prune_segments(spark, path, CLAUSES["missing_column"], **IDX)
    assert kept == set()


def test_not_clause_is_sound_match_all(spark, indexed_lake):
    path, _ = indexed_lake
    total = len(lake_footers(spark, path).file_rows)
    assert prune_segments(spark, path, CLAUSES["not"], **IDX) is None
    files = read_segments_indexed(spark, path, CLAUSES["not"], **IDX).inputFiles()
    assert len(files) == total


def test_indexed_read_plans_in_at_most_one_execution(spark, indexed_lake, sql_executions):
    """Building the pruned frame runs one SQL execution (the index
    aggregation) for a selective clause and none for a match-all one."""
    path, _ = indexed_lake
    sc = spark.sparkContext
    for label, expected in (("contains", 1), ("not", 0)):
        desc = f"indexed read {label} {path}"
        sc.setJobDescription(desc)
        try:
            read_segments_indexed(spark, path, CLAUSES[label], **IDX)
        finally:
            sc.setJobDescription(None)
        assert sql_executions(desc) == expected, label


# ---------------------------------------------------------------------------
# stale and missing indexes: files the index does not know are read

HOUR = 3_600_000
T0 = 1_704_412_800_000  # 2024-01-05T00:00Z
NEEDLE = Filter(k=S.MESSAGE, v=("needle",), op=S.CONTAINS)


def _hours(spark, hours, word, host=None):
    """Three telemetry rows per hour whose messages carry ``word``; with
    ``host``, a tag column the lake did not have."""
    cols = f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, {S.MESSAGE} string"
    rows = [(T0 + h * HOUR + i, "error", float(i), f"{word} {h}.{i}") for h in hours for i in range(3)]
    df = spark.createDataFrame(rows, cols)
    return df if host is None else df.withColumn("host", F.lit(host))


@pytest.fixture
def small_lake(spark, tmp_path):
    """Four indexed hours, the needle in hour 1 only."""
    lake = str(tmp_path / "lake")
    write_segments(_hours(spark, (0, 2, 3), "hay"), lake, dataset="logs")
    write_segments(_hours(spark, (1,), "needle"), lake, dataset="logs")
    build_trigram_index(spark, lake, **IDX)
    return lake


def _assert_matches_full_scan(spark, lake, clause):
    full = spark.read.option("mergeSchema", "true").parquet(lake)
    exp = full.filter(filter_to_column(clause, set(full.columns)))
    got = read_segments_indexed(spark, lake, clause, **IDX)

    def rows(df):
        return sorted((r[S.TIMESTAMP], r[S.MESSAGE]) for r in df.collect())

    assert rows(got) == rows(exp)
    assert rows(exp)


def test_hour_ingested_after_build_is_read(spark, small_lake):
    write_segments(_hours(spark, (5,), "needle"), small_lake, dataset="logs")
    _assert_matches_full_scan(spark, small_lake, NEEDLE)


def test_indexed_hour_replaced_after_build_is_read(spark, small_lake):
    write_segments(_hours(spark, (1,), "needle again"), small_lake, dataset="logs")
    _assert_matches_full_scan(spark, small_lake, NEEDLE)


def test_lake_whose_index_compaction_dropped_reads_every_file(spark, tmp_path):
    lake = str(tmp_path / "lake")
    df = _hours(spark, (0, 1), "hay").unionByName(_hours(spark, (1,), "needle"))
    ts = F.timestamp_millis(F.col(S.TIMESTAMP))
    (
        df.withColumn("dataset", F.lit("logs"))
        .withColumn("dateint", F.date_format(ts, "yyyyMMdd").cast("int"))
        .withColumn("hour", F.date_format(ts, "H").cast("int"))
        .repartition(2)  # two files per hour: compaction rewrites both hours
        .write.partitionBy("dataset", "dateint", "hour")
        .parquet(lake)
    )
    build_trigram_index(spark, lake, **IDX)
    compact_segments(spark, lake)
    assert not os.path.exists(os.path.join(lake, "_trigram_index"))
    _assert_matches_full_scan(spark, lake, NEEDLE)


def test_tag_column_added_after_build_is_read(spark, small_lake):
    write_segments(_hours(spark, (6,), "hay", host="h1"), small_lake, dataset="logs")
    _assert_matches_full_scan(spark, small_lake, Filter(k="host", v=("h1",), op=S.EQ))


def test_contains_value_with_regex_metacharacters_is_read(spark, tmp_path):
    """contains compiles to a regex, so "a.c" matches "xabcx": the index
    must not require the literal trigrams of "a.c"."""
    lake = str(tmp_path / "lake")
    write_segments(_hours(spark, (0,), "xabcx"), lake, dataset="logs")
    write_segments(_hours(spark, (1,), "hay"), lake, dataset="logs")
    build_trigram_index(spark, lake, **IDX)
    _assert_matches_full_scan(spark, lake, Filter(k=S.MESSAGE, v=("a.c",), op=S.CONTAINS))


def test_registry_lake_follows_rewritten_events(spark, sf_dir, tmp_path, monkeypatch):
    """The registry's trigram lake is keyed on the events file's version:
    events rewritten in place get a new lake, not the one sealed before."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakeside_spark.registry import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    events = str(sf / "events.parquet")
    shutil.copyfile(os.path.join(sf_dir, "events.parquet"), events)
    assert [r["name"] for r in QUERIES["trigram_prune"](spark, str(sf)).collect()] == ["error"]
    table = pq.read_table(events)
    pq.write_table(table.filter(pc.not_equal(table["event_type"], "error")), events)
    assert QUERIES["trigram_prune"](spark, str(sf)).collect() == []


def test_required_literals():
    assert required_literals("error.*timeout") == ["error", "timeout"]
    assert required_literals("abc(def)+x") == ["abc", "def"]
    assert required_literals("ab") is None  # too short for a trigram
    assert required_literals(".*") is None
    assert required_literals("[a-z]+") is None
    # optional groups guarantee nothing
    assert required_literals("abc(def)?") == ["abc"]


def test_branch_regex_compiles_to_or():
    tq = clause_to_trigram_query(
        Filter(k="message", v=("(foobar|bazqux)",), op=S.REGEX),
        indexed_dims=("message",),
    )
    assert tq.op == "or"
    assert len(tq.sub) == 2
    # one unconstrained branch must degrade the whole pattern to exists
    tq2 = clause_to_trigram_query(
        Filter(k="message", v=("(foobar|.*)",), op=S.REGEX),
        indexed_dims=("message",),
    )
    assert tq2.fps == frozenset({"message:.*"})
