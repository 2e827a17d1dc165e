"""Stateful streaming operators: state persists across micro-batches, and
ordered replays match the batch operators."""

import shutil
import tempfile
import uuid

import pytest

from lakeside_spark.streaming import stateful
from lakeside_spark.streaming.stateful import streaming_ema


def test_streaming_ema_state_across_batches(spark):
    src = tempfile.mkdtemp(prefix="ema_src_")
    try:
        schema = "name string, step_ts long, value double"
        spark.createDataFrame(
            [("a", 0, 10.0), ("a", 1, 20.0), ("b", 0, 4.0)], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b0")
        spark.createDataFrame([("a", 2, 0.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b1")

        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            streaming_ema(stream, alpha=0.5)
            .writeStream.format("memory")
            .queryName("ema_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["name"], r["step_ts"]): r["ema"]
            for r in spark.sql("SELECT * FROM ema_out").collect()
        }
        # recurrence holds regardless of which micro-batch a row arrived in
        assert got[("a", 0)] == 10.0
        assert got[("a", 1)] == 15.0
        assert got[("a", 2)] == 7.5
        assert got[("b", 0)] == 4.0
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_holt_matches_batch_on_ordered_replay(spark):
    """The streaming Holt state after an ordered replay must equal the
    batch holt_forecast fit over the same series, micro-batch boundaries
    notwithstanding."""
    from lakeside_spark.operators.holt import holt_forecast
    from lakeside_spark.streaming.stateful import streaming_holt

    src = tempfile.mkdtemp(prefix="holt_src_")
    try:
        schema = "name string, step_ts long, value double"
        vals = [3.0, 7.0, 4.0, 9.0, 12.0, 6.0]
        rows = [("m", i, v) for i, v in enumerate(vals)]
        # split mid-series so state must survive a micro-batch boundary
        spark.createDataFrame(rows[:3], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b0")
        spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/b1")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            streaming_holt(stream)
            .writeStream.format("memory")
            .queryName("holt_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        last = max(
            spark.sql("SELECT * FROM holt_out").collect(),
            key=lambda r: r["step_ts"],
        )
        batch = holt_forecast(
            spark.createDataFrame(rows, schema)
        ).collect()[0]
        # batch output snaps to 6 decimals; compare at that precision
        assert round(last["level"], 6) == batch["level"]
        assert round(last["trend"], 6) == batch["trend"]
        assert round(last["forecast_1"], 6) == batch["forecast_1"]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def _replay_two_batches(spark, rows, schema, op):
    """Rows of ``op`` over ``rows`` replayed as two event-time-ordered
    micro-batches (ts <= 200, then the rest; ts is each row's second
    field), read back from the memory sink."""
    src = tempfile.mkdtemp(prefix="replay_src_")
    name = f"replay_{uuid.uuid4().hex[:8]}"
    try:
        spark.createDataFrame([r for r in rows if r[1] <= 200], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/b0")
        spark.createDataFrame([r for r in rows if r[1] > 200], schema).coalesce(
            1
        ).write.mode("append").parquet(f"{src}/b1")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(src, ignore_errors=True)


SPAN_SCHEMA = "user_id long, timestamp_ms long, name string, event_id long"
SPANS = [
    # trace 1: gateway -> auth -> db, with the db span in batch 2
    (1, 100, "gateway", 1), (1, 150, "auth", 2), (1, 400, "db", 3),
    # trace 2: gateway -> cache twice (repeat edge, same batch split)
    (2, 100, "gateway", 4), (2, 120, "cache", 5),
    (2, 300, "gateway", 6), (2, 320, "cache", 7),
    # trace 3: single span — no edge
    (3, 100, "gateway", 8),
    # trace 4: same-ts spans ordered by the tiebreak
    (4, 100, "a", 10), (4, 100, "b", 9),
]
#: trace 5 is present ONLY in batch 1 — its carried state must ride along
#: in a key group whose other traces appear in batch 2
SPANS_BATCH1_ONLY = [(5, 110, "auth", 11), (5, 130, "db", 12)]


@pytest.mark.parametrize(
    "extra, auth_db",
    [([], (1, 250.0)), (SPANS_BATCH1_ONLY, (2, 135.0))],
    ids=["boundary_edge", "batch1_only_trace"],
)
def test_streaming_service_edge_partials_matches_batch_across_batches(
    spark, monkeypatch, extra, auth_db
):
    """Replaying spans watermark-ordered across micro-batches, the
    key-group partials aggregate to exactly the batch service graph
    (operators/behavior.next_event_edges) — including the edge that
    crosses the micro-batch boundary, which state must bridge. Two key
    groups put several traces into one packed state row."""
    from lakeside_spark.operators.behavior import next_event_edges

    monkeypatch.setattr(stateful, "KEY_GROUPS", 2)
    rows = SPANS + extra
    out = _replay_two_batches(
        spark, rows, SPAN_SCHEMA, stateful.streaming_service_edge_partials
    )
    sums: dict = {}
    for r in out:
        n, gap = sums.get((r["src"], r["dst"]), (0, 0))
        sums[(r["src"], r["dst"])] = (n + r["n"], gap + r["gap_sum"])
    got = {edge: (n, gap / n) for edge, (n, gap) in sums.items()}
    batch = {
        (r["src"], r["dst"]): (r["n"], r["avg_gap_ms"])
        for r in next_event_edges(
            spark.createDataFrame(rows, SPAN_SCHEMA)
        ).collect()
    }
    assert got == batch
    # trace 1's auth -> db (150 -> 400) crosses the batch boundary, and the
    # tiebreak orders trace 4 as b -> a
    assert got[("auth", "db")] == auth_db
    assert got[("b", "a")] == (1, 0.0)


FUNNEL_SCHEMA = "user_id long, ts_ms long, name string"
FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_EVENTS = [
    # u1 full funnel; u2 wrong order; u3 step2 outside window;
    # u4 step1 only; u5 same-ts click (must not advance)
    (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
    (2, 100, "click"), (2, 200, "view"),
    (3, 100, "view"), (3, 700, "click"),
    (4, 100, "view"),
    (5, 100, "view"), (5, 100, "click"),
]
FUNNEL_COMPLETIONS = {
    (1, 1): 100, (1, 2): 200, (1, 3): 300,
    (2, 1): 200,
    (3, 1): 100,
    (4, 1): 100,
    (5, 1): 100,
}
#: u6 is present only in batch 1: its state rides along in a key group
#: whose other users appear in batch 2
FUNNEL_BATCH1_ONLY = [(6, 150, "view"), (6, 180, "click")]


@pytest.mark.parametrize(
    "extra, extra_done, counts",
    [
        ([], {}, {1: 5, 2: 1, 3: 1}),
        (FUNNEL_BATCH1_ONLY, {(6, 1): 150, (6, 2): 180}, {1: 6, 2: 2, 3: 1}),
    ],
    ids=["boundary_purchase", "batch1_only_user"],
)
def test_streaming_funnel_bucketed_matches_batch_across_batches(
    spark, monkeypatch, extra, extra_done, counts
):
    """Replaying events watermark-ordered across micro-batches, the
    key-group funnel emits each user's step completions, and its
    per-step counts equal the batch operator's (operators/behavior.funnel).
    Two key groups put several users into one packed state row, so state
    must bridge the batch boundary per user inside a shared group."""
    from lakeside_spark.operators.behavior import funnel

    monkeypatch.setattr(stateful, "KEY_GROUPS", 2)
    rows = FUNNEL_EVENTS + extra
    out = _replay_two_batches(
        spark, rows, FUNNEL_SCHEMA,
        lambda s: stateful.streaming_funnel_bucketed(
            s, FUNNEL_STEPS, window_ms=500
        ),
    )
    got = {(r["user_id"], r["step"]): r["ts"] for r in out}
    # u1 completes all three steps (purchase lands in batch 2 via carried
    # state), u5's same-ts click must not advance (strict <)
    assert got == {**FUNNEL_COMPLETIONS, **extra_done}
    batch = funnel(
        spark.createDataFrame(rows, FUNNEL_SCHEMA), FUNNEL_STEPS, window_ms=500,
        user_col="user_id", ts_col="ts_ms", name_col="name",
    )
    batch_counts = {r["step"]: r["users"] for r in batch.collect()}
    step_counts: dict = {}
    for (_, s) in got:
        step_counts[s] = step_counts.get(s, 0) + 1
    assert step_counts == batch_counts == counts


def test_late_data_fused_bounds_match_direct_bounds(spark):
    """The late-data replay derives its batch cutoffs from raw-ms bounds
    that ride along the hourly groupBy as min/max aggregates (r12: the
    separate bounds job was folded away). Pin the fusion's invariant:
    min/max over the group rows equals the direct global min/max, and
    the derived hour-aligned cutoffs match."""
    from pyspark.sql import functions as F

    from lakeside_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    ev = (
        load_table(spark, sf, "events")
        .select(
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_type").alias("name"),
            "event_id",
        )
        .filter(F.col("name").isNotNull())
    )
    hour = 3_600_000
    direct = ev.agg(
        F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
    ).first()
    rows = (
        ev.groupBy(
            (F.col("ts_ms") - F.col("ts_ms") % hour).alias("ts_ms"),
            "name",
            (F.col("event_id") % 7 == 0).alias("is7"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_ms").alias("raw_lo"),
            F.max("ts_ms").alias("raw_hi"),
        )
        .collect()
    )
    lo = min(r["raw_lo"] for r in rows)
    hi = max(r["raw_hi"] for r in rows)
    assert (lo, hi) == (direct["lo"], direct["hi"])
    # the cutoffs the recording derives from the bounds are identical too
    for frac in (1, 2):
        t_direct = direct["lo"] + frac * (direct["hi"] - direct["lo"]) // 3
        t_fused = lo + frac * (hi - lo) // 3
        assert t_direct - t_direct % hour == t_fused - t_fused % hour
    # and the hourly rows still carry the counts the split consumes
    assert sum(r["n"] for r in rows) == ev.count()
