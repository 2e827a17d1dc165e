"""Structured-streaming ingest test: file-source stream → watermark +
windowed chart agg → memory sink, compared against the batch engine."""

import shutil
import tempfile

from pyspark.sql import functions as F

from lakeside_spark.sources.tables import load_table
from lakeside_spark.streaming.pipeline import streaming_step_counts


def test_streaming_counts_match_batch(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    try:
        # stage events as two file "WAL segments" arriving over time
        events.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
            f"{src_dir}/batch=0"
        )
        events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(
            f"{src_dir}/batch=1"
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        agg = streaming_step_counts(stream, step="1 hour", watermark="0 seconds")
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_counts")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["step_ts"], r["name"]): (r["value"], round(r["sum_value"], 6))
            for r in spark.sql("SELECT * FROM stream_counts").collect()
        }
        exp_rows = (
            events.groupBy(
                F.unix_millis(F.date_trunc("hour", "ts")).alias("step_ts"),
                F.col("event_type").alias("name"),
            )
            .agg(F.count(F.lit(1)).cast("double").alias("value"), F.sum("value").alias("sum_value"))
            .collect()
        )
        exp = {(r["step_ts"], r["name"]): (r["value"], round(r["sum_value"], 6)) for r in exp_rows}
        assert got == exp
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_watermark_drops_late_data(spark):
    """Append-mode watermark semantics == the reference's bounded buffer
    (TimeGroupedSketchAggregator: datapoints older than the buffer window
    are dropped, not retro-merged)."""
    import datetime as dt

    def ev(eid, hh, mm):
        return (eid, dt.datetime(2024, 1, 1, hh, mm), f"u{eid}", "click", 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id string, event_type string, value double, props string"
    src_dir = tempfile.mkdtemp(prefix="stream_late_")
    try:
        # batch 0: three events in hour 00, one at hour 12 (advances the
        # watermark to 11:00 once processed)
        b0 = spark.createDataFrame([ev(1, 0, 5), ev(2, 0, 20), ev(3, 0, 40), ev(4, 12, 0)], schema)
        b0.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b0")

        stream = (
            spark.readStream.schema(b0.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        agg = streaming_step_counts(stream, step="1 hour", watermark="1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("late_counts")
            .outputMode("append")
            .start()
        )
        try:
            # micro-batch 1: b0 only -> watermark advances to 11:00
            q.processAllAvailable()
            # micro-batch 2: a LATE event for hour 00 (behind the watermark
            # -> dropped) and a fresh one at hour 13
            b1 = spark.createDataFrame([ev(5, 0, 50), ev(6, 13, 0)], schema)
            b1.coalesce(1).write.mode("append").parquet(f"{src_dir}/b1")
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["step_ts"]: r["value"]
            for r in spark.sql("SELECT * FROM late_counts").collect()
        }
        h0 = 1704067200000  # 2024-01-01T00:00Z
        # the hour-00 window emitted WITHOUT the late event #5
        assert got.get(h0) == 3.0, got
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_sessions_match_batch(spark, sf_dir):
    """session_window streaming sessions == batch sessionize on the same
    data (session_window's end = last event + gap; compare on start/count)."""
    from lakeside_spark.operators.sessions import session_stats
    from lakeside_spark.sources.tables import load_table
    from lakeside_spark.streaming.pipeline import streaming_sessions

    events = load_table(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="stream_sess_")
    try:
        events.write.mode("overwrite").parquet(f"{src_dir}/b0")
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        agg = streaming_sessions(stream, gap="30 minutes", watermark="0 seconds")
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_sessions")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM stream_sessions").collect()
        }
        batch = session_stats(
            events.select("user_id", F.unix_millis("ts").alias("ts_ms")),
            key="user_id", ts_col="ts_ms", gap_ms=30 * 60 * 1000,
        ).collect()
        exp = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch}
        assert got == exp
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_ddsketch_merges_with_sealed(spark, sf_dir):
    """Unsealed-segment parity: sketches computed on the stream must union
    with batch (sealed) sketches and merge losslessly — the reference's
    sealed+unsealed query merge, with no special-case code path."""
    from lakeside_spark import schema as S
    from lakeside_spark.operators.ddsketch import ddsketch_buckets, ddsketch_merge
    from lakeside_spark.schema import load_telemetry
    from lakeside_spark.streaming.pipeline import streaming_ddsketch_buckets

    events = load_table(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="stream_dd_")
    try:
        # "unsealed": odd events arrive on the stream; "sealed": even batch
        events.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
            f"{src_dir}/b0"
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        agg = streaming_ddsketch_buckets(stream, step="1 hour", watermark="0 seconds")
        q = (
            agg.writeStream.format("memory")
            .queryName("dd_unsealed")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        unsealed = spark.sql("SELECT * FROM dd_unsealed")
        sealed = ddsketch_buckets(
            load_telemetry(spark, sf_dir).filter(F.col("event_id") % 2 == 0),
            step_ms=3_600_000,
        )
        DAY = 86_400_000
        merged = ddsketch_merge(unsealed.unionByName(sealed), step_ms=DAY)
        direct = ddsketch_buckets(load_telemetry(spark, sf_dir), step_ms=DAY)
        key = lambda r: (r[S.STEP_TS], r[S.NAME], r["bucket"], r["cnt"])  # noqa: E731
        assert sorted(map(key, merged.collect())) == sorted(map(key, direct.collect()))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_dedup_drops_cross_batch_duplicates(spark):
    """Exact-dedup streaming twin: a duplicate arriving in a later
    micro-batch (within the watermark) is dropped; distinct texts pass."""
    import time

    from pyspark.sql import Row
    from lakeside_spark.streaming.pipeline import streaming_dedup_exact

    src_dir = tempfile.mkdtemp(prefix="stream_dedup_")
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_ck_")
    schema = "ts timestamp, doc_id bigint, text string"
    t0 = "2024-01-01 00:00:00"
    rows0 = [Row(ts=t0, doc_id=1, text="alpha  beta"), Row(ts=t0, doc_id=2, text="gamma")]
    rows1 = [Row(ts=t0, doc_id=3, text="Alpha beta"), Row(ts=t0, doc_id=4, text="delta")]
    try:
        df0 = spark.createDataFrame(rows0).withColumn("ts", F.col("ts").cast("timestamp"))
        df0.write.mode("overwrite").parquet(f"{src_dir}/b0")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = streaming_dedup_exact(stream, watermark="1 hour")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            df1 = spark.createDataFrame(rows1).withColumn("ts", F.col("ts").cast("timestamp"))
            df1.write.mode("append").parquet(f"{src_dir}/b1")
            time.sleep(0.5)
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            r["doc_id"] for r in spark.sql("SELECT * FROM dedup_stream").collect()
        )
        # doc 3 normalizes to doc 1's text ("alpha beta") -> dropped
        assert got == [1, 2, 4]
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_curation_gates_match_batch(spark, sf_dir):
    """The curation operators built from pure Column expressions
    (pii_scrub, c4_filter, quality/gopher exprs) must run unchanged on a
    stream — the 100 TB ingest path filters documents as they land, not
    in a later batch pass. Gopher/dedup stages that aggregate need state
    and are batch/compaction-side by design."""
    from lakeside_spark.operators.pii import c4_filter, pii_scrub

    docs = load_table(spark, sf_dir, "documents").limit(200)
    src_dir = tempfile.mkdtemp(prefix="stream_docs_")
    try:
        docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
            f"{src_dir}/batch=0"
        )
        docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(
            f"{src_dir}/batch=1"
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        gated = c4_filter(pii_scrub(stream).withColumnRenamed("scrubbed", "text"))
        q = (
            gated.writeStream.format("memory")
            .queryName("stream_curation")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["doc_id"]
            for r in spark.sql("select doc_id from stream_curation").collect()
        }
        want = {
            r["doc_id"]
            for r in c4_filter(
                pii_scrub(docs).withColumnRenamed("scrubbed", "text")
            ).collect()
        }
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_streaming_freq_counts_merge_with_sealed(spark, tmp_path):
    """Sealed half → MG summaries; unsealed half → streaming window
    counts; merged through merge_topk the MG contract must hold against
    exact whole-data counts: est ≤ true ≤ est + err_bound, heavy
    hitters present."""
    import pandas as pd

    from lakeside_spark.operators.freqitems import merge_topk, mg_summaries
    from lakeside_spark.streaming.pipeline import streaming_freq_counts

    # skewed stream: item i gets ~600/i events; odd ts → sealed half
    rows = [
        (f"item{i:02d}", 1_000_000 + j * 1000 + (i % 2))
        for i in range(1, 40)
        for j in range(600 // i)
    ]
    sealed = [(n, t) for n, t in rows if t % 2 == 1]
    unsealed = [(n, t) for n, t in rows if t % 2 == 0]

    # round-robin repartition interleaves the item blocks so each Arrow
    # batch sees more distinct items than capacity — forcing real prune
    # cuts on the sealed side
    sealed_df = spark.createDataFrame(
        sealed, "item string, ts_ms long"
    ).repartition(2)
    sealed_summaries = mg_summaries(sealed_df, "item", capacity=16)

    src = str(tmp_path / "unsealed")
    spark.createDataFrame(unsealed, "item string, ts_ms long").select(
        F.col("item"), F.timestamp_millis("ts_ms").alias("ts")
    ).coalesce(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("item string, ts timestamp").parquet(src)
    q = (
        streaming_freq_counts(stream, item_col="item")
        .writeStream.format("memory")
        .queryName("freq_unsealed")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    unsealed_counts = spark.sql("SELECT item, cnt FROM freq_unsealed")

    merged = merge_topk(
        sealed_summaries.unionByName(unsealed_counts), k=15
    ).collect()
    assert merged
    true = pd.Series([n for n, _ in rows]).value_counts()
    err = merged[0]["err_bound"]
    n_sealed = len(sealed)
    assert 0 < err <= n_sealed // 17 + 1, err  # cuts only from the sealed side
    for r in merged:
        t = int(true[r["item"]])
        assert r["est_count"] <= t <= r["est_count"] + err, r
    heavy = {i for i, c in true.items() if c > err}
    got = {r["item"] for r in merged}
    # the true top items all clear the bound and must be reported
    top_heavy = set(true.index[:10]) & heavy
    assert top_heavy <= got, top_heavy - got


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (points × span windows) must produce
    exactly the batch BETWEEN-join pairs once all files are processed,
    and its state must be evictable (watermark + range condition)."""
    from lakeside_spark.streaming.pipeline import streaming_interval_join

    events = load_table(spark, sf_dir, "events")
    points_b = events.filter(F.col("event_type") == "purchase")
    spans_b = events.filter(F.col("event_type") == "click")
    src = tempfile.mkdtemp(prefix="stream_ij_")
    try:
        points_b.write.mode("overwrite").parquet(f"{src}/points")
        spans_b.write.mode("overwrite").parquet(f"{src}/spans")
        pts = spark.readStream.schema(events.schema).parquet(f"{src}/points")
        sps = spark.readStream.schema(events.schema).parquet(f"{src}/spans")
        joined = streaming_interval_join(
            pts, sps.withColumn("span_start", F.col("ts")),
            span_ms=3_600_000, watermark="0 seconds",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("stream_ij")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["point_id"], r["span_id"])
            for r in spark.sql("SELECT * FROM stream_ij").collect()
        }
        exp = {
            (r["point_id"], r["span_id"])
            for r in points_b.alias("p")
            .join(
                spans_b.alias("s"),
                (F.col("p.user_id") == F.col("s.user_id"))
                & (F.col("p.ts") >= F.col("s.ts"))
                & (
                    F.unix_millis(F.col("p.ts"))
                    < F.unix_millis(F.col("s.ts")) + 3_600_000
                ),
            )
            .select(
                F.col("p.event_id").alias("point_id"),
                F.col("s.event_id").alias("span_id"),
            )
            .collect()
        }
        assert got == exp and len(exp) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_index_match_matches_batch(spark, sf_dir):
    """Streaming twin of minhash_lsh_match: incoming docs arriving across
    TWO micro-batches against a static index produce exactly the batch
    best_only=False match set (stream-static band join + expression
    verify)."""
    import tempfile, time

    from lakeside_spark.operators.dedup import minhash_lsh_match
    from lakeside_spark.streaming.pipeline import streaming_index_match

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0)
    expected = {
        (r["doc_id"], r["match_id"], r["jaccard"])
        for r in minhash_lsh_match(index, incoming, 0.12, best_only=False).collect()
    }
    assert expected, "fixture must produce at least one cross-side match"

    src_dir = tempfile.mkdtemp(prefix="stream_ixm_")
    ckpt = tempfile.mkdtemp(prefix="stream_ixm_ck_")
    try:
        half = incoming.filter(F.col("doc_id") % 10 == 0)
        rest = incoming.filter(F.col("doc_id") % 10 != 0)
        half.select("doc_id", "text").write.mode("overwrite").parquet(f"{src_dir}/b0")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        out = streaming_index_match(stream, index, 0.12)
        q = (
            out.writeStream.format("memory")
            .queryName("ixm_stream")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            rest.select("doc_id", "text").write.mode("append").parquet(f"{src_dir}/b1")
            time.sleep(0.5)
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["doc_id"], r["match_id"], r["jaccard"])
            for r in spark.sql("SELECT * FROM ixm_stream").collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_replay_late_data_evicts(spark, sf_dir):
    """The watermark-eviction replay key: its output must equal the
    day-counts over ON-TIME rows only (late subset excluded) and must
    DIFFER from the all-rows counts — i.e. the out-of-order batch was
    provably dropped by the state store, not silently aggregated."""
    from pyspark.sql import functions as F

    from lakeside_spark.registry import QUERIES
    from lakeside_spark.sources.tables import load_table

    got = {
        (r["step_ts"], r["name"]): r["n_events"]
        for r in QUERIES["streaming_replay_late_data"](spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_type").alias("name"),
            "event_id",
        )
        .filter(F.col("name").isNotNull())
    )
    b = ev.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")).first()
    t1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    t1 -= t1 % 3_600_000  # hour-aligned cutoff, as the key defines it
    is_late = (F.col("ts_ms") < t1) & (F.col("event_id") % 7 == 0)
    day = 86_400_000
    ontime = {
        (r["step_ts"], r["name"]): r["n"]
        for r in ev.filter(~is_late)
        .groupBy((F.col("ts_ms") - F.col("ts_ms") % day).alias("step_ts"), "name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    allrows = {
        (r["step_ts"], r["name"]): r["n"]
        for r in ev.groupBy(
            (F.col("ts_ms") - F.col("ts_ms") % day).alias("step_ts"), "name"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == ontime
    assert got != allrows  # the late subset really was evicted


def test_replay_drops_its_sink_view(spark, sf_dir):
    """A replay key leaves no ``replay_`` memory-sink view in the session
    (the view would keep every replay's rows on the driver); the frame it
    returns still holds the sink's rows."""
    from lakeside_spark.registry import QUERIES

    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("replay_")}

    before = views()
    out = QUERIES["streaming_replay_late_data"](spark, sf_dir)
    assert views() == before
    rows = out.collect()
    assert rows and out.count() == len(rows)
