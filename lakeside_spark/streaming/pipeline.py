"""Structured Streaming ingest: the Spark-native replacement for the
reference's WAL / unsealed-segment path.

Reference flow (README + ingestion service): events buffer into a WAL,
become queryable after ~5s, seal to parquet every 20 min; queries merge
sealed (S3 parquet) + unsealed (streaming) results, and
TimeGroupedSketchAggregator time-groups with bounded buffers (late data
beyond the buffer window is dropped — core TimeGroupedSketchAggregator
.scala:200-228).

Spark mapping:
- WAL tail            → readStream (file/kafka source)
- time grouping       → window() aggregation on event time
- bounded buffers     → withWatermark (late-data cutoff)
- sealing to parquet  → writeStream parquet sink with checkpointing
- queryable-in-5s     → trigger(processingTime=...) micro-batches
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeside_spark import schema as S


def streaming_step_counts(
    stream: DataFrame,
    step: str = "10 seconds",
    watermark: str = "30 seconds",
    ts_col: str = "ts",
    name_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Event-time windowed chart aggregation over a stream.

    Emits (step_ts, name, value=count, sum) per window once the watermark
    passes — the streaming analog of the engine's step-aligned chart query.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), step), F.col(name_col).alias(S.NAME))
        .agg(
            F.count(F.lit(1)).cast("double").alias(S.VALUE),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias(S.STEP_TS),
            S.NAME,
            S.VALUE,
            "sum_value",
        )
    )


def streaming_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization: Spark's session_window merges events into
    gap-bounded sessions as they arrive — the streaming twin of
    operators/sessions.sessionize (same gap semantics, session closes once
    the watermark passes last_event + gap)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_millis(F.col("session_window.start")).alias("session_start"),
            F.unix_millis(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


def streaming_ddsketch_buckets(
    stream: DataFrame,
    step: str = "1 hour",
    watermark: str = "30 seconds",
    ts_col: str = "ts",
    name_col: str = "event_type",
    value_col: str = "value",
    alpha: float = 0.01,
) -> DataFrame:
    """DDSketch bucket counts over the UNSEALED (streaming) path — the
    reference computes sketches for unsealed segments and merges them with
    sealed-segment sketches at query time. Because a DDSketch here is just
    (window, name, bucket, cnt) rows, the streaming output UNIONS with
    batch `operators.ddsketch.ddsketch_buckets` rows and merges by
    `sum(cnt)` — sealed + unsealed with no special-case code path."""
    import math

    gamma = (1.0 + alpha) / (1.0 - alpha)
    v = F.col(value_col).cast("double")
    absb = F.ceil(F.log(F.abs(v)) / F.lit(math.log(gamma))).cast("long")
    bucket = (
        F.when(v > 1e-9, absb).when(v < -1e-9, -absb).otherwise(F.lit(0))
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), step),
            F.col(name_col).alias(S.NAME),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("window.start")).alias(S.STEP_TS),
            S.NAME,
            "bucket",
            "cnt",
        )
    )


def streaming_dedup_exact(
    stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup for an ingest pipeline: drop rows whose
    normalized-content hash was already seen within the watermark horizon.
    `dropDuplicatesWithinWatermark` keys state on the 16-byte hash only and
    expires it with the watermark — bounded state, the streaming twin of
    operators/dedup.dedup_exact's hash-groupBy."""
    from lakeside_spark.functions.text import normalized

    content_hash = F.md5(normalized(text_col))
    return (
        stream.withColumn("__h", content_hash)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def streaming_freq_counts(
    stream: DataFrame,
    step: str = "1 hour",
    watermark: str = "30 seconds",
    ts_col: str = "ts",
    item_col: str = "user_id",
) -> DataFrame:
    """Frequent-items feed over the UNSEALED (streaming) path: exact
    per-window item counts, state bounded by the watermark. An exact
    count table is itself a Misra-Gries summary with zero error, so
    these rows UNION with the sealed side's
    ``operators.freqitems.mg_summaries`` output and merge through
    ``merge_topk`` — sealed + unsealed with no special-case code path,
    the same pattern as the streaming DDSketch buckets above."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), step),
            F.col(item_col).cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("item", "cnt")
    )


def streaming_interval_join(
    points: DataFrame,
    spans: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    span_ts_col: str = "span_start",
    span_ms: int = 3_600_000,
    watermark: str = "1 hour",
    point_id_col: str = "event_id",
    span_id_col: str = "event_id",
) -> DataFrame:
    """Stream-stream interval join: each point event pairs with the span
    events of the same key whose [start, start+span_ms) window contains
    it — the streaming twin of the batch range_join operator (a span
    stream here is e.g. deploy/incident markers; points are telemetry).

    Spark executes this as a watermarked stream-stream join: BOTH sides
    buffer in state, and the time-bound join condition (point.ts between
    span start and end) lets the engine evict state once the watermark
    passes the window end — without the range condition the state would
    grow forever (Structured Streaming requires exactly this shape for
    stream-stream joins; unbounded-state joins are rejected). State per
    key is bounded by watermark + span_ms regardless of stream length —
    the 100 TB/day contract.
    """
    pts = points.withWatermark(ts_col, watermark).select(
        F.col(key).alias("p_key"),
        F.col(ts_col).alias("p_ts"),
        F.col(point_id_col).alias("point_id"),
    )
    sp = spans.withWatermark(span_ts_col, watermark).select(
        F.col(key).alias("s_key"),
        F.col(span_ts_col).alias("s_start"),
        F.col(span_id_col).alias("span_id"),
    )
    cond = (
        (F.col("p_key") == F.col("s_key"))
        & (F.col("p_ts") >= F.col("s_start"))
        # millisecond interval: flooring to seconds would shrink (or for
        # span_ms < 1000, zero out) the window vs the batch twin
        & (
            F.col("p_ts")
            < F.col("s_start") + F.expr(f"INTERVAL {span_ms} MILLISECONDS")
        )
    )
    return pts.join(sp, cond, "inner").select(
        F.col("p_key").alias(key),
        "point_id",
        "span_id",
        F.unix_millis("p_ts").alias("point_ts_ms"),
        F.unix_millis("s_start").alias("span_start_ms"),
    )


def streaming_index_match(
    stream: DataFrame,
    index_docs: DataFrame,
    threshold: float,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of operators/dedup.minhash_lsh_match: near-dup
    matching of a LIVE ingest stream against a static corpus index.

    The stream side is pure per-row expression work (signature =
    array_min over HOF-transformed shingles, bands via slice+md5), so
    the query runs append-mode with no aggregation state; candidates
    come from the stream-static band equi-join (static side = the
    persisted index in production); verification is the pure-expression
    array_intersect over the two docs' shingle sets — no second join.
    Emits every verified match (doc_id, match_id, jaccard) — a per-doc
    argmax is not append-mode streamable, so the batch reference is
    minhash_lsh_match(..., best_only=False). The interpreted HOF
    transform costs ~ms/doc — fine at live ingest rates; bulk backfills
    take the batch path's Arrow kernel. Multi-band collisions are
    deduped with stateful dropDuplicates; production bounds that state
    with dropDuplicatesWithinWatermark on the ingest timestamp.
    """
    from lakeside_spark.functions.text import md5_long, shingles
    from lakeside_spark.operators.dedup import (
        MINHASH_AB,
        MINHASH_P,
        _band_keys,
        _shingled_rows,
        minhash_signatures,
    )

    rows = num_hashes // bands

    # static index: same kernel/groupBy path as the batch op, built once
    ex_ix = _shingled_rows(index_docs, text_col, id_col, n)
    ix_sets = ex_ix.groupBy("doc_id").agg(F.collect_set("shingle").alias("ix_shs"))
    sig_ix = minhash_signatures(
        index_docs, num_hashes, n, text_col, id_col, shingle_rows=ex_ix
    )
    index_bands = (
        sig_ix.join(ix_sets, "doc_id")
        .select(
            F.col("doc_id").alias("ix_id"),
            "ix_shs",
            F.explode(_band_keys(F.col("sig"), bands, rows)).alias("band"),
        )
        .persist()
    )

    def mh(a: int, b: int):
        # closure factory, NOT default args: extra lambda params would be
        # bound as the element index by Spark's HOF binding rules
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    # null text must shingle like the batch Arrow kernel's (text or ""):
    # shingles(NULL) is NULL and would silently drop the row from the
    # stream while the batch twin matches it against empty-text docs
    shs = shingles(F.coalesce(F.col(text_col), F.lit("")), n)
    # ONE md5 per shingle (the module's minhash invariant): reduce every
    # shingle to h31 once, then take the 16 affine mins over that array
    h31s = F.transform(shs, lambda s: md5_long(s) % MINHASH_P)
    sig = F.array(
        *[
            F.array_min(F.transform(h31s, mh(a, b)))
            for a, b in MINHASH_AB[:num_hashes]
        ]
    )
    stream_bands = stream.select(
        F.col(id_col).alias("doc_id"),
        shs.alias("in_shs"),
        F.explode(_band_keys(sig, bands, rows)).alias("band"),
    )
    cand = stream_bands.join(index_bands, "band")
    n_common = F.size(F.array_intersect("in_shs", "ix_shs"))
    denom = F.size("in_shs") + F.size("ix_shs") - n_common
    j = n_common / denom
    return (
        cand.withColumn("j", j)
        .filter(F.col("j") >= threshold)
        .select(
            "doc_id",
            F.col("ix_id").alias("match_id"),
            F.round("j", 6).alias("jaccard"),
        )
        .dropDuplicates(["doc_id", "match_id"])
    )
