"""Span-level dedup and sliding-window chunking for corpus preparation.

Two corpus-preparation stages complementing the document-level dedup
family (operators/dedup.py):

- ``span_dedup``: C4/CCNet-style removal of spans repeated ACROSS
  documents (C4 drops any three-sentence span occurring more than once;
  CCNet dedups paragraphs by hash). Documents are tiled into fixed
  word-count spans, a global span-hash document-frequency count finds
  boilerplate, and documents are reassembled without the over-represented
  spans. Shape: explode → one hash aggregation (map-side combined) →
  broadcast-or-shuffle semi-join back → ordered reassembly — the span
  count table is vocabulary-sized, not corpus-sized.
- ``chunk_documents``: overlapping word-window chunking (window W,
  stride S) — the standard prep for context-window training and RAG
  indexing. Pure Column expressions: sequence → slice → posexplode,
  map-only, zero shuffles.

All string math uses the shared ``words()`` normalization so the DuckDB
oracle (string_split on the same normalization) agrees byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark.functions.text import words

#: span_dedup broadcasts its boilerplate-span table up to this many rows
#: and falls back to a shuffled anti-join above it. Read at call time, so
#: a test forces either side by patching the module attribute.
SPAN_BROADCAST_LIMIT = 100_000


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, chunk, n_words) — overlapping word windows.

    Start positions 1, 1+S, 1+2S, … up to the first start whose window
    reaches the last word (ceil, not floor — floor silently drops the
    tail when (n-W) % S != 0), so every word lands in ≥1 chunk. A doc
    shorter than the window yields exactly one chunk; with stride >
    window (gap sampling) out-of-range starts are filtered out."""
    w = words(text_col)
    n = F.size(w)
    n_chunks = F.ceil(
        F.greatest(n - window, F.lit(0)).cast("double") / stride
    ).cast("int") + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * stride + 1, window)),
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("doc_words"),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk",
        F.least(
            F.lit(window).cast("long"),
            F.col("doc_words") - F.col("chunk_id") * stride,
        ).alias("n_words"),
    ).filter(F.col("n_words") > 0)


def span_dedup(
    docs: DataFrame,
    span_words: int = 8,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove spans repeated across more than ``max_df`` documents.

    Documents are tiled into non-overlapping ``span_words``-word spans
    (last tile may be short); a span is boilerplate when its md5 appears
    in more than ``max_df`` DISTINCT documents. Returns
    (doc_id, clean_text, n_spans, n_dropped) with surviving spans
    rejoined in document order.

    The boilerplate table is usually tiny, but "usually" is not a plan: a
    100 TB crawl with heavy boilerplate can push it past executor memory,
    where a forced broadcast hint means OOM instead of degradation. So the
    hint is gated on a count probe (the same pattern as
    similarity.embedding_dup_pairs): ≤ ``SPAN_BROADCAST_LIMIT`` distinct
    over-represented spans → broadcast anti-join (map-only, no corpus
    shuffle); above it → plain shuffled anti-join and let AQE pick the
    strategy. The span-hash table is checkpointed before the probe so the
    count and the subsequent anti-join share ONE tiling+aggregation pass
    over the corpus instead of recomputing it — materializing the
    boilerplate-sized table is safe at any scale; it is the corpus we
    must never cache."""
    w = words(text_col)
    n_tiles = F.ceil(F.size(w).cast("double") / span_words).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(0), n_tiles - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * span_words + 1, span_words)),
    )
    # under-parallel inputs (a small-SF single-file parquet) starve the
    # tiling/explode stages; the gate keeps this a no-op on an
    # already-parallel 100 TB scan (see similarity._parallelize)
    from lakeside_spark.operators.similarity import _parallelize

    docs = _parallelize(docs)
    # ONE tokenize+tile+hash pass, materialized as per-doc arrays (r12,
    # the bm25/ExactSubstr idiom): the document-frequency aggregation,
    # the anti-join probe side, and the per-doc tile count are SEPARATE
    # subtrees, so without it the corpus was tiled+hashed twice and
    # tokenized a third time for the tile count (hashing "once at tiling
    # time" shared the expression, not the pass). Checkpoint blocks are
    # ≈ corpus-text-sized plus one md5 per span and spill to disk.
    tarr = M.checkpointed(
        docs.select(
            F.col(id_col).alias("doc_id"),
            tiles.alias("sp"),
            F.transform(tiles, F.md5).alias("sph"),
            n_tiles.cast("long").alias("n_spans"),
        )
    )
    tiled = tarr.select(
        "doc_id",
        F.posexplode(F.arrays_zip("sp", "sph")).alias("span_idx", "z"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("z.sp").alias("span"),
        F.col("z.sph").alias("span_hash"),
    )
    # global document-frequency per span hash: one map-side-combined
    # aggregation; the result is boilerplate-sized (distinct spans), far
    # smaller than the corpus, and joins back on the hash. Checkpointed
    # so the count probe below and the anti-join share ONE aggregation
    # pass; cheap to rebuild per call, since it reads the checkpointed
    # tile arrays, not the raw corpus.
    span_df = M.checkpointed(
        tiled.groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("span_hash")
    )
    if span_df.count() <= SPAN_BROADCAST_LIMIT:
        span_df = span_df.hint("broadcast")
    kept = tiled.join(span_df, "span_hash", "left_anti")
    surv = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_spans_kept"),
    )
    base = tarr.select("doc_id", "n_spans")
    # left join: a doc whose every span was boilerplate survives with
    # empty clean_text rather than silently disappearing from the corpus
    return base.join(surv, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_spans",
        (F.col("n_spans") - F.coalesce("n_spans_kept", F.lit(0))).cast(
            "long"
        ).alias("n_dropped"),
    )


def _tok_gram_arrays(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    with_ws: bool = False,
) -> DataFrame:
    """Checkpointed per-doc arrays ``(doc_id[, ws], gr)``: the normalize
    + tokenize regexp and the sliding k-gram md5 — the two dominant
    per-task costs of the ExactSubstr family — run exactly ONCE; every
    consumer re-explodes the materialized arrays (the bm25/winnow
    idiom). Without it the gram subtree was computed twice (the
    duplicated-gram aggregation and the anchor-join probe side are
    different plans, so ReusedExchange never fires) and the scrub
    re-tokenized twice more (token stream + per-doc length). Blocks are
    ≈ corpus-text-sized plus 32 hex chars per token position and spill
    to disk."""
    from lakeside_spark.operators.similarity import _parallelize

    base = _parallelize(docs).select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("ws")
    )
    ws = F.col("ws")
    gr = F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - k),
            lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = (["ws"] if with_ws else []) + [gr.alias("gr")]
    return M.checkpointed(base.select("doc_id", *cols))


def _dup_anchors_from(tg: DataFrame, min_count: int) -> DataFrame:
    """(doc_id, pos) of every sliding k-token gram whose md5 occurs at
    least ``min_count`` times corpus-wide — the duplicated-anchor table
    shared by exact_substr_spans (interval-merge report) and
    exact_substr_scrub (token removal), derived from the checkpointed
    per-doc gram arrays (``_tok_gram_arrays``). One cheap re-explode per
    consumer, one gram-count aggregation (map-side combined), one
    equi-join of the gram stream against the duplicated-gram table (AQE
    broadcasts when small; never forced)."""
    grams = tg.select("doc_id", F.posexplode("gr").alias("pos", "g"))
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("g")
    )
    return grams.join(dup, "g").select("doc_id", F.col("pos").cast("long"))


def exact_substr_spans(
    docs: DataFrame,
    k: int = 6,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-substring spans at ARBITRARY alignment — the
    ExactSubstr component of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"): report, per document, every
    maximal span covered by substrings of ≥ ``k`` tokens that occur at
    least ``min_count`` times corpus-wide (cross-document AND
    within-document repeats).

    The paper builds a corpus suffix array; the distributed equivalence
    this operator exploits instead is that the union of duplicated
    length-≥k substring extents EQUALS the union of duplicated k-token
    ANCHOR extents: any duplicated substring of length L ≥ k is tiled by
    L−k+1 duplicated k-grams covering its full extent, and every
    duplicated k-gram is itself a duplicated substring of length exactly
    k. So a sliding k-gram occurrence count + per-document interval
    merge reproduces the suffix array's removal set exactly — as a
    wordcount-shaped plan instead of a global sorted index, which is the
    100 TB-correct shape (the suffix array is a single-node total order;
    the anchor count is one map-side-combined aggregation).

    Unlike ``span_dedup``'s non-overlapping tiles (the C4-style
    approximation, which misses duplicates straddling tile boundaries or
    shifted by < span_words), anchors slide one token at a time, so
    alignment cannot hide a duplicate.

    Shape: ONE map-only sliding-gram hashing pass (codegen: transform +
    slice + md5), checkpointed as per-doc arrays (``_tok_gram_arrays`` —
    the aggregation and join-probe consumers re-explode the cache
    instead of recomputing the hashes) → one gram-count aggregation
    (map-side combined) → shuffle join of anchors against the
    duplicated-gram table (AQE picks broadcast when the dup table is
    small; never forced — a boilerplate-heavy crawl can make it large)
    → one doc-keyed window + same-keyed aggregate for the interval
    merge, over duplicated anchors only.
    Output: (doc_id, start_pos, end_pos, n_tokens, n_anchors) in
    normalized-token coordinates, one row per maximal duplicated span.
    """
    if k < 2:
        raise ValueError(f"exact_substr_spans: k={k} — need k >= 2")
    from pyspark.sql import Window

    tg = _tok_gram_arrays(docs, k, text_col, id_col)
    anchors = _dup_anchors_from(tg, min_count)
    # interval merge: all extents are length k, so the running max end is
    # the previous anchor's pos + k − 1 and a new island starts exactly
    # when the gap to the previous anchor exceeds k (extents neither
    # overlap nor touch)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    islands = anchors.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) > k, 1).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # groupBy(doc_id, __isl) after the doc_id window: hashpartitioning
    # on doc_id already clusters the keys, so no extra exchange
    return islands.groupBy("doc_id", "__isl").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + F.lit(k - 1)).alias("end_pos"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_anchors"),
    ).drop("__isl")


def exact_substr_scrub(
    docs: DataFrame,
    k: int = 6,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal action on exact_substr_spans' report: drop every
    token covered by a duplicated length-≥k substring and reassemble
    the survivors in document order — (doc_id, clean_text, n_tokens,
    n_removed).

    Removal policy is the aggressive every-occurrence cut (the
    boilerplate semantics of span_dedup / C4): a duplicated substring
    vanishes from ALL its occurrences. Lee et al. 2022's tool keeps one
    canonical occurrence; at the span level "one occurrence" is
    ill-defined once overlapping matches merge into different maximal
    islands per document, so the deterministic every-occurrence policy
    is the one with an exact cross-engine oracle. Docs whose every token
    is covered survive with empty clean_text (never silently dropped —
    the span_dedup contract).

    Shape: the shared duplicated-anchor plan over the checkpointed per-doc
    token+gram arrays (``_tok_gram_arrays`` with tokens kept — the
    token stream and the per-doc length both re-explode the cache, so
    the normalize/tokenize regexp runs once instead of four times),
    anchors exploded to their ≤k covered positions (duplicated anchors
    only — bounded by true duplication volume, not the corpus), one
    distinct, one anti-join against the corpus token stream, one
    doc-keyed reassembly aggregate.
    """
    if k < 2:
        raise ValueError(f"exact_substr_scrub: k={k} — need k >= 2")

    tg = _tok_gram_arrays(docs, k, text_col, id_col, with_ws=True)
    anchors = _dup_anchors_from(tg, min_count)
    covered = anchors.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("pos"),
    ).distinct()
    toks = tg.select(
        "doc_id",
        F.posexplode("ws").alias("pos", "tok"),
    ).withColumn("pos", F.col("pos").cast("long"))
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    surv = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = tg.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
    )
    return base.join(surv, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )
