"""Benchmark decontamination + vocabulary extraction for training corpora.

Decontamination: GPT-3-style n-gram collision screening (Brown et al. 2020
§C) — a training document is contaminated if it shares any word n-gram
with an evaluation/benchmark document. Scale design: the eval side is
tiny by construction (benchmarks are MBs, corpora are TBs), so its
distinct grams live on the broadcast side; the corpus side dedupes grams
in-row (array_distinct before explode) and joins map-side, so the only
shuffle carries the matched grams — a set sized by the contamination
rate, not the corpus.

Vocabulary: global word counts with a deterministic top-k — the seed step
of any BPE/WordPiece vocab build. One map-side-combinable shuffle on the
word key; top-k resolves on the already-tiny aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeside_spark.functions.text import normalized
from lakeside_spark.operators.repetition import _normalize_py


def _doc_grams(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """Exploded distinct word n-grams (doc_id, gram) via an Arrow kernel.

    Semantically explode(array_distinct(ngrams)) with docs shorter than n
    words contributing nothing — but the Column form evaluates interpreted
    slice/concat lambdas per gram (~1 ms/doc measured at sf0.1); the
    kernel is one linear Python pass per Arrow batch, same pattern as
    dedup._shingled_rows."""
    from lakeside_spark.operators.similarity import _parallelize

    src = _parallelize(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            grams: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in _normalize_py(text).split(" ") if w]
                if len(words) >= n:
                    gset = {
                        " ".join(words[i : i + n])
                        for i in range(len(words) - n + 1)
                    }
                    ids.extend([did] * len(gset))
                    grams.extend(gset)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "gram": grams}
            )

    return src.mapInPandas(kernel, schema="doc_id long, gram string")


def _overlap_hits(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_id, gram) matched pairs: corpus grams ⋈ broadcast eval grams.

    Lazy, built fresh per call (r13): the r6-era memo that persisted the
    hits frame per (corpus plan, eval plan) served a warm table to every
    later identical call — including a bench's second timed iteration —
    and each consumer reads the frame exactly once per query, so the
    persist bought nothing within a single plan."""
    eval_grams = _doc_grams(eval_docs, n, text_col, id_col).select("gram").distinct()
    corpus_grams = _doc_grams(corpus, n, text_col, id_col)
    return corpus_grams.join(F.broadcast(eval_grams), "gram")


def ngram_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus docs sharing ≥1 word n-gram with the eval set.

    Returns (doc_id, n_overlap_grams, first_gram) — first_gram (the
    lexicographic minimum) pins a human-checkable witness per hit.
    """
    hits = _overlap_hits(corpus, eval_docs, n, text_col, id_col)
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_overlap_grams"),
        F.min("gram").alias("first_gram"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The filter pass: corpus minus eval docs minus any doc overlapping
    the eval set — a broadcast anti-join, no wide shuffle of doc bodies."""
    dirty = _overlap_hits(corpus, eval_docs, n, text_col, id_col).select(
        F.col("doc_id").alias("_dirty_id")
    )
    eval_ids = eval_docs.select(F.col(id_col).alias("_dirty_id"))
    return corpus.join(
        F.broadcast(dirty.union(eval_ids).distinct()),
        corpus[id_col] == F.col("_dirty_id"),
        "left_anti",
    )


def _bloom_positions(h1, h2, k: int, m: int):
    """Double hashing (Kirsch–Mitzenmacher): position_i = (h1 + i·h2) mod m
    gives k independent-enough probes from two base uint64 hash arrays."""
    import numpy as np

    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64) for i in range(k)
    ]


def _gram_hashes(grams: "pd.Series"):
    """Two stable 63-bit hashes per gram from its md5 — engine-independent
    and reproducible (no Python hash randomization)."""
    import hashlib

    import numpy as np

    h1 = np.empty(len(grams), dtype=np.uint64)
    h2 = np.empty(len(grams), dtype=np.uint64)
    for i, g in enumerate(grams):
        d = hashlib.md5(g.encode()).digest()
        h1[i] = int.from_bytes(d[:8], "big") & 0x7FFFFFFFFFFFFFFF
        h2[i] = (int.from_bytes(d[8:], "big") & 0x7FFFFFFFFFFFFFFF) | 1
    return h1, h2


def bloom_decontam(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    m_bits: int = 1 << 20,
    k_hashes: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter n-gram decontamination — the 100 TB variant of
    ``ngram_overlap`` for when the eval-gram SET is too large to broadcast
    as data but its bitmap is not: a 1M-bit filter is 128 KB regardless of
    gram count, and false positives only ever over-flag (zero false
    negatives — a contaminated doc can never slip through; FP rate
    ≈ (1 - e^(-k·g/m))^k for g distinct grams).

    Build side: eval grams → k bit positions each (distributed map) → ONE
    distinct-positions aggregation (bounded by m, never by eval size) →
    driver assembles the m-bit numpy bitmap → broadcast. Probe side:
    map-only Arrow kernel — each corpus doc's distinct grams hash to k
    positions and a doc is flagged when ANY gram finds all k bits set.
    Returns (doc_id, n_suspect_grams) for flagged docs.

    Reference parity: same screening semantics as decontam.ngram_overlap
    (GPT-3 Brown et al. 2020 §C); the bitmap replaces the broadcast set.
    """
    import numpy as np

    k, m = k_hashes, m_bits

    # Build side, ONE map-only stage: each partition folds its eval docs
    # straight into a local m-bit bitmap (text → distinct grams → md5 →
    # k positions → set bits) and emits the PACKED bitmap — m/8 bytes
    # regardless of gram count — which the driver ORs together. Bitmap
    # assembly is idempotent, so no gram- or position-level distinct
    # (each a full shuffle in the previous plan) is needed; the driver
    # payload is partitions × m/8 bytes (128 KB each at the default m —
    # at very large eval-partition counts, fold first with a
    # treeAggregate; eval sets are benchmark-sized by definition).
    def build_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = np.zeros(m, dtype=bool)
        seen = False
        for pdf in batches:
            for text in pdf["text"]:
                words = [w for w in _normalize_py(text).split(" ") if w]
                if len(words) < n:
                    continue
                gset = list({
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                })
                if not gset:
                    continue
                seen = True
                h1, h2 = _gram_hashes(gset)
                for p in _bloom_positions(h1, h2, k, m):
                    local[p] = True
        if seen:
            yield pd.DataFrame({"bits": [np.packbits(local).tobytes()]})

    # no _parallelize on the build side: the eval scan's NATURAL
    # partitioning is enough (the kernel folds partition-locally and a
    # repartition Exchange costs more than the ~50k md5s it would
    # spread; a 100 TB eval set arrives with row-group parallelism)
    ev_src = eval_docs.select(F.col(text_col).alias("text"))
    packed_rows = ev_src.mapInPandas(
        build_kernel, schema="bits binary"
    ).collect()
    if packed_rows:
        packed = np.bitwise_or.reduce(
            [np.frombuffer(r["bits"], dtype=np.uint8) for r in packed_rows]
        )
    else:
        packed = np.zeros(m // 8, dtype=np.uint8)
    bc = corpus.sparkSession.sparkContext.broadcast(packed)

    def probe_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        packed = bc.value
        bits = np.unpackbits(packed).astype(bool)
        for pdf in batches:
            # flatten: one hash pass + one vectorized k-probe over ALL
            # of the batch's grams (per-doc 190-gram arrays are too
            # small to amortize numpy call overhead)
            doc_ids: list[int] = []
            doc_seg: list[int] = []
            grams: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in _normalize_py(text).split(" ") if w]
                if len(words) < n:
                    continue
                gset = {
                    " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
                }
                doc_ids.append(did)
                doc_seg.append(len(gset))
                grams.extend(gset)
            if not grams:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "n_suspect_grams": pd.Series([], dtype="int64"),
                    }
                )
                continue
            h1, h2 = _gram_hashes(grams)
            hit = np.ones(len(grams), dtype=bool)
            for p in _bloom_positions(h1, h2, k, m):
                hit &= bits[p]
            seg = np.repeat(np.arange(len(doc_seg)), doc_seg)
            n_hit = np.bincount(
                seg, weights=hit, minlength=len(doc_seg)
            ).astype(np.int64)
            flagged = np.flatnonzero(n_hit)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(
                        [doc_ids[i] for i in flagged], dtype="int64"
                    ),
                    "n_suspect_grams": pd.Series(n_hit[flagged], dtype="int64"),
                }
            )

    from lakeside_spark.operators.similarity import _parallelize

    src = _parallelize(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    return src.mapInPandas(probe_kernel, schema="doc_id long, n_suspect_grams long")


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-k vocabulary: global word counts ranked by
    (count desc, word asc). Partial aggregation combines map-side, so the
    shuffle carries one row per distinct word per partition, not one per
    token occurrence."""
    w = F.filter(F.split(normalized(text_col), " "), lambda x: x != F.lit(""))
    counts = (
        docs.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("word").asc())),
    )
    return ranked.filter(F.col("rank") <= k).select("rank", "word", "cnt")


def vocab_tfidf(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k corpus terms by smoothed tf-idf (the sklearn formulation:
    idf = ln((N+1)/(df+1)) + 1, score = tf · idf) — the signal behind
    keyword extraction, boilerplate spotting (high-tf low-idf), and
    quality-weighted vocab builds.

    Shape: one explode → ONE word-keyed aggregation computing tf and df
    together (count + count_distinct over the same shuffle; partial
    aggregation combines map-side), the corpus size N attached as a
    single-row broadcast scalar (the same scalar-attach pattern as the
    derived partsupp), then a global top-k window over the vocabulary —
    word-count-sized, never corpus-sized. Determinism: rank orders by
    (rounded score desc, word asc); equal (tf, df) pairs produce
    bit-identical scores in any engine computing doubles."""
    w = F.filter(F.split(normalized(text_col), " "), lambda x: x != F.lit(""))
    stats = (
        docs.select(F.col(id_col).alias("_doc"), F.explode(w).alias("word"))
        .groupBy("word")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("_doc").alias("df"),
        )
    )
    n_docs = docs.select(F.count("*").alias("_n"))
    scored = stats.join(F.broadcast(n_docs)).withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * (F.log((F.col("_n") + 1).cast("double") / (F.col("df") + 1)) + 1.0),
            6,
        ),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("tfidf").desc(), F.col("word").asc())
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        F.col("rank").cast("long").alias("rank"), "word", "tf", "df", "tfidf"
    )
