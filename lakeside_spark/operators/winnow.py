"""Winnowing document fingerprinting (Schleimer, Wilkerson, Aiken 2003 —
the MOSS algorithm) + cross-document overlap detection.

Where the existing dedup family measures whole-document similarity
(MinHash Jaccard, SimHash hamming), winnowing finds LOCAL matches: any
shared substring of at least ``w + k - 1`` characters is GUARANTEED to
leave at least one common fingerprint (the paper's correctness
guarantee), which is what plagiarism / license-text / quoted-boilerplate
detection actually needs. Fingerprint density is ~2/(w+1) of the k-gram
stream, so the cross-doc join input is a small fraction of the gram
table by construction.

Algorithm per document: normalize (lower, whitespace-collapse), strip
spaces, hash every char k-gram to a portable 60-bit md5 integer, slide a
w-window over the hash stream and select the MINIMUM of each window
(rightmost position on ties — "robust winnowing", §5.2 of the paper);
the document's fingerprint set is the distinct selected hashes.

Scale shape: fingerprinting is a map-only Arrow kernel (routed through
the under-parallel repartition gate); pairs come from dedup's one
shingle-pair counter (sparse Gram kernel or fingerprint-hash self-join)
with a ``max_df`` guard dropping fingerprints shared by more than
``max_df`` documents — ubiquitous boilerplate prints carry no pair
information and would otherwise fan out quadratically (the same hot-key
reasoning as the banded-LSH probes); the pair count is bounded by true
shared-print volume.

Cross-engine determinism: the k-gram hash is the repo's standard
md5-hex-prefix integer (functions/text.md5_long recipe), so the DuckDB
oracle replays fingerprint selection exactly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark.operators.dedup import _shingle_pair_counts
from lakeside_spark.operators.repetition import _normalize_py


def _winnow_fingerprints_py(text: str, k: int, w: int) -> list[int]:
    """Selected fingerprint hashes of one document (distinct, ordered by
    first selection). Documents with fewer than ``w`` k-grams yield no
    fingerprints (no full window exists — both engines share the rule)."""
    s = _normalize_py(text).replace(" ", "")
    n = len(s) - k + 1
    if n < w:
        return []
    hashes = [
        int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    out: list[int] = []
    seen: set[int] = set()
    for ws in range(n - w + 1):
        window = hashes[ws : ws + w]
        m = min(window)
        # rightmost minimum = robust winnowing tie-break
        sel = ws + (w - 1 - window[::-1].index(m))
        h = hashes[sel]
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fp) distinct winnowed fingerprints — map-only kernel."""
    from lakeside_spark.operators.similarity import _parallelize

    src = _parallelize(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                sel = _winnow_fingerprints_py(text, k, w)
                ids.extend([did] * len(sel))
                fps.extend(sel)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    return src.mapInPandas(kernel, schema="doc_id long, fp long")


def winnow_overlap(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    the local-match report (id_a < id_b, n_shared desc semantics left to
    the caller). Fingerprints present in more than ``max_df`` documents
    are dropped before pairing (boilerplate guard; a print shared by
    thousands of docs identifies a template, not a pair — the df-cut is
    the published practice in MOSS-scale deployments)."""
    # checkpoint the thin (doc_id, fp) frame: the pair counter's size probe
    # and its kernel or self-join each read it, and without it each re-runs
    # the Python winnow kernel from the text scan. Fingerprint density is
    # ~2/(w+1) of the gram stream, so the blocks are a small fraction of
    # corpus text.
    fps = M.checkpointed(winnow_fingerprints(docs, k, w, text_col, id_col))
    # fingerprints are the shingles of dedup's one pair counter: the
    # sparse Gram kernel up to GRAM_KERNEL_MAX_NNZ print rows, the
    # distributed self-join above; max_df cuts hot prints on either side
    counts = _shingle_pair_counts(
        fps.select("doc_id", F.col("fp").alias("shingle")),
        float(min_shared),
        "count",
        max_df=max_df,
    )
    return counts.withColumnRenamed("n_common", "n_shared")
