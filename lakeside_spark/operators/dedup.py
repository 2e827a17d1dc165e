"""Document deduplication operators: exact, n-gram Jaccard and containment,
MinHash+LSH, SimHash.

Scale design (100 TB):
- exact: one hash-groupBy on a 16-byte key — the minimal shuffle.
- jaccard / containment (and winnow's shared-print count,
  operators/winnow.py): one shingle-pair counter, _shingle_pair_counts.
  One exact count of the (doc_id, shingle) rows picks the side: up to
  GRAM_KERNEL_MAX_NNZ rows the driver collects them for the sparse Gram
  kernel, which itself declines when the exact product count Σ df² is
  over GRAM_KERNEL_MAX_PRODUCTS; otherwise one xxhash64-keyed shingle
  self-join counts the pairs. Ultra-frequent shingles make that join
  quadratic, so at scale pair generation goes through MinHash LSH
  (bounded candidates per band bucket) and the same counter only
  verifies candidates.
- minhash: signatures are per-doc map work (no shuffle); the only shuffle is
  the band-bucket join. Bands are computed as one array column and exploded,
  so a doc moves bands-times, not signature-length-times.
- simhash: 64-bit signature per doc; candidate pairing via band-substrings
  of the signature (here: exact hamming verification over modest candidate
  sets).

Cross-engine determinism: every hash derives from md5 (first 15 hex chars →
60-bit int), reproducible in DuckDB as
``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import nullcontext
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark.functions.text import md5_long, normalized
from lakeside_spark.operators.similarity import _parallelize

#: MinHash hash family: h_i(s) = (A_i * h31(s) + B_i) mod P where h31 is the
#: 60-bit md5 integer of the shingle reduced mod P. One md5 per shingle
#: occurrence (instead of one per hash index) — 16x less hashing; the affine
#: mixes are integer ops inside whole-stage codegen. P = 2^31 - 1 keeps
#: A*h31 + B < 2^62 (no bigint overflow, portable to any engine with int64).
MINHASH_P = 2_147_483_647
MINHASH_AB = [
    (1_103_515_245, 12_345),
    (214_013, 2_531_011),
    (134_775_813, 1),
    (1_664_525, 1_013_904_223),
    (22_695_477, 1),
    (69_069, 362_437),
    (1_566_083_941, 1_406_932_606),
    (747_796_405, 907_633_385),
    (1_103_512_243, 11),
    (62_089_911, 4_294_967),
    (28_411, 134_456),
    (16_843_009, 826_366_247),
    (1_284_865_837, 1_481_765_933),
    (1_481_207_245, 1_025_202_361),
    (65_793, 4_282_663),
    (33_614, 95_070_637),
]

#: The one gate of _shingle_pair_counts: up to this many (doc_id, shingle)
#: rows the driver collects them for the sparse Gram kernel; above it the
#: shingle self-join runs. Every doc yields at least one shingle, so this
#: also bounds the doc count. Gate constants in this module are read at
#: call time, so a test forces either side by patching the module attribute.
GRAM_KERNEL_MAX_NNZ = 4 * 1024 * 1024

#: The kernel declines (and the self-join runs) when the exact product
#: count Σ_shingle df² is over this: a hot shingle row-block numpy must
#: not absorb.
GRAM_KERNEL_MAX_PRODUCTS = 256 * 1024 * 1024

#: Kernel products per task: bounds each task's arrays to tens of MB.
GRAM_KERNEL_PRODUCTS_PER_TASK = 2 * 1024 * 1024

#: connected_components answers with one collect + union-find up to this
#: many edges and with distributed star-contraction rounds above it.
CC_LOCAL_MAX_EDGES = 1_000_000


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts; keep the smallest id per group."""
    return (
        docs.select(F.md5(normalized(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingled_rows(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Exploded distinct word-n-gram shingles (doc_id, shingle).

    Semantically identical to explode(shingles(text)) but via an Arrow
    kernel: Spark evaluates higher-order slice/concat lambdas interpreted
    per n-gram (~ms per document), while this is one linear Python pass per
    Arrow batch. Still fully distributed — the kernel runs per partition.
    Matches functions/text.shingles(): trim → lower → collapse whitespace →
    split; docs shorter than n words yield their full text as one shingle.
    """
    import re

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java/RE2 \s, not unicode \s
    src = _parallelize(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            shs: list[str] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                # .strip(" ") not .strip(): Spark trim / DuckDB trim strip
                # ASCII SPACE only, while Python strip() also eats \t/\xa0/
                # unicode WS and would diverge from functions/text.words()
                words = ws_re.sub(" ", (text or "").strip(" ").lower()).split(" ")
                sset = {" ".join(words[i : i + n]) for i in range(max(len(words) - n, 0) + 1)}
                ids.extend([did] * len(sset))
                shs.extend(sset)
            yield pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "shingle": shs})

    return src.mapInPandas(kernel, schema="doc_id bigint, shingle string")


def _gram_pair_counts(
    sh: DataFrame, threshold: float, measure: str, max_df: int | None = None
) -> DataFrame | None:
    """Exact all-pairs shingle intersections via a row-block-parallel
    SPARSE Gram: per doc-block, a vectorized merge-join on the shingle
    runs generates exactly Σ_s f_blk(s)·f(s) candidate products (f = the
    shingle's document frequency) — never the dense doc×shingle matrix
    the r5 BLAS kernel built, whose n·m cell budget kept this path off
    any corpus with a real vocabulary (sf0.1: 5k docs × 27k shingles =
    136M cells > the old 32M cap, so every jaccard consumer fell through
    to the 4-exchange explode-join; Σf² there is only 2.8M — the sparse
    work is ~50× smaller than the dense flops the cap was guarding).

    Input: exploded (doc_id, shingle) rows, distinct per doc. The rows
    are dictionary-encoded ONCE (shingles squashed to 64-bit hashes so
    only int arrays move, never strings) and broadcast grouped by
    shingle run; every task walks ITS doc block's entries, np.repeat-
    expands each against its full shingle run, counts pairs with one
    np.unique, applies the measure's threshold in-task, and only
    qualifying pairs leave — no pair shuffle at all.

    Work and memory are bounded by the TRUE product count: Σf² is
    computed exactly driver-side before broadcasting, and if it exceeds
    ``GRAM_KERNEL_MAX_PRODUCTS`` the function returns **None** and
    _shingle_pair_counts falls back to the distributed self-join (a
    pathological hot shingle — f ≈ corpus — is exactly the case
    row-block numpy must not absorb). This stays the small/medium-corpus
    exact path (the nnz gate in _shingle_pair_counts); the real 100 TB
    path is MinHash LSH. ``measure`` picks the in-task threshold filter
    (see _measure) — all exact integer counts through the identical
    expression their SQL oracles use. ``max_df`` drops whole shingle
    runs with document frequency above the cut BEFORE the products
    bound, on the driver's run-length array.
    Output: (id_a, id_b, n_common, n_a, n_b).
    """
    spark = sh.sparkSession
    schema = "id_a bigint, id_b bigint, n_common bigint, n_a bigint, n_b bigint"
    pdf = sh.select("doc_id", F.xxhash64("shingle").alias("shingle")).toPandas()
    if not len(pdf):
        return spark.createDataFrame([], schema=schema)
    d_codes, d_ids = pd.factorize(pdf["doc_id"].to_numpy(np.int64))
    s_codes, _ = pd.factorize(pdf["shingle"].to_numpy(np.int64))
    d_ids = np.asarray(d_ids, dtype=np.int64)
    n = len(d_ids)
    # group entries by shingle: d_sorted[k] is a doc of run r(k), whose
    # entries span [start_of[k], start_of[k] + len_of[k])
    order = np.argsort(s_codes, kind="stable")
    s_sorted = s_codes[order]
    d_sorted = d_codes[order].astype(np.int32)
    run_head = np.empty(len(s_sorted), dtype=bool)
    run_head[0] = True
    run_head[1:] = s_sorted[1:] != s_sorted[:-1]
    run_starts = np.flatnonzero(run_head)
    run_lens = np.diff(np.append(run_starts, len(s_sorted)))
    if max_df is not None:
        keep_runs = run_lens <= max_df
        entry_keep = np.repeat(keep_runs, run_lens)
        s_sorted = s_sorted[entry_keep]
        d_sorted = d_sorted[entry_keep]
        if not len(s_sorted):
            return spark.createDataFrame([], schema=schema)
        run_starts = np.flatnonzero(
            np.r_[True, s_sorted[1:] != s_sorted[:-1]]
        )
        run_lens = np.diff(np.append(run_starts, len(s_sorted)))
    products = int((run_lens.astype(np.int64) ** 2).sum())
    if products > GRAM_KERNEL_MAX_PRODUCTS:
        return None
    start_of = np.repeat(run_starts, run_lens)
    len_of = np.repeat(run_lens, run_lens).astype(np.int64)
    sizes = np.bincount(d_codes, minlength=n).astype(np.int64)
    par = spark.sparkContext.defaultParallelism
    n_tasks = int(
        max(1, min(par, products // GRAM_KERNEL_PRODUCTS_PER_TASK + 1, n))
    )
    # block boundaries by cumulative per-doc PRODUCT MASS (Σ run_len of
    # the doc's entries), not equal doc counts (r12 ADVICE): with equal
    # doc ranges one skewed block — e.g. a doc holding most entries of
    # hot shingles — could own nearly the whole products budget, making
    # its per-task expansion arrays multi-GB instead of the documented
    # tens of MB. searchsorted on the mass prefix sum cuts blocks at
    # ~products/n_tasks each; a block emptied by the cut is skipped.
    doc_mass = np.bincount(
        d_sorted, weights=len_of.astype(np.float64), minlength=n
    )
    cut = np.cumsum(doc_mass)
    targets = (products / n_tasks) * np.arange(1, n_tasks)
    bounds = np.minimum(
        np.concatenate(
            ([0], np.searchsorted(cut, targets, side="left") + 1, [n])
        ).astype(np.int64),
        n,
    )
    bc = spark.sparkContext.broadcast(
        (d_sorted, start_of, len_of, sizes, d_ids, n, bounds)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ds, start_of, len_of, sizes, ids, n, bounds = bc.value
        for part in batches:
            for k in part["k"].to_numpy(np.int64):
                lo, hi = int(bounds[k]), int(bounds[k + 1])
                if lo >= hi:
                    continue
                be = np.flatnonzero((ds >= lo) & (ds < hi))
                if not len(be):
                    continue
                rep = len_of[be]
                total = int(rep.sum())
                left = np.repeat(ds[be].astype(np.int64), rep)
                # grouped arange: position of each product within its
                # entry's shingle run
                csum = np.cumsum(rep)
                in_run = np.arange(total, dtype=np.int64) - np.repeat(
                    csum - rep, rep
                )
                right = ds[np.repeat(start_of[be], rep) + in_run].astype(
                    np.int64
                )
                keep = ids[left] < ids[right]  # drops self + orders pairs
                if not keep.any():
                    continue
                key = left[keep] * n + right[keep]
                uk, cnt = np.unique(key, return_counts=True)
                la, rb = uk // n, uk % n
                na, nb = sizes[la], sizes[rb]
                if measure == "containment":
                    score = cnt / np.minimum(na, nb)
                elif measure == "count":
                    score = cnt  # integer ≥ integer: exact
                else:
                    score = cnt / (na + nb - cnt)  # float64, oracle's op
                sel = score >= threshold
                if not sel.any():
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": ids[la[sel]],
                        "id_b": ids[rb[sel]],
                        "n_common": cnt[sel].astype(np.int64),
                        "n_a": na[sel],
                        "n_b": nb[sel],
                    }
                )

    blocks = spark.range(n_tasks).toDF("k").repartition(n_tasks)
    return blocks.mapInPandas(kernel, schema=schema)


def _measure(measure: str) -> Column:
    """A pair's score over (n_common, n_a, n_b): "jaccard" |A∩B|/|A∪B|,
    "containment" |A∩B|/min(|A|,|B|), or "count" |A∩B| (the winnow
    shared-print rule). The kernel computes the same float64 (or integer)
    expression in-task, so both sides keep the same pairs."""
    n, na, nb = F.col("n_common"), F.col("n_a"), F.col("n_b")
    if measure == "jaccard":
        return n / (na + nb - n)
    if measure == "containment":
        return n / F.least(na, nb)
    return n


def _shingle_pair_counts(
    ex: DataFrame, threshold: float, measure: str, max_df: int | None = None
) -> DataFrame:
    """Doc pairs over (doc_id, shingle) rows whose ``measure`` (see
    _measure) is ≥ ``threshold``: (id_a, id_b, n_common, n_a, n_b) with
    id_a < id_b — (id_a, id_b, n_common) for "count", which reads no
    sizes. ``max_df`` drops shingles held by more than that many docs
    before pairing; sizes still count them.

    One exact count of the rows is the only probe. Up to
    GRAM_KERNEL_MAX_NNZ rows the sparse Gram kernel (_gram_pair_counts)
    runs, unless it declines on Σ df²; otherwise the shingle self-join
    does, keyed on a 64-bit hash of the shingle: narrower shuffle rows,
    cheaper key compares, and the same ~n_distinct²/2^65 collision odds
    as the kernel, which intersects on the same hash."""
    cols = ["id_a", "id_b", "n_common"] + ([] if measure == "count" else ["n_a", "n_b"])
    if ex.count() <= GRAM_KERNEL_MAX_NNZ:
        counts = _gram_pair_counts(ex, threshold, measure, max_df)
        if counts is not None:
            return counts.select(*cols)
    h = ex.select("doc_id", F.xxhash64("shingle").alias("h"))
    kept = h
    if max_df is not None:
        doc_freq = h.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        kept = h.join(doc_freq.filter(F.col("df") <= max_df).select("h"), "h")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if measure != "count":
        sizes = h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
        pairs = pairs.join(sa, "id_a").join(sb, "id_b")
    return pairs.filter(_measure(measure) >= threshold).select(*cols)


def _jaccard_from_counts(counts: DataFrame) -> DataFrame:
    return counts.select(
        "id_a", "id_b", F.round(_measure("jaccard"), 6).alias("jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    Pairs come from _shingle_pair_counts: the sparse Gram kernel up to
    GRAM_KERNEL_MAX_NNZ shingle rows, the distributed shingle self-join
    above. Neither is the 100 TB answer — that's minhash_lsh_pairs,
    which bounds candidates before verifying. The shingle rows are held
    for the call; the pair-sized result is checkpointed.
    """
    with M.held(_shingled_rows(docs, text_col, id_col, n)) as ex:
        return M.checkpointed(
            _jaccard_from_counts(_shingle_pair_counts(ex, threshold, "jaccard"))
        )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig: array<bigint>[num_hashes]) — sig[i] = min over shingles
    of (A_i * h31(shingle) + B_i) mod P (family constants MINHASH_AB).

    ONE md5 per shingle occurrence; the per-index values are affine integer
    mixes of it — all static columns in whole-stage codegen (nested
    higher-order lambdas would fall back to interpreted eval, ~20× slower),
    then a single groupBy(doc_id) min-aggregates the signature.
    ``shingle_rows``: pre-computed (doc_id, shingle) rows to reuse (skips
    re-shingling when the caller also needs the rows for verification)."""
    if shingle_rows is None:
        shingle_rows = _shingled_rows(docs, text_col, id_col, n)
    flat = shingle_rows.withColumn("h31", md5_long(F.col("shingle")) % MINHASH_P)
    hash_cols = [
        ((F.lit(a) * F.col("h31") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    ]
    per_shingle = flat.select("doc_id", *hash_cols)
    mins = per_shingle.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_keys(sig_col: Column, bands: int, rows: int) -> Column:
    """Banded LSH keys 'b:md5(sig[b·rows+1 … +rows])' as array<string>.

    The SINGLE definition shared by minhash_lsh_pairs, minhash_lsh_match
    and streaming_index_match — band keys feed cross-path parity
    (streaming twin == batch, incremental vs pairs), so the expression
    must stay bit-identical everywhere."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat(
            b.cast("string"),
            F.lit(":"),
            F.md5(F.concat_ws(",", F.slice(sig_col, b * rows + 1, rows))),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash→banded-LSH candidates, verified with exact Jaccard.

    rows-per-band = num_hashes/bands; a pair collides if any band's slice of
    the signature matches exactly. Candidates are then verified, so output ⊆
    ngram_jaccard_pairs(threshold) (LSH may miss pairs — that is the
    documented recall trade-off of the scale path). The corpus-sized
    intermediates are held for the call; the pair-sized result is
    checkpointed.
    """
    rows = num_hashes // bands
    # shingle ONCE: the signature pass and the verification stage share
    # these rows (previously verification re-shingled every candidate doc)
    with M.held(_shingled_rows(docs, text_col, id_col, n)) as ex:
        sig = minhash_signatures(
            docs, num_hashes, n, text_col, id_col, shingle_rows=ex
        )
        banded = sig.select(
            "doc_id", F.explode(_band_keys(F.col("sig"), bands, rows)).alias("band")
        )
        a, b = banded.alias("a"), banded.alias("b")
        # held: consumed three times (candidate ids, verification feed, the
        # final semi-join) — without this the whole signature pipeline re-runs
        candidates = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct()
        )
        with M.held(candidates) as candidates:
            # verify ONLY the candidate pairs (this bounded verification is
            # the whole point of LSH at scale — never the all-pairs join).
            # The candidate doc set grows with the corpus, so verification
            # goes through _shingle_pair_counts' nnz gate: candidate shingle
            # rows within GRAM_KERNEL_MAX_NNZ take the sparse Gram kernel,
            # more take the distributed self-join — never an unconditional
            # single task.
            cand_ids = (
                candidates.select(F.col("id_a").alias("__cand_id"))
                .union(candidates.select(F.col("id_b").alias("__cand_id")))
                .distinct()
            )
            # held: the size probe and the kernel feed would otherwise
            # each re-scan the full corpus shingle cache through the semi-join
            cand_sh = ex.join(
                F.broadcast(cand_ids), F.col("doc_id") == F.col("__cand_id"), "leftsemi"
            )
            with M.held(cand_sh) as cand_sh:
                exact = _jaccard_from_counts(
                    _shingle_pair_counts(cand_sh, threshold, "jaccard")
                )
                return M.checkpointed(
                    exact.join(candidates, ["id_a", "id_b"], "leftsemi")
                )


def minhash_lsh_match(
    index_docs: DataFrame,
    incoming_docs: DataFrame,
    threshold: float,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    best_only: bool = True,
    shingle_rows_incoming: DataFrame | None = None,
    shingle_rows_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: match an incoming shard against an existing
    corpus index WITHOUT re-pairing the corpus with itself — the shape a
    daily ingest runs at 100 TB. Returns (doc_id, match_id, jaccard):
    each incoming doc's BEST verified index match (max jaccard, min
    match_id tiebreak) at or above threshold — or, with
    ``best_only=False``, every verified match (the form the streaming
    twin emits, since a per-doc argmax is not append-mode streamable).

    Scale shape: signatures/bands are pure per-doc functions, so the
    index side is computed ONCE in production and persisted as the dedup
    index table (recomputed inline here because the bench corpus is
    parquet-only); candidates come from an incoming×index banded
    equi-join — never index×index — and verification feeds shingle rows
    through the candidate pair list, so its cost is bounded by
    |candidates| × shingles-per-doc, not corpus².

    ``shingle_rows_incoming`` / ``shingle_rows_index`` (r13): a caller
    whose two doc sets SPLIT ONE TABLE can pass pre-computed
    (doc_id, shingle) frames (e.g. filters of one shingled+checkpointed
    pass) so the tokenize+shingle kernel runs once instead of once per
    side — per the r13 profile the two per-side kernels cost 1.32s where
    one whole-table pass costs 0.57s at sf0.1. The caller owns the
    supplied frames' cache lifetime; each side's rows must cover exactly
    that side's docs. Shingle rows this call computes are held for the
    call; the match-sized result is checkpointed."""

    def shingled(docs: DataFrame, supplied: DataFrame | None):
        if supplied is not None:
            return nullcontext(supplied)
        return M.held(_shingled_rows(docs, text_col, id_col, n))

    rows = num_hashes // bands

    def _banded(docs: DataFrame, ex: DataFrame) -> DataFrame:
        sig = minhash_signatures(
            docs, num_hashes, n, text_col, id_col, shingle_rows=ex
        )
        return sig.select(
            "doc_id", F.explode(_band_keys(F.col("sig"), bands, rows)).alias("band")
        )

    with shingled(incoming_docs, shingle_rows_incoming) as ex_in, shingled(
        index_docs, shingle_rows_index
    ) as ex_ix:
        cand = (
            _banded(incoming_docs, ex_in)
            .alias("a")
            .join(
                _banded(index_docs, ex_ix).alias("b"),
                F.col("a.band") == F.col("b.band"),
            )
            .select(
                F.col("a.doc_id").alias("in_id"), F.col("b.doc_id").alias("ix_id")
            )
            .distinct()
        )
        # cand has a single consumer (the verification join chain below), so it
        # stays lazy; only the twice-read shingle rows are held — in
        # production the index-side cache is replaced by the persisted index
        # table, whose lifetime the ingest pipeline owns
        common = (
            cand.join(
                ex_in.select(F.col("doc_id").alias("in_id"), "shingle"), "in_id"
            )
            .join(
                ex_ix.select(F.col("doc_id").alias("ix_id"), "shingle"),
                ["ix_id", "shingle"],
            )
            .groupBy("in_id", "ix_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        n_in = ex_in.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_in"))
        n_ix = ex_ix.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ix"))
        jac = F.col("n_common") / (F.col("n_in") + F.col("n_ix") - F.col("n_common"))
        scored = (
            common.join(n_in, common["in_id"] == n_in["doc_id"])
            .drop("doc_id")
            .join(n_ix, common["ix_id"] == n_ix["doc_id"])
            .withColumn("j", jac)
            .filter(F.col("j") >= threshold)
        )
        if best_only:
            w = Window.partitionBy("in_id").orderBy(
                F.col("j").desc(), F.col("ix_id")
            )
            scored = scored.withColumn("rn", F.row_number().over(w)).filter(
                F.col("rn") == 1
            )
        return M.checkpointed(
            scored.select(
                F.col("in_id").alias("doc_id"),
                F.col("ix_id").alias("match_id"),
                F.round("j", 6).alias("jaccard"),
            )
        )


def _edge_sig(e: DataFrame) -> tuple:
    """Order-insensitive signature (count, Σ xxhash64) of an edge list:
    detects the fixed point in one tiny agg job per round instead of an
    anti-join diff."""
    r = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: ANSI mode makes a long Σ of 64-bit
        # hashes an overflow error, not a wrap
        F.coalesce(
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return (r["n"], r["h"])


def _star_contract(edges: DataFrame, max_iter: int) -> tuple[DataFrame, bool]:
    """Alternating large-star / small-star rounds over a (hi, lo) edge
    list until its signature stops changing: (final edges, converged).
    The input edges and each round's large-star frame are held; each
    round's small-star result is checkpointed."""
    with M.held(edges) as first:
        sig = _edge_sig(first)  # also materializes: input runs exactly once
        edges = first
        for _ in range(max_iter):
            # large-star: for every node u, rewire each STRICTLY LARGER
            # neighbor x to m(u) = min(closed neighborhood of u)
            adj = edges.select(F.col("hi").alias("u"), F.col("lo").alias("x")).union(
                edges.select(F.col("lo").alias("u"), F.col("hi").alias("x"))
            )
            mins = (
                adj.groupBy("u")
                .agg(F.min("x").alias("mn"))
                .select("u", F.least("mn", "u").alias("m"))
            )
            large = (
                adj.join(mins, "u")
                .filter(F.col("x") > F.col("u"))
                .select(F.col("x").alias("hi"), F.col("m").alias("lo"))
                .distinct()
            )
            with M.held(large) as large:
                large.count()
                # small-star: key by the larger endpoint; rewire u and all
                # its smaller neighbors to the minimum among them
                smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
                joined = large.join(smins, "hi")
                # CRITICAL: truncate lineage every round. Each round's plan
                # embeds ~12 copies of the previous round's tree (two adj
                # unions + self-joins), so without a checkpoint the LOGICAL
                # plan — and Catalyst analysis time — grows exponentially
                # and kills the driver by round ~3.
                edges = M.checkpointed(
                    joined.select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
                    .union(joined.select("hi", F.col("m").alias("lo")))
                    .filter(F.col("hi") != F.col("lo"))
                    .distinct()
                )
                new_sig = _edge_sig(edges)
            if new_sig == sig:
                return edges, True
            sig = new_sig
    return edges, False


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Duplicate-cluster assignment: (doc_id, cluster_id) where cluster_id
    is the minimum doc id reachable through the near-dup pair graph.

    Near-dup graphs are tiny relative to the corpus (they only contain
    docs with at least one duplicate), so when the edge list fits the
    driver (≤ CC_LOCAL_MAX_EDGES) a single collect + union-find answers in
    one job instead of multi-round joins. Past that, alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round rewires
    every node's neighbors to the minimum of its closed neighborhood,
    which contracts the graph toward per-component stars in O(log²)
    rounds REGARDLESS of diameter — the property that matters at 100 TB,
    where chain-shaped near-dup graphs (doc A ~ A' ~ A'' ~ …) make any
    diameter-bound propagation scheme (label push, BFS) unboundedly
    slow. Each round is two shuffle stages (groupBy min + re-emit), all
    DataFrame ops, no driver state.
    Singletons are not emitted — absent ids are their own cluster.
    """
    # held: the size probe and the collect/edge-build below would
    # otherwise each re-run the (possibly expensive) pair pipeline.
    # Self-pairs are dropped HERE so both paths agree: they carry no
    # connectivity information, and "Singletons are not emitted" must
    # hold regardless of which side of the CC_LOCAL_MAX_EDGES gate runs.
    spark = pairs.sparkSession
    src = pairs.select("id_a", "id_b").filter(F.col("id_a") != F.col("id_b"))
    with M.held(src) as pairs:
        local = pairs.limit(CC_LOCAL_MAX_EDGES + 1).count() <= CC_LOCAL_MAX_EDGES
        if local:
            rows = pairs.collect()
        else:
            # canonical (hi, lo) undirected edge list
            edges, converged = _star_contract(
                pairs.select(
                    F.greatest("id_a", "id_b").alias("hi"),
                    F.least("id_a", "id_b").alias("lo"),
                ).distinct(),
                max_iter,
            )
    if local:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                # union by min so the root IS the cluster id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = sorted((node, find(node)) for node in parent)
        return spark.createDataFrame(
            out or [(None, None)], schema="doc_id bigint, cluster_id bigint"
        ).filter("doc_id is not null")
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: large-star/small-star did not reach a "
            f"fixed point in {max_iter} rounds — cluster ids may be "
            f"unmerged supersets",
            RuntimeWarning,
            stacklevel=2,
        )
    # At the fixed point every edge is (member, component_min) and the
    # min-of-groups / anti-join below are no-ops on top of it. In the
    # degraded non-converged case they still guarantee the output
    # contract: EXACTLY ONE label per node (the smallest seen — a
    # possibly-unmerged superset clustering, as the warning states),
    # never the same doc under two conflicting cluster ids.
    members = edges.groupBy("hi").agg(F.min("lo").alias("cluster_id"))
    roots = (
        edges.select("lo")
        .distinct()
        .join(members, F.col("lo") == F.col("hi"), "left_anti")
        .select(F.col("lo").alias("doc_id"), F.col("lo").alias("cluster_id"))
    )
    return members.select(F.col("hi").alias("doc_id"), "cluster_id").union(roots)


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens: bit j = sign of Σ_tokens (±1 per
    token's md5-derived bit j). Deterministic and portable (md5-based)."""
    from lakeside_spark.functions.text import words

    # drop the bogus '' token an empty/whitespace-only doc produces
    # (words('') = ['']): such docs carry no signal and must not receive
    # a simhash — the brute-force DuckDB oracle filters the same way
    toks = (
        _parallelize(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(words(text_col))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = toks.withColumn("h", md5_long(F.col("tok")))
    # simhash bit j = (Σ_tokens ±1 for bit j of the token hash) > 0,
    # equivalently: more set than unset ⟺ 2·(#set) > n_tokens. The 60
    # bit tallies are statically unrolled sum aggregates: ONE doc-keyed
    # map-side-combined shuffle, whole-stage codegen end to end. (Both a
    # (doc, bit) explode — 60× the shuffle rows through two aggregations
    # — and an array-HOF tally — interpreted, not codegen — measured
    # slower at sf0.1.)
    hs = h.groupBy("doc_id").agg(
        F.count("*").alias("nt"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(
                f"s{j}"
            )
            for j in range(60)
        ],
    )
    word = reduce(
        Column.__add__,
        [
            F.when(
                F.col(f"s{j}") * 2 > F.col("nt"), F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for j in range(60)
        ],
    )
    return hs.select("doc_id", word.alias("simhash"))


def hamming_pairs(
    hashes: DataFrame,
    max_hamming: int,
    bits: int,
    hash_col: str = "simhash",
    id_col: str = "doc_id",
    allow_quadratic: bool = False,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs within ``max_hamming`` over an
    ``(<id_col>, <hash_col>)`` frame of ``bits``-bit signatures. Exact
    (recall 1) — shared by text SimHash and image pHash dedup.

    Candidate generation by pigeonhole banding: split the signature into
    max_hamming+1 chunks — a pair within the hamming budget must agree
    on at least one whole chunk, so an equi-join on (chunk_idx,
    chunk_value) finds every qualifying pair, then exact hamming
    verifies. This is the multi-index-hashing scale path: the only
    shuffle is the chunk join, and a chunk key touches n/2^bits of the
    corpus. When chunks get narrower than 8 bits (large max_hamming
    relative to the signature width) banding stops pruning — at that
    point the threshold itself is the problem, not the algorithm. That
    budget is a HARD ERROR unless ``allow_quadratic=True`` explicitly
    opts into the O(n²) all-pairs join (tolerable only on a corpus known
    to be small): at corpus scale the caller must tighten the budget (so
    bits // (max_hamming+1) >= 8) or widen the signature.
    """
    # checkpointed: the self-join below references this frame on BOTH
    # sides, and without it the whole upstream signature subtree (often a
    # Python fingerprint kernel — simhash md5 tally, image pHash DCT,
    # audio FFT) is duplicated per side. Two thin columns (id + one
    # int64), so the blocks are corpus-count × ~16B.
    sh = M.checkpointed(
        hashes.select(F.col(id_col).alias("doc_id"), F.col(hash_col).alias("__h"))
    )
    bands = max_hamming + 1
    band_bits = bits // bands
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    if band_bits >= 8:
        # chunk i covers bits [i*band_bits, ...); the last chunk absorbs the
        # remainder (any full partition of the bits preserves the pigeonhole)
        def chunk(col: F.Column, i: int) -> F.Column:
            lo = i * band_bits
            width = bits - lo if i == bands - 1 else band_bits
            mask = (1 << width) - 1
            return F.shiftright(col, lo).bitwiseAND(F.lit(mask))

        keyed = sh.select(
            "doc_id",
            F.col("__h"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("band"), chunk(F.col("__h"), i).alias("key")
                    )
                    for i in range(bands)
                ])
            ).alias("bk"),
        ).select("doc_id", "__h", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        a = keyed.select(
            F.col("doc_id").alias("id_a"), F.col("__h").alias("ha"), "band", "key"
        )
        b = keyed.select(
            F.col("doc_id").alias("id_b"), F.col("__h").alias("hb"), "band", "key"
        )
        # first-matching-band dedup: a pair agreeing on several bands
        # would surface once per band; instead of a distinct() SHUFFLE
        # over the candidate set (the dominant cost on self-similar
        # corpora — 1.35M candidates at sf0.1), keep a candidate only in
        # its FIRST matching band: for every earlier band j the chunks
        # must differ. Pure codegen per candidate row, zero extra shuffle.
        first_band = reduce(
            Column.__and__,
            [
                (F.col("band") <= F.lit(j))
                | (chunk(F.col("ha"), j) != chunk(F.col("hb"), j))
                for j in range(bands - 1)
            ],
            F.lit(True),  # bands == 1 (max_hamming=0): single band, no dup
        )
        cand = (
            a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(first_band)
            .select("id_a", "id_b", "ha", "hb")
        )
        return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
            F.col("hamming") <= max_hamming
        )
    if not allow_quadratic:
        raise ValueError(
            f"hamming_pairs: max_hamming={max_hamming} on a {bits}-bit "
            f"signature leaves {band_bits}-bit bands (<8): pigeonhole "
            "banding cannot prune, so the only plan is the O(n²) all-pairs "
            "join. Tighten the budget so bits // (max_hamming+1) >= 8, "
            "widen the signature, or pass allow_quadratic=True to opt into "
            "the all-pairs join on a corpus known to be small."
        )
    import warnings

    warnings.warn(
        f"hamming_pairs: max_hamming={max_hamming} on a {bits}-bit signature "
        f"leaves {band_bits}-bit bands (<8): running the explicitly requested "
        "O(n²) all-pairs join (allow_quadratic=True).",
        stacklevel=2,
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("__h").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("__h").alias("hb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    allow_quadratic: bool = False,
    **kw,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming over the 60-bit
    text SimHash. Exact (recall 1) — see hamming_pairs for the banding.

    Default budget is 6: 60 // 7 = 8-bit bands, the minimum banding_pairs
    accepts without the O(n²) escape hatch. A wider budget needs
    ``allow_quadratic=True`` (forwarded to hamming_pairs), which is only
    sane on a corpus known to be small (e.g. a ground-truth comparison)."""
    return hamming_pairs(
        simhash64(docs, **kw),
        max_hamming,
        bits=60,
        allow_quadratic=allow_quadratic,
    )


def simhash_best_match(
    docs: DataFrame,
    max_hamming: int = 6,
    allow_quadratic: bool = False,
    **kw,
) -> DataFrame:
    """Each doc's BEST simhash near-dup (min hamming, min partner id) —
    the bounded form a dedup pipeline consumes: on a self-similar corpus
    the raw within-budget pair list grows quadratically (1.35M pairs on
    the 5k-doc sf0.1 panel), while this output is ≤ one row per doc at
    any corpus similarity.

    Scale shape: exact-duplicate groups (identical 60-bit simhash) are
    resolved FIRST with one window over the hash — their best match is a
    hamming-0 sibling, no join needed — and only one representative per
    distinct hash enters the banded hamming join (the standard
    exact-dedup-before-near-dup pipeline split). Cross-group results map
    back to members through their group key; every member of a group
    shares its rep's hamming to other groups (identical hash), and the
    min-id tiebreak over a matched group is exactly its rep (the group
    min), so the output equals the naive per-doc min over the full pair
    list — verified by the parity pytest."""
    sh = simhash64(docs, **kw)
    w = Window.partitionBy("simhash")
    del kw  # everything below uses sh; allow_quadratic forwards explicitly
    annotated = (
        sh.withColumn("__mn", F.min("doc_id").over(w))
        .withColumn("__sz", F.count(F.lit(1)).over(w))
        .withColumn(
            "__mn2",
            F.min(
                F.when(F.col("doc_id") != F.col("__mn"), F.col("doc_id"))
            ).over(w),
        )
    )
    # cross-group candidates: banded hamming join over one rep per hash
    reps = annotated.filter(F.col("doc_id") == F.col("__mn")).select(
        "doc_id", "simhash"
    )
    rp = hamming_pairs(reps, max_hamming, bits=60, allow_quadratic=allow_quadratic)
    rep_best = (
        rp.select(
            F.col("id_a").alias("rep"),
            F.struct("hamming", F.col("id_b").alias("match_id")).alias("m"),
        )
        .unionByName(
            rp.select(
                F.col("id_b").alias("rep"),
                F.struct("hamming", F.col("id_a").alias("match_id")).alias("m"),
            )
        )
        .groupBy("rep")
        .agg(F.min("m").alias("cross"))
    )
    joined = annotated.join(
        rep_best, annotated["__mn"] == rep_best["rep"], "left"
    )
    # in-group best: hamming 0 to the min sibling (rep for members, the
    # second-smallest id for the rep itself); NULL for singletons
    sibling = F.when(
        F.col("__sz") >= 2,
        F.when(F.col("doc_id") == F.col("__mn"), F.col("__mn2")).otherwise(
            F.col("__mn")
        ),
    )
    in_group = F.when(
        sibling.isNotNull(),
        F.struct(
            F.lit(0).cast(rp.schema["hamming"].dataType).alias("hamming"),
            sibling.alias("match_id"),
        ),
    )
    best = F.least(in_group, F.col("cross"))
    return (
        joined.select("doc_id", best.alias("m"))
        .filter(F.col("m").isNotNull())
        .select(
            "doc_id",
            F.col("m.match_id").alias("match_id"),
            F.col("m.hamming").alias("hamming"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """n-gram CONTAINMENT pairs: containment(a,b) =
    |A∩B| / min(|A|, |B|) ≥ threshold (id_a < id_b).

    The asymmetric complement to Jaccard: a short document quoted
    wholesale inside a long one has tiny Jaccard (the union is huge) but
    containment ~1 — the doc-inside-doc duplication Jaccard structurally
    misses (Broder 1997 distinguishes resemblance from containment for
    exactly this case).

    Exact at any size ratio: pairs come from _shingle_pair_counts (the
    sparse Gram kernel up to GRAM_KERNEL_MAX_NNZ shingle rows, the
    shingle self-join above), whose cost is Σ df² — quadratic in the
    duplicate mass on a boilerplate-heavy corpus. A frequency-ordered
    prefix filter (Chaudhuri/Ganti/Kaushik, ICDE 2006) was measured
    slower than this exact path on 1× and 10× sf0.1 replicas (4 cores),
    so there is no second path. Shingle rows are held for the call and
    the pair-sized result is checkpointed.
    """
    with M.held(_shingled_rows(docs, text_col, id_col, n)) as ex:
        counts = _shingle_pair_counts(ex, threshold, "containment")
        return M.checkpointed(
            counts.select(
                "id_a",
                "id_b",
                "n_common",
                F.round(_measure("containment"), 6).alias("containment"),
            )
        )
