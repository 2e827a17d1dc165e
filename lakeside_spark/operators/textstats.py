"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Every function is a pure Column-expression pipeline (codegen'd) designed to
be cross-engine deterministic: regex patterns restricted to RE2∩Java syntax,
hashes md5-based, ratios single-division doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeside_spark.functions.text import normalized, shingles, words

# marker stopwords per language; priority order breaks score ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "die", "nicht"),
    "es": ("el", "la", "que", "los"),
    "fr": ("le", "et", "les", "une"),
}

# BPE-ish tokenizer: letter runs | digit runs | single non-space symbol
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_EN_STOPWORDS = ("the", "and", "of", "is", "a", "to", "in")


def _marker_count(text_col: str, markers: tuple[str, ...]) -> F.Column:
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(normalized(text_col), F.lit(pattern)).cast("long")


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of marker-word hits, 'und' when no
    marker occurs. Tie-break = LANG_MARKERS declaration order."""
    out = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"c_{lang}", _marker_count(text_col, markers))
    score_cols = [F.col(f"c_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*score_cols)
    guess = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:
        guess = guess.when(F.col(f"c_{lang}") == best, F.lit(lang))
    return out.select(
        "doc_id", guess.alias("lang_guess"), *[f"c_{lang}" for lang in LANG_MARKERS]
    )


def quality_expr(text_col: str = "text") -> Column:
    """The rounded quality score as a plain Column, so gate pipelines can
    filter on it inline (pure codegen predicate at the scan) instead of
    semi-joining against a quality_score() projection."""
    w = words(text_col)
    n_chars = F.length(F.col(text_col)).cast("double")
    n_words = F.size(w).cast("double")
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).cast("double")
    stops = _marker_count(text_col, _EN_STOPWORDS).cast("double")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stops / F.greatest(n_words, F.lit(1.0))
    return F.round(
        F.least(n_words / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - punct_ratio) * 0.3,
        6,
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length/punctuation/stopword heuristic quality features + score.

    score = 0.4·min(words/100,1) + 0.3·stop_ratio·5 (cap 0.3) + 0.3·(1-punct_ratio)
    """
    w = words(text_col)
    n_chars = F.length(F.col(text_col)).cast("double")
    n_words = F.size(w).cast("double")
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).cast("double")
    stops = _marker_count(text_col, _EN_STOPWORDS).cast("double")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stops / F.greatest(n_words, F.lit(1.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_expr(text_col).alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words(text_col)).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("long").alias("bpe_tokens"),
    )


def fingerprints(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact identity) + the
    minimum md5 over char-level rolling n-gram windows (winnowing-style
    robust fingerprint; reference analog: Commons.computeFingerprint's
    field:trigram hashing).

    Arrow kernel, not a transform() Column: the per-window md5 lambda is
    interpreted JVM-side (~0.2 ms/doc at 300 windows); one hashlib pass
    per batch is ~3× faster and byte-identical (md5 hex of ASCII
    windows)."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from lakeside_spark.operators.dedup import _parallelize
    from lakeside_spark.operators.repetition import _normalize_py

    src = _parallelize(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content, rolling = [], []
            for text in pdf["text"]:
                norm = _normalize_py(text)
                b = norm.encode()
                content.append(hashlib.md5(b).hexdigest())
                rolling.append(
                    min(
                        hashlib.md5(b[i : i + n]).hexdigest()
                        for i in range(max(len(b) - n + 1, 1))
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "content_fp": content,
                    "rolling_fp": rolling,
                }
            )

    return src.mapInPandas(
        kernel, schema="doc_id long, content_fp string, rolling_fp string"
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document rare-n-gram ratio — the diversity/selection signal a
    mixture planner uses to up-weight novel content and down-weight
    templated boilerplate: ``novelty`` = fraction of a doc's distinct
    word n-grams whose corpus document-frequency is ≤ ``max_df``.

    Scale shape: shingles are built array-side (codegen, ONE Generate
    branch — both per-doc counts are recovered from the exploded stream,
    so the shingle expression is never recomputed for a second scan, and
    the scan is pre-spread across cores because the distinct-building
    codegen is the dominant cost, not I/O); one map-side-combined count
    shuffle produces the n-gram DF table, which is immediately pruned to
    the COMMON set (df > max_df) — the bounded side at scale (common
    n-grams are the head of the Zipf curve; the unbounded rare tail
    never ships anywhere). Scoring marks each shingle against that
    common set with a broadcast-shaped left join plus one per-doc
    aggregation; novel = total - common hits.

    Output: (doc_id, n_ngrams, novel_ngrams, novelty) for every doc
    with a non-null text.
    """
    # NULL text would collapse to a bogus '' shingle via concat_ws; drop
    # such docs, matching the oracle's unnest (which yields no rows for a
    # NULL split) and the documented "every doc with a non-null text"
    src = _parallelize_sized(
        docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
        ),
        bytes_per_task=64 << 10,
    )
    # materialized once at the per-doc shingle-ARRAY grain (eager
    # localCheckpoint): the exploded stream has two consumers (the
    # DF-count shuffle and the scoring join), and without it each re-runs
    # the shingle-building codegen — the dominant cost — from the scan.
    # Re-exploding the array is cheap; blocks ≈ corpus text sized, spill
    # to disk, and are context-cleaned once the result frame is dropped
    # (persist leaked a CacheManager entry per call, r13).
    arrs = src.select(
        "doc_id", shingles("__t", n).alias("__ngs")
    ).localCheckpoint(eager=True)
    pairs = arrs.select("doc_id", F.explode("__ngs").alias("ng"))
    common = (
        pairs.groupBy("ng")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("ng", F.lit(1).alias("__hit"))
    )
    per_doc = (
        pairs.join(common, "ng", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("__nc"),
        )
    )
    total = F.col("n_ngrams")
    novel = total - F.col("__nc")
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        novel.alias("novel_ngrams"),
        F.round(novel / total, 6).alias("novelty"),
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    gibberish / keyboard-mash / repeated-char quality gate (low entropy =
    repetitive padding, implausibly high = random bytes; used alongside
    the Gopher/C4 heuristics in published curation pipelines).

    Entirely array-side codegen, zero shuffle: chars = split(text, ''),
    per-distinct-char counts via a nested filter (cost is O(distinct ×
    len) per doc — bounded by the charset, not the corpus), and the
    entropy terms k·ln(k/n) snapped to 1e-9 fixed point and summed as
    integers so the per-doc result is order-independent and
    oracle-exact. Output: (doc_id, n_chars, distinct_chars, entropy).
    """
    # split('', '') is [''] in Spark (one bogus empty "char"), so gate on
    # text length — mirroring the oracle's len(text) > 0 — not array size.
    # Pre-spread the scan: the per-doc distinct×len counting codegen is
    # the dominant cost, not I/O, so a single-split file must not pin
    # the whole corpus to one core.
    raw = _parallelize_sized(
        docs.filter(F.length(text_col) > 0).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
        ),
        bytes_per_task=64 << 10,
    )
    src = raw.select("doc_id", F.split("__t", "").alias("cs"))
    n_d = F.size("cs").cast("double")
    counts = F.transform(
        F.array_distinct("cs"),
        lambda c: F.size(F.filter(F.col("cs"), lambda x: x == c)),
    )
    terms = F.transform(
        counts,
        lambda k: F.round(
            k.cast("double") * F.log(k.cast("double") / n_d) * 1e9
        ).cast("long"),
    )
    tsum = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, t: acc + t
    )
    return src.select(
        "doc_id",
        F.size("cs").cast("long").alias("n_chars"),
        F.size(F.array_distinct("cs")).cast("long").alias("distinct_chars"),
        F.round(-tsum / (n_d * 1e9), 6).alias("entropy"),
    )


def unigram_nll(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM — the CCNet-style perplexity quality signal (Wenzek et al.
    2020 score against a reference LM; self-trained here so the operator
    is closed over its input).

    Scale shape: one shuffle builds the vocabulary (map-side combined,
    vocabulary-sized result), the corpus total rides in via a broadcast
    single-row cross join, and scoring is an explode + broadcast hash
    join + one aggregation. Per-word log-probs are snapped to 1e-9 and
    summed as exact integers so the per-doc mean is order-independent
    (double sums are not, and the oracle compares 6 decimals).

    Output: (doc_id, n_words, nll, ppl) for every doc with ≥1 word.
    """
    wds = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(text_col)).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    vocab = wds.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("__total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "w",
        F.round(F.log(F.col("cnt") / F.col("__total")) * 1e9)
        .cast("long")
        .alias("lp9"),
    )
    scored = wds.join(F.broadcast(lp), "w")
    nll = -F.sum("lp9") / (F.count("*") * 1e9)
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(nll, 6).alias("nll"),
        F.round(F.exp(F.round(nll, 6)), 6).alias("ppl"),
    )


def bigram_nll(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
    min_count: int = 1,
) -> DataFrame:
    """Per-document mean NLL under a self-trained interpolated bigram LM —
    the step up from :func:`unigram_nll` toward the CCNet/KenLM-style
    perplexity filter (Wenzek et al. 2020): word order now matters, so
    shuffled or templated word salad scores worse than fluent prose with
    the same unigram profile.

    Model: ``p(w|prev) = lam * (c(prev,w)+alpha)/(c(prev)+alpha*V)
    + (1-lam) * c(w)/T`` (add-alpha bigram interpolated with the corpus
    unigram); a document's first token is scored by the unigram term
    alone. Per-token log-probs are snapped to 1e-9 fixed point and summed
    as exact integers (order-independent, oracle-exact).

    Scale shape: tokens and bigram pairs are built array-side
    (filter/slice/zip_with — all codegen, one Generate each); three
    map-side-combined count shuffles (unigram, bigram, context — the
    latter two from the same pairs scan); scoring joins the pairs stream
    to the bigram table on (prev, w) — left join so ``min_count`` pruning
    (the 100-TB knob: drop singleton bigrams and the model table becomes
    broadcast-sized; unseen bigrams fall back to the alpha floor) never
    loses rows — with vocabulary-sized ctx/uni broadcasts and a single-row
    totals broadcast. AQE converts the bigram join to broadcast at runtime
    when the model table is small.

    Output: (doc_id, n_words, nll, ppl) for every doc with ≥1 word.
    """
    raw = _parallelize_sized(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        bytes_per_task=64 << 10,
    )
    ws = F.filter(words("__t"), lambda w: w.isNotNull() & (w != F.lit("")))
    # materialized once (eager localCheckpoint): five consumers below
    # (firsts x2, pairs-derived uni/big/ctx/scoring) would each re-run
    # the regexp tokenize — the dominant per-task cost — where
    # re-exploding the token array is cheap. Token-array-sized (≈ corpus
    # text), spills to disk; context-cleaned once the result frame is
    # dropped (persist leaked a CacheManager entry per call, r13).
    seqs = (
        raw.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
        .localCheckpoint(eager=True)
    )
    firsts = seqs.select(
        "doc_id", F.try_element_at("ws", F.lit(1)).alias("w")
    )
    pairs = seqs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("w")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.prev", "bg.w")

    toks = firsts.unionByName(pairs.select("doc_id", "w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("cu"))
    stats = uni.agg(F.sum("cu").alias("__t"), F.count("*").alias("__v"))
    big = pairs.groupBy("prev", "w").agg(F.count("*").alias("cb"))
    if min_count > 1:
        big = big.filter(F.col("cb") >= min_count)
    ctx = pairs.groupBy("prev").agg(F.count("*").alias("cp"))

    lp9_first = (
        F.round(F.log(F.col("cu") / F.col("__t")) * 1e9)
        .cast("long")
        .alias("lp9")
    )
    f_sc = (
        firsts.join(F.broadcast(uni), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", lp9_first)
    )
    p_interp = F.lit(lam) * (
        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(alpha))
        / (F.col("cp") + F.lit(alpha) * F.col("__v"))
    ) + F.lit(1.0 - lam) * (F.col("cu") / F.col("__t"))
    p_sc = (
        pairs.join(big, ["prev", "w"], "left")
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(uni), "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(F.log(p_interp) * 1e9).cast("long").alias("lp9"),
        )
    )
    nll = -F.sum("lp9") / (F.count("*") * 1e9)
    return f_sc.unionByName(p_sc).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(nll, 6).alias("nll"),
        F.round(F.exp(F.round(nll, 6)), 6).alias("ppl"),
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """DEFLATE compression ratio as a text-quality signal: highly
    repetitive or templated documents compress far below natural prose
    (the RefinedWeb/MassiveText-family "compressibility" heuristic —
    boilerplate and spam sit at the low-ratio tail, random noise near
    1.0; a useful complement to the Gopher n-gram repetition fractions
    which only see word-level structure).

    Output: ``(doc_id, n_bytes, zlib_ratio)`` with ``zlib_ratio =
    compressed_size / raw_size`` (level 6, raw UTF-8), rounded to 6.

    Scale shape: an Arrow-batched ``mapInPandas`` kernel — zero
    shuffles, embarrassingly parallel; zlib is C-speed so the kernel is
    I/O-bound like the other map-only curation signals. No oracle:
    DuckDB has no DEFLATE scalar, so correctness is pinned by pytest
    invariants (determinism, bounds, repetitive < diverse ordering).
    """
    import zlib

    from collections.abc import Iterator as _Iter

    import pandas as pd

    def _kernel(batches: _Iter["pd.DataFrame"]) -> _Iter["pd.DataFrame"]:
        for pdf in batches:
            raw = [
                (t or "").encode("utf-8", errors="replace")
                for t in pdf[text_col]
            ]
            n = [len(b) for b in raw]
            ratio = [
                round(len(zlib.compress(b, 6)) / len(b), 6) if len(b) else None
                for b in raw
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pd.Series(n, dtype="int64"),
                    "zlib_ratio": pd.Series(ratio, dtype="float64"),
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _kernel, schema="doc_id long, n_bytes long, zlib_ratio double"
    )


def _parallelize_sized(df: DataFrame, bytes_per_task: int = 4 << 20) -> DataFrame:
    """Size-aware variant of dedup._parallelize: spread an under-parallel
    scan to ~bytes_per_task-sized partitions, capped at defaultParallelism.
    The unconditional spread-to-all-cores gate is right for CPU-heavy
    per-doc kernels at real scale, but on a kilobyte-sized single-split
    input it fans out defaultParallelism Python workers to do ~ms of work
    each — pure scheduling overhead (measured ~0.3s of vocab_pmi's
    sub-second floor at sf0.1). When the input's file sizes are unknowable
    (non-file source) this degrades to the plain gate."""
    sc = df.sparkSession.sparkContext
    want = sc.defaultParallelism
    try:
        import os as _os

        files = df.inputFiles()
        if files:
            total = sum(
                _os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
                for f in files
            )
            want = max(1, min(want, -(-total // bytes_per_task)))
    except Exception:
        pass
    from lakeside_spark.operators.similarity import (
        _effective_input_parallelism,
    )

    if _effective_input_parallelism(df) >= want:
        return df
    return df.repartition(want)


def _pmi_count_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The lazy (a, b, c) unigram/bigram count table behind collocations —
    split out so plan tests can assert its physical shape (Arrow kernel fed
    by ≥defaultParallelism partitions, no interpreted transform() lambda).

    Row kinds after the single groupBy: (w, NULL, c_w) unigrams,
    (a, b, c_ab) bigrams, (NULL, NULL, N) the total-bigram sentinel."""
    import re
    from collections import Counter
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java/RE2 \s, not unicode \s
    src = _parallelize_sized(docs.select(F.col(text_col).alias("text")))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # mirrors functions/text.words() EXACTLY: trim strips ASCII SPACE
        # only (like Spark trim / DuckDB trim — so .strip(" "), NOT
        # .strip(), which also eats \t/\xa0/  and would diverge from
        # the oracle on e.g. tab-trailing docs), then lower, then collapse
        # Java-\s runs. Edge whitespace can therefore leave "" tokens;
        # they are excluded from unigram counts and from either side of a
        # bigram — but positions stay adjacent, matching the oracle's
        # unnest-then-filter. Counter.update stays in C. ONE partial per
        # task (not per Arrow batch): the counters are vocabulary-sized,
        # and a single yield keeps the shuffle input at tasks·vocab rows.
        uni: Counter = Counter()
        bg: Counter = Counter()
        for pdf in batches:
            for text in pdf["text"]:
                ws = ws_re.sub(" ", (text or "").strip(" ").lower()).split(" ")
                uni.update(w for w in ws if w)
                bg.update(p for p in zip(ws, ws[1:]) if p[0] and p[1])
        if uni:
            ua = list(uni.keys())
            bk = list(bg.keys())
            # sentinel (NULL, NULL, Σ bigrams): groupBy merges the per-task
            # partials into the exact corpus N — no separate agg job
            yield pd.DataFrame(
                {
                    "a": ua + [p[0] for p in bk] + [None],
                    "b": [None] * len(ua) + [p[1] for p in bk] + [None],
                    "c": np.fromiter(
                        list(uni.values()) + list(bg.values()) + [sum(bg.values())],
                        dtype=np.int64,
                        count=len(ua) + len(bk) + 1,
                    ),
                }
            )

    return (
        src.mapInPandas(kernel, schema="a string, b string, c long")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    driver_gate: int = 2_000_000,
) -> DataFrame:
    """Top-k word collocations by pointwise mutual information:
    PMI(a,b) = ln(c_ab · N / (c_a · c_b)) over adjacent word pairs —
    the standard phrase-mining signal (Church & Hanks 1990; word2vec's
    phrase pass uses the same count ratio) for building tokenizer merge
    seeds and phrase vocabularies from a corpus.

    Scale shape: ONE corpus pass — an Arrow kernel (modeled on
    dedup._shingled_rows; the round-5 interpreted-HOF transform() bigram
    explode was a 65× outlier) counts unigrams AND bigrams per batch and
    emits pre-aggregated (a, b, c) partials — unigram rows carry b=NULL —
    so the single shuffle moves batch-vocabulary-sized partials, not one
    row per token. The merged count table is persisted (it is
    vocabulary-sized, not corpus-sized), N derives from sum(c_ab) over
    the unfiltered bigram counts (no extra corpus pass), and the final
    top-k (k rows) is localized so the cache can be unpersisted before
    returning — no cache handle escapes. Counts are exact integers; each
    PMI is a single ln rounded to 6 (the c_a·c_b denominator multiplies
    in DOUBLE — at ~1e11-count stopwords a long product would wrap), so
    the oracle compare is safe (no float summation anywhere).

    Output: (a, b, c_ab, pmi) — the k highest-PMI pairs with
    c_ab ≥ min_count, ties broken lexicographically.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    counts = _pmi_count_table(docs, text_col).persist()
    spark = docs.sparkSession
    out_schema = "a string, b string, c_ab bigint, pmi double"
    try:
        # Fast path: the SCORED table is vocabulary-sized (bigram types
        # with c ≥ min_count), not corpus-sized — when it fits under the
        # gate, ONE take() both decides and delivers (unigrams, sentinel
        # and qualifying bigrams together) and the scoring + top-k run
        # driver-side. That makes the whole operator a single Spark job;
        # the second distributed job (Python-worker scoring pass +
        # sort-limit over ~1k rows) was pure scheduling latency — ~1s of
        # the key's 1.9s at sf0.1. Above the gate (web-scale bigram
        # vocabularies) the distributed path below keeps the exact same
        # expression shape.
        rel = counts.filter(F.col("b").isNull() | (F.col("c") >= min_count))
        rows = rel.take(driver_gate + 1)
        if len(rows) <= driver_gate:
            import math
            from decimal import ROUND_HALF_UP, Decimal

            n_bg = 0
            u: dict = {}
            bi = []
            for r in rows:
                if r["b"] is None:
                    if r["a"] is None:
                        n_bg = r["c"]
                    else:
                        u[r["a"]] = r["c"]
                else:
                    bi.append(r)
            if not u:
                return spark.createDataFrame([], schema=out_schema)
            n_ = float(n_bg)
            scored_rows = []
            for r in bi:
                # identical IEEE op order to the kernel/oracle:
                # (c_ab·N) / (c_a·c_b), one ln; round = Spark's BigDecimal
                # HALF_UP via Decimal(repr(·)) (np.round is half-even)
                pmi = math.log(
                    float(r["c"]) * n_ / (float(u[r["a"]]) * float(u[r["b"]]))
                )
                pmi6 = float(
                    Decimal(repr(pmi)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
                scored_rows.append((r["a"], r["b"], r["c"], pmi6))
            scored_rows.sort(key=lambda t: (-t[3], t[0], t[1]))
            return spark.createDataFrame(scored_rows[:k], schema=out_schema)
        # ONE collect materializes the cache and returns BOTH the sentinel
        # (N, the total-bigram normalizer the round-5 plan spent a third
        # corpus pass on) and the unigram table — which the scoring kernel
        # receives as a broadcast dict. Same size class as the previous
        # F.broadcast(uni) joins (a broadcast hint materializes on the
        # driver anyway), but two broadcast-exchange jobs cheaper: the key
        # is exactly two jobs — materialize+collect-uni, then score+top-k.
        uni_rows = counts.filter(F.col("b").isNull()).collect()
        n_bg = 0
        u: dict = {}
        for r in uni_rows:
            if r["a"] is None:
                n_bg = r["c"]
            else:
                u[r["a"]] = r["c"]
        if not u:
            return spark.createDataFrame(
                [], schema="a string, b string, c_ab bigint, pmi double"
            )
        bc = spark.sparkContext.broadcast((float(n_bg), u))

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            n_, u_ = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                ca = pdf["a"].map(u_).to_numpy(dtype=np.float64)
                cb = pdf["b"].map(u_).to_numpy(dtype=np.float64)
                cab = pdf["c"].to_numpy(dtype=np.float64)
                # same expression shape (and IEEE op order) as the oracle:
                # one ln of exact integer counts — rounding stays JVM-side
                # (F.round below) so round-half semantics match exactly
                pmi = np.log(cab * n_ / (ca * cb))
                yield pd.DataFrame(
                    {"a": pdf["a"], "b": pdf["b"], "c_ab": pdf["c"], "pmi": pmi}
                )

        scored = (
            counts.filter(F.col("b").isNotNull() & (F.col("c") >= min_count))
            .mapInPandas(score, schema="a string, b string, c_ab long, pmi double")
            .withColumn("pmi", F.round("pmi", 6))
        )
        top = scored.orderBy(F.col("pmi").desc(), "a", "b").limit(k).collect()
    finally:
        counts.unpersist()
    return spark.createDataFrame(
        top, schema="a string, b string, c_ab bigint, pmi double"
    )
