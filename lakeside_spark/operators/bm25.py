"""BM25 lexical retrieval over a document corpus.

The exact-match complement to the embedding ANN family
(operators/similarity.py): classic Okapi BM25 with the Lucene idf form
``ln(1 + (N - df + 0.5)/(df + 0.5))`` and the standard k1/b length
normalization — the scoring every search engine's lexical leg runs, and
the baseline half of the hybrid (BM25 + dense) retrieval that
training-data curation pipelines use for decontamination-by-retrieval
and hard-negative mining.

Spark-first shape, all JVM-side, with two parity-identical plans behind
an auto gate (see bm25_topk): the full-postings plan (one corpus
(doc, term) shuffle — fewest stages, fastest while that shuffle is
cheap) and the matched-postings plan for large corpora, which cuts the
token stream to query-term matches BEFORE any aggregation so the one
shuffle is |query terms| × their posting lists, never the corpus token
table. Partial scores are summed per (query, doc); top-k per query via
row_number over a (rounded score, doc id) ordering.

The rank orders by the 6-decimal ROUNDED score (ties broken by doc id)
so the ordering is reproducible across engines — raw-double ordering
would let a 1-ulp ln() difference flip equal-scored neighbors. Scale:
past the gate the shuffle is bounded by the matched postings, never
all-pairs; the reference's trigram index covers the same "find docs
containing these terms" need at segment granularity, this scores them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark.functions.text import words
from lakeside_spark.operators.similarity import _parallelize
from lakeside_spark.sources.footers import footer_row_count

#: bm25_topk takes the matched-postings plan above this many corpus docs
#: and the full-postings plan at or below it. Read at call time, so a test
#: forces either side by patching the module attribute.
SCALE_THRESHOLD = 1_000_000

#: The matched plan inlines up to this many distinct query terms as a
#: literal in-set; past it (or at 0) it falls back to a lazy broadcast
#: semi-join.
QTERM_INLINE_LIMIT = 20_000


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` corpus docs per query by BM25. Returns
    (q_id, doc_id, score, rank); score rounded to 6 decimals and rank
    assigned on the rounded value for cross-engine determinism.

    Two parity-identical plans behind an auto gate (the dedup-family
    pattern — pick by a metadata-only corpus count):

    - ``full`` (≤ ``SCALE_THRESHOLD`` docs): build the full (doc, term)
      tf table in one shuffle and resolve idf on the bounded query-term
      set. Fewest stages — fastest when the corpus shuffle is cheap.
    - ``matched`` (above the gate): everything the score needs is
      either per-QUERY-term (tf, df) or corpus-scalar (n_docs, avgdl),
      so the token stream is cut to query-term matches BEFORE any
      aggregation — the one shuffle is |query terms| × their posting
      lists, never the corpus token table, and doc length rides along
      inline (no corpus-sized doclen join). The panel-bounded query
      terms and the two stat scalars resolve as a concurrent two-job
      driver prologue (falling back to a lazy broadcast semi-join past
      ``QTERM_INLINE_LIMIT`` terms). At 100 TB this is the only viable
      shape: shuffling every token to score five queries is not.
    """
    if _gate_count(corpus) > SCALE_THRESHOLD:
        scored = _bm25_scored_matched(corpus, queries, k1, b, text_col, id_col)
    else:
        scored = _bm25_scored_full(corpus, queries, k1, b, text_col, id_col)
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "doc_id", "score", "rank")
    )


def _gate_count(corpus: DataFrame) -> int:
    """Corpus row count for the full/matched gate: parquet footers when the
    plan is a bare file scan (no Spark job), else ``count()``."""
    n = footer_row_count(corpus)
    return corpus.count() if n is None else n


def _qterms(queries: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        queries.select(
            F.col(id_col).alias("q_id"), F.explode(words(text_col)).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )


def _bm25_scored_full(
    corpus: DataFrame,
    queries: DataFrame,
    k1: float,
    b: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(q_id, doc_id, score): full-postings plan — one corpus (doc,
    term) shuffle, vocabulary df off it, idf resolved on the bounded
    query-term set (broadcast qterms into the df table, never the
    reverse).

    The per-doc token ARRAY is checkpointed once and everything downstream derives from it (tf/df re-explode the
    arrays; doclen is the array size; stats come off doclen) — so the
    regexp tokenize, the dominant per-task cost, runs exactly once where
    the former shape re-tokenized the corpus four times (tf, df, per-doc
    dl, avgdl were four separate scans; the hoped-for ReusedExchange
    never fired because the df subtree aggregates without counts). The
    array grain is deliberate: caching the aggregated tf table instead
    serializes the broadcast job behind a full postings materialization
    (measured 1.2→2.0s at sf0.1), while re-exploding a cached array is
    cheap. Bounded by the full-plan gate (≤ SCALE_THRESHOLD docs; the
    matched plan covers large corpora)."""
    # under-parallel gate, same as the matched plan: a single-file
    # corpus is ONE split and pins the codegen tokenize/explode to one
    # core (the r8 probe bug class)
    corpus = _parallelize(corpus, bytes_per_task=4 << 20)
    w = words(text_col)
    toks = M.checkpointed(
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.filter(w, lambda x: x != F.lit("")).alias("ws"),
        )
    )
    qt = _qterms(queries, text_col, id_col)
    # cut the exploded token stream to QUERY terms before the (doc, term)
    # shuffle (r13): a query term's df is its full posting-list doc count,
    # which survives the cut intact, and every non-query term's tf/df row
    # was dropped by the q_scored_terms join below anyway — so the
    # exchange carries |query terms| × their postings instead of the
    # whole corpus token table, and the df aggregation runs over query
    # terms instead of the full vocabulary. Results are bit-identical
    # (full-vs-matched parity pytest covers this plan); n_docs/avgdl
    # still come from the uncut doclen. This is the matched plan's cut
    # applied WITH the shared tokenize checkpoint (matched itself
    # tokenizes twice — measured slower at bench scale).
    tf = (
        toks.select("doc_id", F.explode("ws").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doclen = toks.select(
        "doc_id", F.size("ws").cast("long").alias("dl")
    ).filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q_scored_terms = (
        df_t.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .select("q_id", "term", "idf", "avgdl")
    )
    return (
        tf.join(F.broadcast(q_scored_terms), "term")
        .join(doclen, "doc_id")
        .withColumn(
            "part",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("q_id", "doc_id")
        .agg(
            # each part snapped to 1e-9 fixed-point and summed as
            # exact longs: shuffle-order summation near a 0.5e-6
            # boundary can never flip the 6-dp rounded score (the
            # bigram_nll/pagerank integer-sum pattern); parts are
            # nonnegative, so HALF_UP == DuckDB half-away
            F.round(
                F.sum(F.round(F.col("part") * 1e9).cast("long")) / 1e9, 6
            ).alias("score")
        )
    )


def _bm25_scored_matched(
    corpus: DataFrame,
    queries: DataFrame,
    k1: float,
    b: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(q_id, doc_id, score): matched-postings plan — the corpus token
    stream is cut to query-term matches BEFORE any aggregation, so the
    one shuffle is the matched postings, never the full token table."""
    spark = corpus.sparkSession
    # under-parallel gate, same as the full plan: a single-file corpus
    # is ONE split and pins the codegen tokenize/explode to one core
    corpus = _parallelize(corpus, bytes_per_task=4 << 20)
    qterms = _qterms(queries, text_col, id_col)
    w = words(text_col)
    doclen = corpus.select(
        F.size(F.filter(w, lambda x: x != F.lit(""))).cast("long").alias("dl"),
    ).filter(F.col("dl") > 0)
    stats_df = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # The query-term set is panel-bounded (like the query matrices
    # cosine_topk collects) and the corpus stats are two scalars:
    # resolve both eagerly — as CONCURRENT driver jobs — so the
    # postings filter becomes a literal in-set at the scan, the
    # (q_id, term) table a local relation, and n_docs/avgdl literals.
    # Past the gate (huge programmatic query sets) everything falls
    # back to the fully lazy distributed broadcast semi-join.
    term_filter = n_docs = avgdl = None
    if QTERM_INLINE_LIMIT:
        # the pool's jobs carry the caller's job description, local
        # properties and tags
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(2) as ex:
            fq = ex.submit(inherit(qterms.limit(QTERM_INLINE_LIMIT + 1).collect))
            fs = ex.submit(inherit(stats_df.collect))
            q_rows, stats_rows = fq.result(), fs.result()
        if len(q_rows) <= QTERM_INLINE_LIMIT:
            n_docs = stats_rows[0]["n_docs"]
            avgdl = stats_rows[0]["avgdl"]
            if not q_rows or not n_docs:
                return spark.createDataFrame(
                    [], "q_id long, doc_id long, score double"
                )
            qterms = spark.createDataFrame(q_rows, schema=qterms.schema)
            term_filter = F.col("term").isin([r["term"] for r in q_rows])
    # dl MUST be computed in its own projection BELOW the explode: the
    # analyzer puts non-generator expressions of a generator select
    # ABOVE the Generate, which would re-run the split + size HOF once
    # per TOKEN row instead of once per doc (measured 10x on the key)
    tok = (
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.filter(w, lambda x: x != F.lit(""))).cast("long").alias("dl"),
            w.alias("__ws"),
        )
        .select("doc_id", "dl", F.explode("__ws").alias("term"))
        .filter(F.col("term") != "")
    )
    matched = (
        tok.filter(term_filter)
        if term_filter is not None
        else tok.join(F.broadcast(qterms.select("term").distinct()), "term")
    )
    tf = matched.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    # df restricted to query terms equals the full-vocabulary df on
    # those terms — tf rows are unique (doc, term) pairs, so a window
    # count per term IS the document frequency, computed on the same
    # single postings pass (a term-keyed exchange of the small matched
    # table, instead of a groupBy whose broadcast join-back would
    # recompute the corpus pipeline unless runtime exchange reuse fires)
    tf = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    base = tf.join(F.broadcast(qterms), "term")
    if n_docs is not None:
        n_docs_e, avgdl_e = F.lit(n_docs), F.lit(avgdl)
    else:
        base = base.crossJoin(F.broadcast(stats_df))
        n_docs_e, avgdl_e = F.col("n_docs"), F.col("avgdl")
    return (
        base.withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (n_docs_e - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl_e)
            ),
        )
        .groupBy("q_id", "doc_id")
        .agg(
            # each part snapped to 1e-9 fixed-point and summed as
            # exact longs: shuffle-order summation near a 0.5e-6
            # boundary can never flip the 6-dp rounded score (the
            # bigram_nll/pagerank integer-sum pattern); parts are
            # nonnegative, so HALF_UP == DuckDB half-away
            F.round(
                F.sum(F.round(F.col("part") * 1e9).cast("long")) / 1e9, 6
            ).alias("score")
        )
    )


def _half_up(x: float, nd: int) -> float:
    """Round half-up (positive domain) — Python round() is banker's,
    Spark F.round / DuckDB ROUND are half-up/half-away; all three agree
    only under this spelling."""
    import math

    s = 10.0**nd
    return math.floor(x * s + 0.5) / s


def _rrf_fuse(
    cs_rows, bm_rows, k: int, k0: int
) -> dict:
    """Reciprocal-rank fusion of two collected leg pools: q_id ->
    top-``k`` list of (doc_id, rrf), ranked by (rrf desc, doc_id).

    Leg ranks re-rank each pool on its 6-decimal ROUNDED score with the
    id tiebreak (bm25's rank already is; the cosine pool was cut on the
    raw ordering and carries the rounded cos), so the integer ranks —
    and the fused sum of two exact reciprocals, rounded half-up — are
    engine-independent."""
    by_q: dict = {}
    for r in cs_rows:
        by_q.setdefault(r["q_id"], []).append(r)
    r_dense = {
        q: {
            r["n_id"]: i + 1
            for i, r in enumerate(
                sorted(rows, key=lambda r: (-r["cos"], r["n_id"]))
            )
        }
        for q, rows in by_q.items()
    }
    r_lex: dict = {}
    for r in bm_rows:
        r_lex.setdefault(r["q_id"], {})[r["doc_id"]] = r["rank"]
    fused = {}
    for q in sorted(set(r_lex) | set(r_dense)):
        lex, den = r_lex.get(q, {}), r_dense.get(q, {})
        scored = sorted(
            (
                (
                    -_half_up(
                        (1.0 / (k0 + lex[d]) if d in lex else 0.0)
                        + (1.0 / (k0 + den[d]) if d in den else 0.0),
                        6,
                    ),
                    d,
                )
                for d in set(lex) | set(den)
            )
        )
        fused[q] = [(d, -neg) for neg, d in scored[:k]]
    return fused


def _leg_pools(
    docs: DataFrame, emb: DataFrame, query_ids_below: int, pool: int
):
    """Collect both legs' top-``pool`` tables as concurrent driver jobs
    (the §2.6 overlap: the bm25 leg's stragglers back-fill with cosine
    tasks and vice versa). Computed fresh per call (r13): the r9-era
    session memo keyed on the input plans served hybrid_rrf_topk's
    collected pools to retrieval_eval — and to the bench's second timed
    iteration of either key — so neither key's reported time was its own
    cost."""
    from lakeside_spark.operators.similarity import cosine_topk

    def cs():
        return cosine_topk(
            emb.filter(F.col("vec_id") >= query_ids_below),
            emb.filter(F.col("vec_id") < query_ids_below),
            k=pool,
        ).collect()

    def bm():
        return bm25_topk(
            docs.filter(F.col("doc_id") >= query_ids_below),
            docs.filter(F.col("doc_id") < query_ids_below),
            k=pool,
        ).collect()

    with ThreadPoolExecutor(2) as ex:
        # the pool's jobs carry the caller's job description, local
        # properties and tags
        inherit = inheritable_thread_target(docs.sparkSession)
        f_cs = ex.submit(inherit(cs))
        f_bm = ex.submit(inherit(bm))
        return f_cs.result(), f_bm.result()


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 10,
    pool: int = 20,
    k0: int = 60,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    fuse the BM25 lexical leg over ``docs`` with the exact-cosine dense
    leg over ``emb`` (aligned id spaces) as
    ``rrf = Σ_legs 1/(k0 + rank_leg)`` over each leg's top-``pool``.

    Rank-based fusion sidesteps score-scale mismatch between the legs —
    the standard production hybrid. Each leg's top-``pool`` runs as its
    own documented distributed plan, the two built+collected as
    CONCURRENT driver-thread jobs (the ann_recall_report pattern); the
    fusion itself operates on |queries| × pool rows — bounded by the
    panel — so it is driver arithmetic, not a shuffle stage. Ranks and
    the fused reciprocal sums are engine-independent (see _rrf_fuse).

    Output: (q_id, doc_id, rrf, rank), top-``k`` per query.
    """
    spark = docs.sparkSession
    cs_rows, bm_rows = _leg_pools(docs, emb, query_ids_below, pool)
    fused = _rrf_fuse(cs_rows, bm_rows, k=k, k0=k0)
    rows = [
        (q, d, rrf, i + 1)
        for q, lst in fused.items()
        for i, (d, rrf) in enumerate(lst)
    ]
    return spark.createDataFrame(
        rows, "q_id long, doc_id long, rrf double, rank int"
    )


def retrieval_eval(
    docs: DataFrame,
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 10,
    pool: int = 20,
    k0: int = 60,
) -> DataFrame:
    """Rank-metric evaluation of the three retrieval legs — recall@k,
    MRR and binary-relevance nDCG@k per system, averaged over the query
    panel — against the exact-cosine top-``k`` truth set (so the dense
    row is the =1.0 sanity anchor and the bm25/hybrid rows measure how
    much of the semantic neighborhood the lexical and fused legs
    recover; the standard offline eval a retrieval-based curation
    pipeline runs before trusting a cheaper leg).

    Shape: each leg's top-``pool`` is computed ONCE by its documented
    distributed plan, built+collected as concurrent driver-thread jobs
    (pools are |queries| × pool rows, bounded by the panel); every run
    (bm25@k, dense@k, hybrid@k) is a deterministic prefix / re-rank /
    fusion of those pools, and the metric arithmetic over
    |systems| × |queries| × pool rows is driver-side — pushing
    panel-sized math through shuffle stages would only add scheduler
    floor.

    Determinism: leg ranks re-rank on 6-decimal rounded scores (id
    tiebreak); DCG terms are fixed-point integers
    ``round(1e9·ln2/ln(rank+1))`` summed exactly, with the log spelled
    as ``ln`` and rounding half-up in every engine (Python round() is
    banker's — floor(x+0.5) here), so nDCG is a ratio of exact
    integers.

    Output: (system, recall_at_k, mrr, ndcg), one row per system.
    """
    import math

    spark = docs.sparkSession
    cs_rows, bm_rows = _leg_pools(docs, emb, query_ids_below, pool)
    spine_rows = (
        docs.filter(F.col("doc_id") < query_ids_below).select("doc_id").collect()
    )
    spine = sorted({r["doc_id"] for r in spine_rows})

    def _term(rank: int) -> int:
        return int(math.floor(1e9 * math.log(2.0) / math.log(rank + 1.0) + 0.5))

    # cosine_topk cut the pool on the RAW cosine ordering (its rank
    # column) and returns the ROUNDED cos: the top-k raw prefix is the
    # truth set; the dense run re-ranks that prefix on the rounded value
    by_q_cs: dict = {}
    for r in cs_rows:
        by_q_cs.setdefault(r["q_id"], []).append(r)
    truth = {
        q: {r["n_id"] for r in rows if r["rank"] <= k}
        for q, rows in by_q_cs.items()
    }
    dense_run = {
        q: [
            r["n_id"]
            for r in sorted(
                (r for r in rows if r["rank"] <= k),
                key=lambda r: (-r["cos"], r["n_id"]),
            )
        ]
        for q, rows in by_q_cs.items()
    }
    # bm25's rank is already deterministic (rounded score, id tiebreak):
    # the k-run is the pool prefix
    bm_run: dict = {}
    for r in bm_rows:
        if r["rank"] <= k:
            bm_run.setdefault(r["q_id"], []).append((r["rank"], r["doc_id"]))
    runs = {
        "bm25": {q: [d for _, d in sorted(v)] for q, v in bm_run.items()},
        "dense": dense_run,
        "hybrid": {
            q: [d for d, _ in lst]
            for q, lst in _rrf_fuse(cs_rows, bm_rows, k=k, k0=k0).items()
        },
    }
    out = []
    for system in ("bm25", "dense", "hybrid"):
        rec_s = mrr_s = ndcg_s = 0.0
        n_q = 0
        for q in spine:
            rel = truth.get(q, set())
            n_rel = len(rel)
            if not n_rel:
                # mirrors the oracle's inner join on the truth-count
                # table: a query with no truth set drops from the
                # average's denominator too
                continue
            n_q += 1
            ranked = runs[system].get(q, [])
            hits = [i + 1 for i, d in enumerate(ranked) if d in rel]
            idcg = sum(_term(i) for i in range(1, min(n_rel, k) + 1))
            rec_s += len(hits) / n_rel
            mrr_s += 1.0 / hits[0] if hits else 0.0
            ndcg_s += sum(_term(r) for r in hits) / idcg
        if not n_q:
            continue
        out.append(
            (
                system,
                _half_up(rec_s / n_q, 6),
                _half_up(mrr_s / n_q, 6),
                _half_up(ndcg_s / n_q, 6),
            )
        )
    return spark.createDataFrame(
        out, "system string, recall_at_k double, mrr double, ndcg double"
    )
