"""Registry keys: LLM-data-pipeline text/corpus operators — dedup,
decontamination, quality, curation, retrieval (SURVEY §2 F)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark.sources.tables import load_table

from lakeside_spark.registry._shared import (
    _NORM,
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (documents / embeddings)

# DuckDB 3-gram shingle CTE (mirrors functions/text.py shingles())
_SHINGLE_CTE = """
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ')
                        for i in range(1, greatest(len(ws)-2, 1) + 1)]) AS shs
  FROM w
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.12)


DEDUP_NGRAM_JACCARD_SQL = _SHINGLE_CTE + """
, ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.12, num_hashes=16, bands=4
    )


# sig[i] = min over shingles of (A_i*h31 + B_i) mod P — generated from the
# SAME constants the Spark operator uses (operators/dedup.py MINHASH_AB).
def _minhash_sig_sql() -> str:
    from lakeside_spark.operators.dedup import MINHASH_AB, MINHASH_P

    h31 = f"(CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {MINHASH_P})"
    mins = ",\n          ".join(
        f"list_min([({a} * {h31} + {b}) % {MINHASH_P} for s in shs])"
        for a, b in MINHASH_AB[:16]
    )
    return f"[{mins}]"


def _sig_banded_cte() -> str:
    """sig + banded CTEs shared by every minhash oracle (num_hashes=16,
    bands=4, rows=4 — must mirror operators/dedup._band_keys geometry)."""
    return f"""
, sig AS (
  SELECT doc_id,
         {_minhash_sig_sql()} AS sig
  FROM sh
)""" + """, banded AS (
  SELECT doc_id,
         unnest([CAST(b AS VARCHAR) || ':' ||
                 md5(array_to_string([CAST(x AS VARCHAR) for x in sig[b*4+1 : b*4+4]], ','))
                 for b in range(0, 4)]) AS band
  FROM sig
)"""


DEDUP_MINHASH_LSH_SQL = _SHINGLE_CTE + _sig_banded_cte() + """, cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
), ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM cands c
JOIN common USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (shard-vs-index) near-dup: the 20% of docs with
    doc_id % 5 == 0 play the incoming shard, the rest the existing
    corpus index; each incoming doc reports its best verified MinHash-LSH
    match in the index at jaccard ≥ 0.12. This is the dedup shape a
    daily 100 TB ingest actually runs — index signatures are computed
    once and persisted in production; candidates are incoming×index
    banded equi-joins, never index×index (see
    operators/dedup.py:minhash_lsh_match)."""
    from lakeside_spark.operators.dedup import _shingled_rows, minhash_lsh_match

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0)
    # ONE tokenize+shingle pass over the whole table (r13): both sides
    # split one table, so shingling per side ran the kernel twice (1.32s
    # vs 0.57s for the single pass at sf0.1, r13 measurement).
    # The checkpointed thin (doc_id, shingle) frame is filtered per side.
    ex_all = M.checkpointed(_shingled_rows(docs, "text", "doc_id", 3))
    return minhash_lsh_match(
        index,
        incoming,
        threshold=0.12,
        shingle_rows_incoming=ex_all.filter(F.col("doc_id") % 5 == 0),
        shingle_rows_index=ex_all.filter(F.col("doc_id") % 5 != 0),
    )


DEDUP_INCREMENTAL_SQL = _SHINGLE_CTE + _sig_banded_cte() + """, cands AS (
  SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS ix_id
  FROM banded a JOIN banded b ON a.band = b.band
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
), ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT c.in_id, c.ix_id, count(*) AS n_common
  FROM cands c
  JOIN ex a ON a.doc_id = c.in_id
  JOIN ex b ON b.doc_id = c.ix_id AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  SELECT in_id, ix_id,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS j
  FROM common
  JOIN sizes sa ON sa.doc_id = in_id
  JOIN sizes sb ON sb.doc_id = ix_id
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
)
SELECT in_id AS doc_id, ix_id AS match_id, ROUND(j, 6) AS jaccard
FROM (
  SELECT *, row_number() OVER (PARTITION BY in_id ORDER BY j DESC, ix_id) AS rn
  FROM scored
)
WHERE rn = 1
"""


# Brute-force ground truth for the banded hamming join: replicate the
# 60-bit md5-derived SimHash bit-for-bit (same md5→bigint recipe as
# functions/text.md5_long), then verify ALL pairs by an O(n²) hamming
# self-join — recall-1 at sf0.01, which is exactly what makes it a
# sound oracle for the recall-1 claim of the banded Spark plan.
DEDUP_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split({norm}, ' '), w -> w <> ''))) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv FROM toks
),
bits AS (
  SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS s
  FROM h, generate_series(0, 59) AS t(j)
  GROUP BY doc_id, j
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
             ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM bits GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
sides AS (
  SELECT id_a AS doc_id, hamming, id_b AS match_id FROM pairs
  UNION ALL
  SELECT id_b AS doc_id, hamming, id_a AS match_id FROM pairs
)
SELECT doc_id, match_id, CAST(hamming AS INT) AS hamming FROM (
  SELECT doc_id, match_id, hamming,
         row_number() OVER (PARTITION BY doc_id ORDER BY hamming, match_id) AS rn
  FROM sides
) WHERE rn = 1
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each doc's best SimHash near-dup. Oracle-exact: the 60-bit
    md5-derived signature is replicated bit-for-bit in DuckDB
    (DEDUP_SIMHASH_SQL) and the oracle verifies pairs by brute-force
    hamming self-join — recall-1 ground truth for the banded join.

    Emits each doc's BEST near-dup partner (min hamming, min id
    tiebreak) rather than the raw pair list: on a templated synthetic
    corpus the within-6-bits pair count grows quadratically (1.35M pairs
    at sf0.1), and an output that scales with corpus self-similarity is
    the wrong contract at 100 TB — the bounded per-doc form is what a
    dedup pipeline consumes; the exact pair list stays available via
    operators/dedup.simhash_pairs."""
    from lakeside_spark.operators.dedup import simhash_best_match

    return simhash_best_match(
        load_table(spark, sf_dir, "documents"), max_hamming=6
    )


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.similarity import embedding_dup_pairs

    return embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.3)


DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.textstats import lang_id

    return lang_id(load_table(spark, sf_dir, "documents"))


def _marker_sql(markers: tuple[str, ...]) -> str:
    return (
        f"len(regexp_extract_all({_NORM}, '\\b(" + "|".join(markers) + ")\\b'))"
    )


TEXT_LANGID_SQL = f"""
WITH c AS (
  SELECT doc_id,
         {_marker_sql(('the','and','of','is'))} AS c_en,
         {_marker_sql(('der','und','die','nicht'))} AS c_de,
         {_marker_sql(('el','la','que','los'))} AS c_es,
         {_marker_sql(('le','et','les','une'))} AS c_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(c_en, c_de, c_es, c_fr) <= 0 THEN 'und'
            WHEN c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
            WHEN c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
            WHEN c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
            ELSE 'fr' END AS lang_guess,
       c_en, c_de, c_es, c_fr
FROM c
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.textstats import quality_score

    return quality_score(load_table(spark, sf_dir, "documents"))


TEXT_QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars_m,
         CAST(len(string_split({_NORM}, ' ')) AS DOUBLE) AS n_words,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS punct,
         CAST({_marker_sql(('the','and','of','is','a','to','in'))} AS DOUBLE) AS stops
  FROM documents
)
SELECT doc_id, n_chars_m, n_words,
       ROUND(punct / greatest(n_chars_m, 1.0), 6) AS punct_ratio,
       ROUND(stops / greatest(n_words, 1.0), 6) AS stop_ratio,
       ROUND(least(n_words / 100.0, 1.0) * 0.4
             + least(stops / greatest(n_words, 1.0) * 5.0, 1.0) * 0.3
             + (1.0 - punct / greatest(n_chars_m, 1.0)) * 0.3, 6) AS quality
FROM f
"""


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated corpus (the curation sibling of corpus_dedupe): keep
    docs with quality ≥ 0.5 and a sane length band — the standard
    pre-training filter pass, fully pushdown-able."""
    from lakeside_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality")
    return (
        docs.join(q, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("n_chars") >= 80) & (F.col("n_chars") <= 5000))
        .select("doc_id", "lang", "source", "n_chars", "quality")
    )


CORPUS_QUALITY_FILTER_SQL = (
    "WITH q AS (" + TEXT_QUALITY_SQL + """)
SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality
FROM documents d JOIN q ON d.doc_id = q.doc_id
WHERE q.quality >= 0.5 AND d.n_chars BETWEEN 80 AND 5000
"""
)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): per-doc
    top-2-gram and duplicated-5-gram character-mass fractions, computed as
    a zero-shuffle in-row sorted-run scan (operators/repetition.py)."""
    from lakeside_spark.operators.repetition import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


_REP_GRAMS = f"""
  SELECT doc_id, 2 AS n, unnest(CASE WHEN len(w) >= 2
      THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
      ELSE [] END) AS gram FROM rep_b
  UNION ALL
  SELECT doc_id, 5 AS n, unnest(CASE WHEN len(w) >= 5
      THEN [array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]
      ELSE [] END) AS gram FROM rep_b
"""

_REP_SIGNALS = f"""
rep_b AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), x -> x <> '') AS w,
         length({_NORM}) AS nc
  FROM documents
), rep_g AS ({_REP_GRAMS}
), rep_c AS (
  SELECT doc_id, n, gram, COUNT(*) AS cnt, length(gram) AS lg
  FROM rep_g GROUP BY ALL
), rep_s AS (
  SELECT doc_id, n,
         MAX(cnt * lg) AS top_chars,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * lg ELSE 0 END) AS BIGINT) AS dup_chars,
         CAST(SUM(cnt * lg) AS BIGINT) AS tot_chars
  FROM rep_c GROUP BY doc_id, n
), rep AS (
  SELECT b.doc_id,
         CAST(len(b.w) AS BIGINT) AS n_words,
         COALESCE(MAX(CASE WHEN s.n = 2 THEN s.top_chars END), 0) AS top2_chars,
         COALESCE(MAX(CASE WHEN s.n = 5 THEN s.dup_chars END), 0) AS dup5_chars,
         ROUND(CAST(COALESCE(MAX(CASE WHEN s.n = 2 THEN s.top_chars END), 0) AS DOUBLE)
               / GREATEST(COALESCE(MAX(CASE WHEN s.n = 2 THEN s.tot_chars END), 0), 1), 6) AS top2_frac,
         ROUND(CAST(COALESCE(MAX(CASE WHEN s.n = 5 THEN s.dup_chars END), 0) AS DOUBLE)
               / GREATEST(COALESCE(MAX(CASE WHEN s.n = 5 THEN s.tot_chars END), 0), 1), 6) AS dup5_frac,
         ROUND(CAST(b.nc - (len(b.w) - 1) AS DOUBLE)
               / GREATEST(len(b.w), 1), 6) AS mean_word_len
  FROM rep_b b
  LEFT JOIN rep_s s ON b.doc_id = s.doc_id
  GROUP BY b.doc_id, len(b.w), b.nc
)
"""

TEXT_REPETITION_SQL = f"""
WITH {_REP_SIGNALS}
SELECT doc_id, n_words, top2_chars, dup5_chars, top2_frac, dup5_frac FROM rep
"""


def corpus_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter: word-count band [20, 90], mean word length
    [3, 12], top2_frac ≤ 0.20, dup5_frac ≤ 0.15 — one map-only
    projection+filter, zero shuffles."""
    from lakeside_spark.operators.repetition import gopher_filter

    return gopher_filter(load_table(spark, sf_dir, "documents"))


CORPUS_GOPHER_FILTER_SQL = f"""
WITH {_REP_SIGNALS}
SELECT r.doc_id, d.lang, d.source, r.n_words, r.mean_word_len, r.top2_frac, r.dup5_frac
FROM rep r JOIN documents d ON r.doc_id = d.doc_id
WHERE r.n_words BETWEEN 20 AND 90
  AND r.mean_word_len BETWEEN 3.0 AND 12.0
  AND r.top2_frac <= 0.20
  AND r.dup5_frac <= 0.15
"""


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination screen (Brown et al. 2020
    §C): corpus docs sharing any word 5-gram with the eval split (here:
    doc_id % 20 == 0). Eval grams broadcast; overlap count is the only
    shuffle (operators/decontam.py)."""
    from lakeside_spark.operators.decontam import ngram_overlap

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_overlap(corpus, ev, n=5)


_DECONTAM_GRAMS = f"""
dc_b AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), x -> x <> '') AS w
  FROM documents
), dc_g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        THEN [array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]
        ELSE [] END) AS gram FROM dc_b
  )
), dc_e AS (SELECT DISTINCT gram FROM dc_g WHERE doc_id % 20 = 0),
dc_c AS (SELECT doc_id, gram FROM dc_g WHERE doc_id % 20 <> 0)
"""

DECONTAM_OVERLAP_SQL = f"""
WITH {_DECONTAM_GRAMS}
SELECT c.doc_id, COUNT(*) AS n_overlap_grams, MIN(c.gram) AS first_gram
FROM dc_c c JOIN dc_e e USING (gram)
GROUP BY c.doc_id
"""


def corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination filter pass: corpus minus eval docs minus any
    5-gram-overlapping doc, via one broadcast anti-join."""
    from lakeside_spark.operators.decontam import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, ev, n=5).select("doc_id", "lang", "source", "n_chars")


CORPUS_DECONTAM_SQL = f"""
WITH {_DECONTAM_GRAMS}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id % 20 <> 0
  AND d.doc_id NOT IN (
    SELECT DISTINCT c.doc_id FROM dc_c c JOIN dc_e e USING (gram)
  )
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier inference (fastText-style corpus
    quality scoring, Joulin et al. 2017): each token hashes to one of
    1024 weight buckets via the portable md5 bucket, an integer weight in
    [-1000, 1000] derived deterministically from the bucket id stands in
    for trained parameters, per-doc logit = Σw / (1000·n_tokens), score =
    sigmoid(logit). The whole path is codegen: explode → modular
    arithmetic weight expression → ONE map-side-combined groupBy(doc_id)
    shuffle → TakeOrderedAndProject top-20 (per-partition top-k + driver
    merge — no global sort). No join, no UDF; a trained model swaps the
    weight expression for a broadcast 2^b-double array lookup, keeping
    the identical plan shape. The fixed-point integer Σw makes the
    aggregate order-proof, so Spark and the DuckDB oracle agree exactly.
    Complements corpus_quality_filter (heuristic gates) with the
    model-scored stage of standard LLM curation pipelines."""
    from lakeside_spark.functions.text import md5_long, words

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words("text")).alias("word")
    ).filter(F.col("word") != "")
    bucket = F.pmod(md5_long(F.col("word")), F.lit(1024))
    wt = (
        F.pmod(bucket * F.lit(2654435761), F.lit(1000003)) % F.lit(2001)
        - F.lit(1000)
    ).cast("bigint")
    per_doc = (
        tok.select("doc_id", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(F.sum("wt").alias("swt"), F.count(F.lit(1)).alias("n_tokens"))
    )
    logit = F.col("swt") / (F.lit(1000.0) * F.col("n_tokens"))
    scored = per_doc.select(
        "doc_id",
        "n_tokens",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "n_tokens",
        "score",
    )


TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS word
  FROM documents
), b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 1024 AS bucket
  FROM t
), w AS (
  SELECT doc_id, (bucket * 2654435761) % 1000003 % 2001 - 1000 AS wt FROM b
), d AS (
  SELECT doc_id, SUM(wt) AS swt, COUNT(*) AS n_tokens FROM w GROUP BY doc_id
), s AS (
  SELECT doc_id, n_tokens,
         1.0 / (1.0 + exp(-(swt / (1000.0 * n_tokens)))) AS score
  FROM d
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, n_tokens, score
FROM s
QUALIFY rank <= 20
"""


def corpus_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter n-gram decontamination — the 100 TB variant of
    decontam_overlap where the eval-gram set is replaced by a 128 KB
    bitmap broadcast (zero false negatives by construction; FP-only
    over-flagging). The filter is a pure function of md5 double-hashing
    (Kirsch–Mitzenmacher positions over a 2^20-bit array), so the
    oracle replays the same arithmetic in SQL: per-gram h1/h2 from the
    md5 hex, k=7 probe positions with the uint64 wraparound emulated in
    HUGEINT, set-bit positions from the eval side, and a doc flagged
    when any gram finds all 7 bits set — false positives and all."""
    from lakeside_spark.operators.decontam import bloom_decontam

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return bloom_decontam(corpus, ev, n=5)


CORPUS_BLOOM_DECONTAM_SQL = f"""
WITH {_DECONTAM_GRAMS},
hx AS (
  SELECT doc_id, gram,
         CAST(('0x' || substr(md5(gram), 1, 16))::UBIGINT
              & 9223372036854775807::UBIGINT AS HUGEINT) AS h1,
         CAST((('0x' || substr(md5(gram), 17, 16))::UBIGINT
              & 9223372036854775807::UBIGINT) | 1::UBIGINT AS HUGEINT) AS h2
  FROM dc_g
), pos AS (
  SELECT doc_id, gram,
         ((h1 + i.i * h2) % 18446744073709551616) % 1048576 AS pos
  FROM hx, range(0, 7) i(i)
), eval_pos AS (
  SELECT DISTINCT pos FROM pos WHERE doc_id % 20 = 0
), corpus_hits AS (
  SELECT p.doc_id, p.gram,
         MIN(CASE WHEN e.pos IS NOT NULL THEN 1 ELSE 0 END) AS all_set
  FROM (SELECT * FROM pos WHERE doc_id % 20 <> 0) p
  LEFT JOIN eval_pos e USING (pos)
  GROUP BY p.doc_id, p.gram
)
SELECT doc_id, COUNT(*) AS n_suspect_grams
FROM corpus_hits WHERE all_set = 1
GROUP BY doc_id
"""


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-100 vocabulary: global word counts ranked by
    (count desc, word asc) — the seed step of a BPE/WordPiece vocab build.
    One map-side-combinable shuffle on the word key."""
    from lakeside_spark.operators.decontam import vocab_topk as _vocab

    docs = load_table(spark, sf_dir, "documents")
    return _vocab(docs, k=100).select(
        F.col("rank").cast("long").alias("rank"), "word", "cnt"
    )


VOCAB_TOPK_SQL = f"""
WITH t AS (
  SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS word
  FROM documents
), c AS (SELECT word, COUNT(*) AS cnt FROM t GROUP BY word)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS rank, word, cnt
FROM c
QUALIFY rank <= 100
"""


def text_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity signal: whole-doc type-token ratio plus MSTTR
    (mean segmental TTR, Johnson 1944 — the length-robust variant:
    plain TTR collapses as documents grow, so quality filters that
    threshold raw TTR systematically bias against long documents).
    TTR over each complete 100-word segment, averaged; a complete
    segment is exactly one whose word count is 100, so no length join
    is needed. Exactness: mean-of-segment-TTRs = Σdistinct/(k·100) —
    a single division of exact integers, order-free. One posexplode +
    two word-keyed aggs (doc- and segment-grained), map-side combined;
    everything stays in whole-stage codegen."""
    from lakeside_spark.functions.text import words
    from lakeside_spark.operators.similarity import _parallelize

    docs = _parallelize(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_task=4 << 20,
    )
    ex = (
        docs.select(
            "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "word")
        )
        # normalized text has no interior empties; '' only appears for
        # the whole-doc-empty split('','') = [''] case, which DuckDB's
        # list_filter drops entirely — so positions stay aligned
        .filter(F.col("word") != "")
    )
    per_doc = ex.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.countDistinct("word").alias("n_distinct"),
    )
    seg = (
        ex.groupBy("doc_id", F.floor(F.col("pos") / 100).alias("seg"))
        .agg(
            F.count("*").alias("c"),
            F.countDistinct("word").alias("d"),
        )
        .filter(F.col("c") == 100)
    )
    seg_agg = seg.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"), F.sum("d").alias("sum_d")
    )
    return per_doc.join(seg_agg, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.round(
            F.col("n_distinct").cast("double")
            / F.col("n_words").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.col("sum_d").cast("double")
            / (F.col("n_segments").cast("double") * 100.0),
            6,
        ).alias("msttr"),
    )


TEXT_MSTTR_SQL = f"""
WITH ex AS (
  SELECT doc_id,
         generate_subscripts(w, 1) - 1 AS pos,
         unnest(w) AS word
  FROM (
    SELECT doc_id,
           list_filter(string_split({_NORM}, ' '), x -> x <> '') AS w
    FROM documents
  )
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct
  FROM ex GROUP BY 1
), seg AS (
  SELECT doc_id, pos // 100 AS seg, COUNT(*) AS c,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS d
  FROM ex GROUP BY 1, 2 HAVING COUNT(*) = 100
), seg_agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(d) AS BIGINT) AS sum_d
  FROM seg GROUP BY 1
)
SELECT p.doc_id, p.n_words,
       COALESCE(s.n_segments, 0) AS n_segments,
       ROUND(CAST(p.n_distinct AS DOUBLE) / CAST(p.n_words AS DOUBLE), 6)
           AS ttr,
       ROUND(CAST(s.sum_d AS DOUBLE)
             / (CAST(s.n_segments AS DOUBLE) * 100.0::DOUBLE), 6) AS msttr
FROM per_doc p LEFT JOIN seg_agg s USING (doc_id)
"""


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample (hash gate, no RNG): 50% of en,
    20% of de, 10% of everything else — a mixture-weighting pass that is
    reproducible across runs and engines."""
    from lakeside_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, rates={"en": 50.0, "de": 20.0}, default_rate=10.0
    ).select("doc_id", "lang", "source", "n_chars")


CORPUS_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
      < CASE lang WHEN 'en' THEN 50.0 WHEN 'de' THEN 20.0 ELSE 10.0 END
"""


def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the per-domain cap of C4/RefinedWeb-style
    crawl pipelines): keep the first 30 docs by id of each source so no
    single domain dominates the mixture."""
    from lakeside_spark.operators.sampling import source_cap

    docs = load_table(spark, sf_dir, "documents")
    return source_cap(docs, cap=30).select(
        "doc_id", "lang", "source", "n_chars", "source_rank"
    )


CORPUS_SOURCE_CAP_SQL = """
SELECT doc_id, lang, source, n_chars,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
           AS source_rank
FROM documents
QUALIFY source_rank <= 30
"""


def vocab_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus terms by smoothed tf-idf (idf = ln((N+1)/(df+1))+1):
    keyword extraction / boilerplate spotting over one word-keyed
    aggregation plus a vocabulary-sized top-k window."""
    from lakeside_spark.operators.decontam import vocab_tfidf as _tfidf

    docs = load_table(spark, sf_dir, "documents")
    return _tfidf(docs, k=100)


VOCAB_TFIDF_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS word
  FROM documents
), s AS (
  SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY word
), n AS (SELECT COUNT(*) AS _n FROM documents),
sc AS (
  SELECT word, tf, df,
         ROUND(tf * (ln(CAST(_n + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
  FROM s CROSS JOIN n
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY tfidf DESC, word ASC) AS BIGINT) AS rank,
       word, tf, df, tfidf
FROM sc
QUALIFY rank <= 100
"""


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of per-language doc streams into
    2048-token bins (applyInPandas fold — inherently sequential per bin
    stream, distributed across strata). The fold is a linear integer
    recursion over (used, bin) state, so the oracle replays it exactly
    with a DuckDB recursive CTE per stratum — bit-exact, no rounding
    involved."""
    from lakeside_spark.operators.sampling import pack_documents
    from lakeside_spark.operators.textstats import token_counts

    docs = load_table(spark, sf_dir, "documents")
    toks = token_counts(docs).select("doc_id", F.col("ws_tokens").alias("n_tokens"))
    return pack_documents(
        docs.select("doc_id", "lang").join(toks, "doc_id"),
        budget_tokens=2048,
    )


# the next-fit fold per stratum, replayed as a linear recursion: state
# BEFORE a row is (used, cur); the row's bin is cur bumped when it
# would overflow a non-empty bin, and the state after additionally
# closes the bin when it reaches the budget exactly
CORPUS_PACK_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, lang,
         len(string_split({_NORM}, ' ')) AS n_tokens
  FROM documents
), base AS (
  SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM toks
), st AS (
  SELECT lang, doc_id, n_tokens, rn, n,
         CAST(0 AS BIGINT) AS bin_id,
         CASE WHEN n_tokens >= 2048 THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS cur_after,
         CASE WHEN n_tokens >= 2048 THEN CAST(0 AS BIGINT)
              ELSE n_tokens END AS used_after
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.lang, b.doc_id, b.n_tokens, b.rn, b.n,
         CASE WHEN r.used_after > 0 AND r.used_after + b.n_tokens > 2048
              THEN r.cur_after + 1 ELSE r.cur_after END,
         CASE WHEN (CASE WHEN r.used_after > 0
                          AND r.used_after + b.n_tokens > 2048
                         THEN CAST(0 AS BIGINT) ELSE r.used_after END)
                   + b.n_tokens >= 2048
              THEN (CASE WHEN r.used_after > 0
                          AND r.used_after + b.n_tokens > 2048
                         THEN r.cur_after + 1 ELSE r.cur_after END) + 1
              ELSE (CASE WHEN r.used_after > 0
                          AND r.used_after + b.n_tokens > 2048
                         THEN r.cur_after + 1 ELSE r.cur_after END) END,
         CASE WHEN (CASE WHEN r.used_after > 0
                          AND r.used_after + b.n_tokens > 2048
                         THEN CAST(0 AS BIGINT) ELSE r.used_after END)
                   + b.n_tokens >= 2048
              THEN CAST(0 AS BIGINT)
              ELSE (CASE WHEN r.used_after > 0
                          AND r.used_after + b.n_tokens > 2048
                         THEN CAST(0 AS BIGINT) ELSE r.used_after END)
                   + b.n_tokens END
  FROM st r JOIN base b ON b.lang = r.lang AND b.rn = r.rn + 1
)
SELECT lang, bin_id, doc_id, n_tokens FROM st
"""


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.textstats import token_counts

    return token_counts(load_table(spark, sf_dir, "documents"))


TEXT_TOKENS_SQL = f"""
SELECT doc_id,
       len(string_split({_NORM}, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
FROM documents
"""


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/bm25.py): the first five docs
    as the query panel against the rest of the corpus, top-10 each —
    the exact-match complement to ann_cosine_topk and the lexical leg
    of hybrid retrieval / decontamination-by-retrieval. Rank orders by
    the 6-decimal rounded score (doc-id tiebreak) so a 1-ulp ln()
    difference can never flip the cross-engine ordering."""
    from lakeside_spark.operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs.filter(F.col("doc_id") >= 5),
        docs.filter(F.col("doc_id") < 5),
        k=10,
    )


# every fractional literal is ::DOUBLE — DuckDB parses bare 0.5/2.2 as
# DECIMAL and decimal arithmetic diverges from Spark's double path (the
# same trap the ddsketch oracle pins); constants 2.2/0.25 round-trip
# the python-computed k1+1 / 1-b doubles exactly
TEXT_BM25_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE doc_id >= 5
  GROUP BY doc_id, term
), doclen AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), qt AS (
  SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE doc_id < 5
), parts AS (
  SELECT q.q_id, t.doc_id,
         ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5::DOUBLE)
                          / (d.df + 0.5::DOUBLE))
           * t.tf * 2.2::DOUBLE
           / (t.tf + 1.2::DOUBLE
              * (0.25::DOUBLE + 0.75::DOUBLE * l.dl / s.avgdl)) AS part
  FROM tf t
  JOIN qt q USING (term)
  JOIN dft d USING (term)
  JOIN doclen l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
), sc AS (
  SELECT q_id, doc_id, ROUND(SUM(CAST(round(part * 1000000000.0::DOUBLE, 0) AS BIGINT))
                     / 1000000000.0::DOUBLE, 6) AS score FROM parts
  GROUP BY q_id, doc_id
), ranked AS (
  SELECT q_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM sc
)
SELECT q_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    (documents) and the exact-cosine dense leg (embeddings — aligned id
    space), the standard production shape for hybrid search and
    retrieval-based decontamination. Rank-based fusion needs no score
    calibration between legs; each leg's pool re-ranks on its rounded
    score so the integer ranks (and the fused sum of two exact
    reciprocals) are engine-independent."""
    from lakeside_spark.operators.bm25 import hybrid_rrf_topk as _h

    return _h(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


HYBRID_RRF_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE doc_id >= 5
  GROUP BY doc_id, term
), doclen AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), qt AS (
  SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE doc_id < 5
), parts AS (
  SELECT q.q_id, t.doc_id,
         ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5::DOUBLE)
                          / (d.df + 0.5::DOUBLE))
           * t.tf * 2.2::DOUBLE
           / (t.tf + 1.2::DOUBLE
              * (0.25::DOUBLE + 0.75::DOUBLE * l.dl / s.avgdl)) AS part
  FROM tf t
  JOIN qt q USING (term)
  JOIN dft d USING (term)
  JOIN doclen l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
), lex AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(SUM(CAST(round(part * 1000000000.0::DOUBLE, 0) AS BIGINT))
                     / 1000000000.0::DOUBLE, 6) DESC, doc_id)
           AS r_lex
  FROM parts GROUP BY q_id, doc_id
  QUALIFY r_lex <= 20
), cos_raw AS (
  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         list_cosine_similarity(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 5 AND c.vec_id >= 5
), cos_pool AS (
  -- two-step, mirroring the Spark plan: pool cut on the RAW cosine
  -- ordering, then ranks re-assigned on the rounded score
  SELECT q_id, doc_id, ROUND(cos, 6) AS cos_r
  FROM (SELECT q_id, doc_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, doc_id) AS rr
        FROM cos_raw)
  WHERE rr <= 20
), dense AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_r DESC, doc_id) AS r_dense
  FROM cos_pool
), fused AS (
  SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         ROUND(COALESCE(1.0::DOUBLE / (60 + l.r_lex), 0.0::DOUBLE)
               + COALESCE(1.0::DOUBLE / (60 + d.r_dense), 0.0::DOUBLE),
               6) AS rrf
  FROM lex l FULL OUTER JOIN dense d
    ON l.q_id = d.q_id AND l.doc_id = d.doc_id
)
SELECT q_id, doc_id, rrf,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY rrf DESC, doc_id) AS INT) AS rank
FROM fused
QUALIFY rank <= 10
"""


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline rank-metric eval of the three retrieval legs
    (operators/bm25.retrieval_eval): recall@10 / MRR / binary nDCG@10
    per system vs the exact-cosine truth set, averaged over the 5-query
    panel — the dense row is the 1.0 sanity anchor, the bm25/hybrid
    rows measure semantic-neighborhood recovery. DCG terms are
    fixed-point ints (round(1e9·ln2/ln(r+1))) summed exactly and both
    engines spell the log as ln, so every metric is
    engine-independent."""
    from lakeside_spark.operators.bm25 import retrieval_eval as _ev

    return _ev(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    ).orderBy("system")


RETRIEVAL_EVAL_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE doc_id >= 5
  GROUP BY doc_id, term
), doclen AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), qt AS (
  SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE doc_id < 5
), parts AS (
  SELECT q.q_id, t.doc_id,
         ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5::DOUBLE)
                          / (d.df + 0.5::DOUBLE))
           * t.tf * 2.2::DOUBLE
           / (t.tf + 1.2::DOUBLE
              * (0.25::DOUBLE + 0.75::DOUBLE * l.dl / s.avgdl)) AS part
  FROM tf t
  JOIN qt q USING (term)
  JOIN dft d USING (term)
  JOIN doclen l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
), bm_run AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(SUM(CAST(round(part * 1000000000.0::DOUBLE, 0) AS BIGINT))
                     / 1000000000.0::DOUBLE, 6) DESC, doc_id) AS rank
  FROM parts GROUP BY q_id, doc_id
  QUALIFY rank <= 10
), lex AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(SUM(CAST(round(part * 1000000000.0::DOUBLE, 0) AS BIGINT))
                     / 1000000000.0::DOUBLE, 6) DESC, doc_id)
           AS r_lex
  FROM parts GROUP BY q_id, doc_id
  QUALIFY r_lex <= 20
), cos_raw AS (
  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         list_cosine_similarity(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos
  FROM embeddings q JOIN embeddings c
    ON q.vec_id < 5 AND c.vec_id >= 5
), cos_ranked AS (
  SELECT q_id, doc_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, doc_id) AS rr
  FROM cos_raw
), truth AS (
  SELECT q_id, doc_id FROM cos_ranked WHERE rr <= 10
), dense_run AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(cos, 6) DESC, doc_id) AS rank
  FROM cos_ranked WHERE rr <= 10
), cos_pool AS (
  SELECT q_id, doc_id, ROUND(cos, 6) AS cos_r
  FROM cos_ranked WHERE rr <= 20
), dense_leg AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_r DESC, doc_id) AS r_dense
  FROM cos_pool
), fused AS (
  SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         ROUND(COALESCE(1.0::DOUBLE / (60 + l.r_lex), 0.0::DOUBLE)
               + COALESCE(1.0::DOUBLE / (60 + d.r_dense), 0.0::DOUBLE),
               6) AS rrf
  FROM lex l FULL OUTER JOIN dense_leg d
    ON l.q_id = d.q_id AND l.doc_id = d.doc_id
), hy_run AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
  QUALIFY rank <= 10
), runs AS (
  SELECT 'bm25' AS system, * FROM bm_run
  UNION ALL SELECT 'dense', * FROM dense_run
  UNION ALL SELECT 'hybrid', * FROM hy_run
), per_q AS (
  SELECT r.system, r.q_id,
         SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
         MAX(CASE WHEN t.doc_id IS NOT NULL THEN 1.0::DOUBLE / r.rank
                  ELSE 0.0::DOUBLE END) AS mrr_q,
         SUM(CASE WHEN t.doc_id IS NOT NULL
                  THEN CAST(ROUND(1e9::DOUBLE * ln(2.0::DOUBLE)
                                  / ln(r.rank + 1.0::DOUBLE), 0) AS BIGINT)
                  ELSE 0 END) AS dcg_int
  FROM runs r LEFT JOIN truth t
    ON r.q_id = t.q_id AND r.doc_id = t.doc_id
  GROUP BY r.system, r.q_id
), nrel AS (
  SELECT q_id, COUNT(*) AS n_rel FROM truth GROUP BY q_id
), idcg AS (
  SELECT n.q_id,
         SUM(CAST(ROUND(1e9::DOUBLE * ln(2.0::DOUBLE)
                        / ln(g.i + 1.0::DOUBLE), 0) AS BIGINT)) AS idcg_int
  FROM nrel n JOIN generate_series(1, 10) AS g(i)
    ON g.i <= least(n.n_rel, 10)
  GROUP BY n.q_id
), spine AS (
  SELECT s.system, d.doc_id AS q_id
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 5) d
  CROSS JOIN (VALUES ('bm25'), ('dense'), ('hybrid')) AS s(system)
), per_q_full AS (
  SELECT sp.system,
         COALESCE(p.hits, 0) * 1.0::DOUBLE / n.n_rel AS recall_q,
         COALESCE(p.mrr_q, 0.0::DOUBLE) AS mrr_q,
         COALESCE(p.dcg_int, 0) * 1.0::DOUBLE / i.idcg_int AS ndcg_q
  FROM spine sp
  LEFT JOIN per_q p ON p.system = sp.system AND p.q_id = sp.q_id
  JOIN nrel n ON n.q_id = sp.q_id
  JOIN idcg i ON i.q_id = sp.q_id
)
SELECT system, ROUND(AVG(recall_q), 6) AS recall_at_k,
       ROUND(AVG(mrr_q), 6) AS mrr,
       ROUND(AVG(ndcg_q), 6) AS ndcg
FROM per_q_full GROUP BY system ORDER BY system
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.textstats import fingerprints

    return fingerprints(load_table(spark, sf_dir, "documents"))


DOC_FINGERPRINT_SQL = f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT doc_id, md5(norm) AS content_fp,
       list_min([md5(substr(norm, i, 8))
                 for i in range(1, greatest(length(norm) - 7, 1) + 1)]) AS rolling_fp
FROM n
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the documents table. The synthetic corpus has no
    PII, so each doc is seeded with deterministic doc_id-derived email /
    IPv4 / SSN / phone strings (identically in the oracle SQL) — parity
    then proves the regex scrub semantics, not just a no-op."""
    from lakeside_spark.operators.pii import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return pii_scrub(seeded)


def _pii_seed_sql() -> str:
    return (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 ssn 123-45-6789 tel +1 (555) 010-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )


def _pii_scrub_sql() -> str:
    from lakeside_spark.operators.pii import PII_PATTERNS

    (_, email, r_email), (_, ssn, r_ssn), (_, ip, r_ip), (_, phone, r_phone) = (
        PII_PATTERNS
    )
    return f"""
WITH s0 AS (SELECT doc_id, {_pii_seed_sql()} AS t0 FROM documents),
s1 AS (SELECT *, regexp_replace(t0, '{email}', '{r_email}', 'g') AS t1 FROM s0),
s2 AS (SELECT *, regexp_replace(t1, '{ssn}', '{r_ssn}', 'g') AS t2 FROM s1),
s3 AS (SELECT *, regexp_replace(t2, '{ip}', '{r_ip}', 'g') AS t3 FROM s2)
SELECT doc_id,
       CAST(len(regexp_extract_all(t0, '{email}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t1, '{ssn}')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(t2, '{ip}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t3, '{phone}')) AS BIGINT) AS n_phone,
       regexp_replace(t3, '{phone}', '{r_phone}', 'g') AS scrubbed
FROM s3
"""


TEXT_PII_SCRUB_SQL = _pii_scrub_sql()


def corpus_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic gate (Raffel et al. 2020 §2.2) with thresholds that
    bite on the synthetic corpus: ≥20 words, ≤25-char words, ≥0.5
    distinct-word ratio, no braces / lorem ipsum (sentence floor 0 — the
    corpus has no terminal punctuation; the rule itself is exercised in
    pytest with punctuated fixtures)."""
    from lakeside_spark.operators.pii import c4_filter

    docs = load_table(spark, sf_dir, "documents")
    return c4_filter(docs, min_words=20, min_distinct_ratio=0.5)


_C4_WORDS = f"string_split({_NORM}, ' ')"

CORPUS_C4_FILTER_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len({_C4_WORDS}) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentences,
         CAST(coalesce(list_max(list_transform({_C4_WORDS}, w -> length(w))), 0) AS BIGINT) AS max_word_len,
         ROUND(len(list_distinct({_C4_WORDS})) / greatest(CAST(len({_C4_WORDS}) AS DOUBLE), 1.0), 6) AS distinct_ratio,
         (position('{{' in text) > 0) AS has_brace,
         (position('lorem ipsum' in lower(text)) > 0) AS has_lorem
  FROM documents
)
SELECT * FROM sig
WHERE n_words >= 20 AND max_word_len <= 25 AND n_sentences >= 0
  AND distinct_ratio >= 0.5 AND NOT has_brace AND NOT has_lorem
"""


def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (window 32, stride 16) — context-
    window / RAG prep. Map-only sequence→slice→posexplode."""
    from lakeside_spark.operators.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), window=32, stride=16
    )


CORPUS_CHUNK_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
c0 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS doc_words,
        [{{'chunk_id': i - 1,
           'chunk': array_to_string(list_slice(ws, (i-1)*16+1, (i-1)*16+32), ' ')}}
         for i in range(1, CAST(ceil(greatest(len(ws) - 32, 0)*1.0/16) AS BIGINT) + 2)] AS chunks
       FROM w),
c AS (SELECT doc_id, doc_words, unnest(chunks, recursive := true) FROM c0)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk,
       least(32, doc_words - chunk_id*16) AS n_words
FROM c
WHERE least(32, doc_words - chunk_id*16) > 0
"""


def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style cross-document span dedup: 3-word tiles occurring in
    more than 2 distinct documents are boilerplate and removed; documents
    are reassembled in order (empty if everything was boilerplate)."""
    from lakeside_spark.operators.chunking import span_dedup

    return span_dedup(
        load_table(spark, sf_dir, "documents"), span_words=3, max_df=2
    )


CORPUS_SPAN_DEDUP_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
t0 AS (SELECT doc_id,
        [{{'span_idx': i - 1,
           'span': array_to_string(list_slice(ws, (i-1)*3+1, i*3), ' ')}}
         for i in range(1, CAST(ceil(len(ws)*1.0/3) AS BIGINT) + 1)] AS tiles
       FROM w),
t AS (SELECT doc_id, unnest(tiles, recursive := true) FROM t0),
df AS (SELECT md5(span) AS h FROM t GROUP BY 1 HAVING count(DISTINCT doc_id) > 2),
k AS (SELECT * FROM t WHERE md5(span) NOT IN (SELECT h FROM df)),
agg AS (SELECT doc_id, string_agg(span, ' ' ORDER BY span_idx) AS clean_text,
        CAST(count(*) AS BIGINT) AS n_kept FROM k GROUP BY doc_id)
SELECT w.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       CAST(ceil(len(w.ws)*1.0/3) AS BIGINT) AS n_spans,
       CAST(ceil(len(w.ws)*1.0/3) AS BIGINT) - coalesce(agg.n_kept, 0) AS n_dropped
FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus report: doc count, char/word totals,
    median length, mean quality — the mixture-dashboard query every
    curation run ends with. One shuffle, map-side combined."""
    from lakeside_spark.functions.text import words
    from lakeside_spark.operators.textstats import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    # avg quality via an exact fixed-point integer sum: float addition is
    # order-dependent and partial-aggregate order is not deterministic, so
    # a double sum can flip the 6th rounded decimal run-to-run
    q_fixed = F.round(quality_expr("text") * 1e6).cast("long")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.size(words("text"))).cast("bigint").alias("total_words"),
            F.round(F.median("n_chars"), 6).alias("median_chars"),
            F.round(F.sum(q_fixed) / (F.count("*") * 1e6), 6).alias(
                "avg_quality"
            ),
        )
    )


CORPUS_STATS_SQL = f"""
WITH q AS ({TEXT_QUALITY_SQL.strip()})
SELECT d.lang, d.source,
       count(*) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split({_NORM.replace('text', 'd.text')}, ' '))) AS BIGINT) AS total_words,
       ROUND(median(d.n_chars), 6) AS median_chars,
       ROUND(sum(CAST(round(q.quality * 1000000, 0) AS BIGINT))
             / (count(*) * 1000000.0), 6) AS avg_quality
FROM documents d JOIN q ON q.doc_id = d.doc_id
GROUP BY d.lang, d.source
"""


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality signal: per-doc mean negative
    log-likelihood (and ppl = e^nll) under the corpus's own unigram LM."""
    from lakeside_spark.operators.textstats import unigram_nll

    return unigram_nll(load_table(spark, sf_dir, "documents"))


TEXT_PERPLEXITY_SQL = f"""
WITH wds AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
),
wds2 AS (SELECT * FROM wds WHERE w <> ''),
vocab AS (SELECT w, count(*) AS cnt FROM wds2 GROUP BY w),
tot AS (SELECT sum(cnt) AS t FROM vocab),
lp AS (SELECT w, CAST(round(ln(cnt / (SELECT t FROM tot)) * 1000000000, 0) AS BIGINT) AS lp9
       FROM vocab)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       ROUND(-sum(lp.lp9) / (count(*) * 1000000000.0), 6) AS nll,
       ROUND(exp(ROUND(-sum(lp.lp9) / (count(*) * 1000000000.0), 6)), 6) AS ppl
FROM wds2 JOIN lp USING (w)
GROUP BY doc_id
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy in nats — the gibberish /
    repeated-char quality gate. Entirely array-side codegen, zero
    shuffle, map-only; per-char terms k*ln(k/n) snapped to 1e-9 fixed
    point and integer-summed so the result is order-independent and
    oracle-exact."""
    from lakeside_spark.operators.textstats import char_entropy

    return char_entropy(load_table(spark, sf_dir, "documents"))


TEXT_CHAR_ENTROPY_SQL = """
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE text IS NOT NULL AND len(text) > 0
),
cnt AS (SELECT doc_id, ch, count(*) AS k FROM c GROUP BY doc_id, ch),
tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id),
terms AS (
  SELECT doc_id,
         CAST(round(k * ln(k / CAST(n AS DOUBLE)) * 1000000000, 0) AS BIGINT) AS t,
         n
  FROM cnt JOIN tot USING (doc_id)
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS distinct_chars,
       ROUND(-sum(t) / (max(n) * 1000000000.0), 6) AS entropy
FROM terms GROUP BY doc_id
"""


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rare-trigram ratio — the diversity signal a data-mixture
    planner uses to up-weight novel content and down-weight templated
    boilerplate. novelty = fraction of the doc's distinct trigram
    shingles with corpus document-frequency <= 2. One map-side-combined
    DF-count shuffle pruned to the bounded COMMON set, then a
    broadcast-shaped hit join; the unbounded rare tail never ships."""
    from lakeside_spark.operators.textstats import ngram_novelty

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


CORPUS_NGRAM_NOVELTY_SQL = _SHINGLE_CTE + """, ex AS (
  SELECT doc_id, unnest(shs) AS ng FROM sh
), freq AS (
  SELECT ng, count(*) AS df FROM ex GROUP BY ng
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN f.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS novel_ngrams,
       ROUND(sum(CASE WHEN f.df <= 2 THEN 1 ELSE 0 END) / count(*), 6) AS novelty
FROM ex e JOIN freq f USING (ng)
GROUP BY e.doc_id
"""


def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering, bigram edition: per-doc mean NLL
    under a self-trained add-alpha bigram LM interpolated with the corpus
    unigram (Wenzek et al. 2020 score — word order now matters, unlike
    text_perplexity's unigram). First token of each doc scores by the
    unigram term alone; per-token log-probs snapped to 1e-9 fixed point
    so the doc sums are order-independent and oracle-exact."""
    from lakeside_spark.operators.textstats import bigram_nll

    return bigram_nll(load_table(spark, sf_dir, "documents"))


# Interpolation constants injected at full double precision so both
# engines fold the identical IEEE doubles (1 - 0.7 != 0.3 in binary64).
_LM_ALPHA = repr(0.5)
_LM_LAM = repr(0.7)
_LM_LAM2 = repr(1.0 - 0.7)

NGRAM_LM_SCORE_SQL = f"""
WITH seqs AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), w -> w <> '') AS ws
  FROM documents
),
ne AS (SELECT doc_id, ws FROM seqs WHERE len(ws) > 0),
firsts AS (SELECT doc_id, ws[1] AS w FROM ne),
idx AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM ne),
pairs AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS w FROM idx),
uni AS (
  SELECT w, count(*) AS cu
  FROM (SELECT w FROM firsts UNION ALL SELECT w FROM pairs)
  GROUP BY w
),
stats AS (SELECT sum(cu) AS t, count(*) AS v FROM uni),
big AS (SELECT prev, w, count(*) AS cb FROM pairs GROUP BY prev, w),
ctx AS (SELECT prev, count(*) AS cp FROM pairs GROUP BY prev),
fs AS (
  SELECT doc_id,
         CAST(round(ln(cu / t) * 1000000000, 0) AS BIGINT) AS lp9
  FROM firsts JOIN uni USING (w), stats
),
ps AS (
  SELECT doc_id,
         CAST(round(ln(
           {_LM_LAM} * ((coalesce(cb, 0) + {_LM_ALPHA}) / (cp + {_LM_ALPHA} * v))
           + {_LM_LAM2} * (cu / t)
         ) * 1000000000, 0) AS BIGINT) AS lp9
  FROM pairs
  LEFT JOIN big USING (prev, w)
  JOIN ctx USING (prev)
  JOIN uni USING (w), stats
),
al AS (SELECT * FROM fs UNION ALL SELECT * FROM ps)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       ROUND(-sum(lp9) / (count(*) * 1000000000.0), 6) AS nll,
       ROUND(exp(ROUND(-sum(lp9) / (count(*) * 1000000000.0), 6)), 6) AS ppl
FROM al
GROUP BY doc_id
"""


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair encoding — merges trained on the corpus vocabulary
    (deterministic tie-breaks), then applied per doc in an Arrow kernel.
    Oracle-exact since round 8: the merge sequence is a pure function of
    the vocabulary, so the DuckDB twin REPLAYS the whole tokenizer as
    two recursive CTEs — training as iterated best-pair selection +
    merge application over the symbolized vocab (pair argmax via window,
    the merge applied with non-overlapping leftmost string replacement
    on a double-space token encoding), encoding as the per-word
    lowest-rank/leftmost merge loop — and reproduces the per-doc
    word/token counts bit-for-bit. Reconstruction/determinism invariants
    stay pytest-gated."""
    from lakeside_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=200)
    return bpe_encode(docs, merges).select("doc_id", "n_words", "n_tokens")


# Twin oracle replaying operators/bpe.py step for step. Representation:
# a word's symbol sequence is ' tok1  tok2  ... ' — each token flanked
# by ONE space, TWO spaces between tokens — so replacing
# ' a  b ' -> ' ab ' merges exactly the non-overlapping leftmost (a,b)
# occurrences the Python training loop merges (each match consumes one
# flank from each side, leaving one for the neighbor). Training carries
# the accumulated merge list as a newline-joined column; encoding
# re-runs the lowest-rank/leftmost single-merge loop per vocab word.
TEXT_BPE_TOKENS_SQL = f"""
WITH RECURSIVE vocab AS (
  SELECT u.w AS w, COUNT(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS w
    FROM documents
  ) u GROUP BY 1
), train AS (
  SELECT ' ' || array_to_string(
           list_concat(regexp_extract_all(w, '.'), ['</w>']), '  ') || ' '
           AS sym,
         cnt, '' AS merges, 0 AS i
  FROM vocab v
  UNION ALL
  SELECT new_sym AS sym, SUM(cnt) AS cnt, new_merges AS merges, ni AS i
  FROM (
    SELECT
      CASE WHEN rn_sym = 1 THEN
        replace(sym, ' ' || best_pa || '  ' || best_pb || ' ',
                     ' ' || best_pa || best_pb || ' ')
      END AS new_sym,
      cnt,
      merges || best_pa || ' ' || best_pb || chr(10) AS new_merges,
      i + 1 AS ni, rn_sym, best_tot
    FROM (
      SELECT sym, cnt, merges, i, pa, pb, tot,
             first_value(pa) OVER w AS best_pa,
             first_value(pb) OVER w AS best_pb,
             first_value(tot) OVER w AS best_tot,
             row_number() OVER (PARTITION BY sym ORDER BY pa NULLS LAST, pb)
               AS rn_sym
      FROM (
        SELECT sym, cnt, merges, i,
               split_part(pr, ' ', 1) AS pa, split_part(pr, ' ', 2) AS pb,
               SUM(CASE WHEN pr IS NOT NULL THEN cnt END)
                 OVER (PARTITION BY pr) AS tot
        FROM (
          SELECT sym, cnt, merges, i,
                 unnest(list_concat(
                   list_transform(range(1, len(l)),
                                  j -> l[j] || ' ' || l[j + 1]),
                   [CAST(NULL AS VARCHAR)])) AS pr
          FROM (SELECT sym, cnt, merges, i,
                       string_split(trim(sym), '  ') AS l
                FROM train WHERE i < 200) b
        ) p
      ) q
      WINDOW w AS (ORDER BY tot DESC NULLS LAST, pa, pb)
    ) r
    WHERE best_tot >= 2 AND rn_sym = 1
  ) s
  GROUP BY new_sym, new_merges, ni
), mtab AS (
  SELECT split_part(ln, ' ', 1) AS a, split_part(ln, ' ', 2) AS b,
         CAST(row_number() OVER () - 1 AS BIGINT) AS rnk
  FROM (
    SELECT unnest(list_filter(
             string_split((SELECT merges FROM train ORDER BY i DESC LIMIT 1),
                          chr(10)), x -> x <> '')) AS ln
  )
), enc AS (
  SELECT w, list_concat(regexp_extract_all(w, '.'), ['</w>']) AS l,
         0 AS j
  FROM vocab
  UNION ALL
  SELECT w,
         list_concat(
           CASE WHEN pos > 1 THEN l[1:pos - 1] ELSE [] END,
           list_concat([l[pos] || l[pos + 1]],
                       CASE WHEN pos + 2 <= len(l) THEN l[pos + 2:len(l)]
                            ELSE [] END)
         ) AS l,
         j + 1 AS j
  FROM (
    SELECT w, l, j, pos, rnk,
           row_number() OVER (PARTITION BY w ORDER BY rnk, pos) AS rn
    FROM (
      SELECT u.w, u.l, u.j, u.pos, m.rnk
      FROM (
        -- no fixed merge-count cap: each merge shrinks l by exactly 1,
        -- so len(l) > 1 both terminates the recursion and matches the
        -- Python encoder's unbounded loop at ANY word length (a fixed
        -- j-cap would diverge on words needing more merges than it)
        SELECT w, l, j, unnest(range(1, len(l))) AS pos
        FROM enc WHERE len(l) > 1
      ) u
      JOIN mtab m ON m.a = u.l[u.pos] AND m.b = u.l[u.pos + 1]
    ) c
  ) d
  WHERE rn = 1
), wtok AS (
  SELECT w, CAST(len(l) AS BIGINT) AS wtok
  FROM (SELECT w, l, row_number() OVER (PARTITION BY w ORDER BY j DESC) AS rr
        FROM enc)
  WHERE rr = 1
), docw AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS w
  FROM documents
), agg AS (
  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(t.wtok) AS BIGINT) AS n_tokens
  FROM docw d JOIN wtok t USING (w) GROUP BY 1
)
SELECT doc_id, CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents LEFT JOIN agg USING (doc_id)
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — BPE tokens per whitespace word,
    the standard multilingual curation diagnostic (a language whose
    fertility is far above the corpus mean is being shredded by the
    tokenizer and will train poorly per byte; cf. the fertility tables
    in multilingual tokenizer papers). Reuses the real corpus-trained
    BPE (operators/bpe): driver-side merge training on the vocabulary,
    map-only encode kernel, then ONE language-keyed aggregate
    (map-side combined, |langs| rows). ORACLE-EXACT by construction:
    the per-doc counts are text_bpe_tokens' (already replayed
    bit-for-bit by the recursive-CTE tokenizer twin) and the fertility
    ratio divides two exact integer sums once."""
    from lakeside_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=80)
    enc = bpe_encode(docs, merges).select("doc_id", "n_words", "n_tokens")
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 6
            ).alias("fertility"),
        )
    )


# the BPE twin wrapped as a derived table at the fertility tokenizer
# budget (80 merges: at this corpus's vocabulary 200 merges reconstruct
# every word — fertility would be a constant 1.0 and measure nothing;
# 80 leaves words partially merged so per-language splitting differs).
# Sums cast back to BIGINT (DuckDB SUM(BIGINT) widens to HUGEINT, which
# the driver dtype compare would flag against Spark's long).
TOKENIZER_FERTILITY_SQL = f"""
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(t.n_words) AS BIGINT) AS n_words,
       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       (ROUND(CAST(SUM(t.n_tokens) AS DOUBLE)
              / CAST(SUM(t.n_words) AS DOUBLE), 6) + 0.0::DOUBLE)
         AS fertility
FROM ({TEXT_BPE_TOKENS_SQL.replace("WHERE i < 200", "WHERE i < 80")}) t
JOIN documents d ON d.doc_id = t.doc_id
GROUP BY d.lang
"""


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture planning (the data-recipe stage of a
    pre-training pipeline): per-(lang, source) stratum, weight ∝
    sqrt(total_words) (temperature 0.5 up-weights small strata), and the
    sampling rate that hits a global token budget under those weights —
    the rates feed corpus_sample's deterministic hash gate.

    Determinism: stratum word totals are exact integer sums; sqrt is
    IEEE-correctly-rounded in both engines, snapped to 1e-6 fixed point
    so the denominator is an exact integer sum (order-independent). The
    whole-frame window runs on the post-aggregation strata table
    (languages × sources rows — KBs at any corpus size)."""
    from pyspark.sql import Window

    from lakeside_spark.functions.text import words

    target = 100_000  # token budget
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang", "source").agg(
        F.sum(F.size(words("text"))).cast("bigint").alias("total_words")
    )
    w6 = F.round(F.sqrt(F.col("total_words")) * 1e6).cast("bigint")
    sw = strata.withColumn("w6", w6).withColumn(
        "denom", F.sum("w6").over(Window.partitionBy())
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            (F.lit(float(target)) * (F.col("w6") * 1.0 / F.col("denom")))
            / F.col("total_words"),
        ),
        6,
    )
    return sw.select(
        "lang",
        "source",
        "total_words",
        F.round(F.col("w6") / 1e6, 6).alias("weight"),
        rate.alias("sample_rate"),
    )


CORPUS_MIXTURE_PLAN_SQL = f"""
WITH s AS (
  SELECT lang, source,
         CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS total_words
  FROM documents GROUP BY 1, 2
),
w AS (SELECT *, CAST(round(sqrt(total_words) * 1000000, 0) AS BIGINT) AS w6 FROM s),
t AS (SELECT *, SUM(w6) OVER () AS denom FROM w)
SELECT lang, source, total_words,
       ROUND(w6 / 1000000.0, 6) AS weight,
       ROUND(least(1.0, (100000.0 * (w6 * 1.0 / denom)) / total_words), 6) AS sample_rate
FROM t
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters via connected components
    (driver union-find when the edge list is small; alternating
    large-star/small-star past 1M edges — O(log²) rounds, not
    diameter-bound); oracle: DuckDB recursive-CTE transitive closure."""
    from lakeside_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.12)
    return connected_components(pairs)


# WITH RECURSIVE applies to the whole CTE list (only `reach` recurses)
DEDUP_CLUSTERS_SQL = _SHINGLE_CTE.replace("WITH w", "WITH RECURSIVE w", 1) + """
, ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def corpus_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup pipeline a training corpus actually runs:
    near-dup pairs → duplicate clusters → drop every non-canonical member
    (keep the min-id doc per cluster). Output is the surviving corpus."""
    from lakeside_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12)
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source", "n_chars")


CORPUS_DEDUPE_SQL = DEDUP_CLUSTERS_SQL.replace(
    """SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src""",
    """, drop_ids AS (
  SELECT src AS doc_id FROM reach GROUP BY src
  HAVING least(src, min(dst)) != src
)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)""",
)


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline in one query: quality gate
    (score ≥ 0.5, length band) → Gopher repetition/shape gate → benchmark
    decontamination (eval split = doc_id % 20 == 0) → near-dup removal
    (3-gram Jaccard ≥ 0.12 clusters, keep min-id canonical).

    Single-pass shape: the length/split/quality gates are pure codegen
    predicates evaluated AT THE SCAN (no semi-joins against derived
    projections — at 100 TB each of those was a corpus-sized shuffle), the
    Gopher gate is one map-only Arrow kernel that carries lang/source/
    n_chars/text through typed, and decontamination anti-joins broadcast
    eval grams against only the gate survivors. The quadratic dedup
    machinery runs last, over the smallest possible set."""
    from lakeside_spark.operators.decontam import decontaminate
    from lakeside_spark.operators.dedup import connected_components, ngram_jaccard_pairs
    from lakeside_spark.operators.repetition import gopher_filter
    from lakeside_spark.operators.textstats import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    pre = docs.filter(
        (F.col("n_chars") >= 80)
        & (F.col("n_chars") <= 5000)
        & (F.col("doc_id") % 20 != 0)
        & (quality_expr("text") >= 0.5)
    )
    # checkpoint the gate-survivor frame: it feeds THREE consumers — the
    # decontamination hits build (via _overlap_hits), the jaccard shingle
    # materialization, and the final anti-join's left side — and without
    # it each one re-runs the Gopher Arrow kernel from the scan (3
    # MapInPandas chains in the r12 before-plan). Gate survivors only
    # (quality+length+split already applied at the scan), a corpus
    # fraction.
    gated = M.checkpointed(
        gopher_filter(pre, keep=("lang", "source", "n_chars", "text"))
    )
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    # checkpoint the decontaminated survivors (r13): kept feeds TWO
    # consumers — the jaccard shingle materialization and the final
    # anti-join's left side — and without the barrier the decontamination
    # stage (gram kernel over the gated corpus + eval grams + broadcast
    # anti-join, ~1.4s of the key's 6.4s profile) runs once per consumer.
    kept = M.checkpointed(decontaminate(gated, ev, n=5))
    pairs = ngram_jaccard_pairs(kept, threshold=0.12)
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return kept.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


CORPUS_CURATE_SQL = (
    "WITH RECURSIVE q AS ("
    + TEXT_QUALITY_SQL
    + "), "
    + _REP_SIGNALS.strip().rstrip()
    + ", "
    + _DECONTAM_GRAMS.strip()
    + """, kept0 AS (
  SELECT d.doc_id FROM documents d
  JOIN q ON q.doc_id = d.doc_id
  JOIN rep r ON r.doc_id = d.doc_id
  WHERE q.quality >= 0.5 AND d.n_chars BETWEEN 80 AND 5000
    AND r.n_words BETWEEN 20 AND 90 AND r.mean_word_len BETWEEN 3.0 AND 12.0
    AND r.top2_frac <= 0.20 AND r.dup5_frac <= 0.15
    AND d.doc_id % 20 <> 0
    AND d.doc_id NOT IN (SELECT DISTINCT c.doc_id FROM dc_c c JOIN dc_e e USING (gram))
), """
    + _SHINGLE_CTE.strip().removeprefix("WITH ").replace(
        "FROM documents",
        "FROM documents WHERE doc_id IN (SELECT doc_id FROM kept0)",
    )
    + """
, ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
drop_ids AS (
  SELECT src AS doc_id FROM reach GROUP BY src
  HAVING least(src, min(dst)) != src
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN kept0 k ON k.doc_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)
"""
)


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every document by
    hashed-unigram importance weights against the lang='en' target
    subset, keep the top 100 (deterministic doc_id tie-break). Two
    bucket-sized aggregations + a broadcast weight join + one doc-keyed
    sum — no corpus-sized shuffle beyond the score agg
    (operators/dsir.py has the full 100 TB shape note)."""
    from lakeside_spark.operators.dsir import dsir_select as _dsir

    docs = load_table(spark, sf_dir, "documents")
    return _dsir(docs, F.col("lang") == "en", k=100)


DSIR_SELECT_SQL = f"""
WITH wds AS (
  SELECT doc_id, lang = 'en' AS tgt,
         unnest(string_split({_NORM}, ' ')) AS w
  FROM documents
), wb AS (
  SELECT doc_id, tgt,
         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 256 AS b
  FROM wds WHERE w <> ''
), dist AS (
  SELECT b, count(*) AS rc, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
  FROM wb GROUP BY 1
), tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM dist),
wt AS (
  SELECT b, CAST(round((ln((tc + 1) / (tt + 256))
                        - ln((rc + 1) / (rt + 256))) * 1000000000, 0)
                 AS BIGINT) AS lr9
  FROM dist, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       ROUND(sum(lr9) / 1000000000.0, 6) AS dsir_score
FROM wb JOIN wt USING (b)
GROUP BY doc_id
ORDER BY dsir_score DESC, doc_id
LIMIT 100
"""


def vocab_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word collocations by pointwise mutual information
    (operators/textstats.collocations — phrase-mining seed list; ONE
    Arrow-kernel corpus pass emitting pre-aggregated unigram+bigram
    partials with a sentinel N row, one shuffle, broadcast unigram
    joins; every PMI a single ln of exact integer counts)."""
    from lakeside_spark.operators.textstats import collocations

    return collocations(load_table(spark, sf_dir, "documents"), min_count=5, k=100)


VOCAB_PMI_SQL = f"""
WITH wl AS (
  SELECT string_split({_NORM}, ' ') AS ws FROM documents
), bg AS (
  SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
  FROM wl WHERE len(ws) >= 2
), bgf AS (
  SELECT a, b FROM bg WHERE a <> '' AND b <> ''
), bgc AS (
  SELECT a, b, COUNT(*) AS c_ab FROM bgf GROUP BY 1, 2
), nbg AS (SELECT COUNT(*) AS n FROM bgf),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
)
SELECT bgc.a, bgc.b, bgc.c_ab,
       ROUND(ln(bgc.c_ab * (SELECT n FROM nbg) * 1.0
                / (ua.c * 1.0 * ub.c)), 6) AS pmi
FROM bgc JOIN uni ua ON bgc.a = ua.w JOIN uni ub ON bgc.b = ub.w
WHERE bgc.c_ab >= 5
ORDER BY pmi DESC, bgc.a, bgc.b
LIMIT 100
"""


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) via the md5 hash
    gate's bucket — leakage-safe: split membership is a pure function of
    doc_id, identical across engines and re-runs
    (operators/sampling.train_val_test_split; zero shuffles)."""
    from lakeside_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    return train_val_test_split(docs).select("doc_id", "lang", "split")


CORPUS_SPLIT_SQL = """
SELECT doc_id, lang,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 100 < 90.0 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 100 < 95.0 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def text_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: DEFLATE compression-ratio quality signal per document
    (operators/textstats.compression_ratio — map-only Arrow kernel, zero
    shuffles). DuckDB has no DEFLATE scalar, so no oracle; determinism,
    bounds, and repetitive<diverse ordering are pytest-pinned."""
    from lakeside_spark.operators.textstats import compression_ratio

    return compression_ratio(load_table(spark, sf_dir, "documents"))


def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local-match detection (Schleimer et al. 2003 — the MOSS
    fingerprinting algorithm; operators/winnow.py): char-8-gram md5
    hashes winnowed by a 4-window rightmost-min selection, document
    pairs ranked by shared fingerprints (≥2), boilerplate prints with
    document frequency >64 dropped before pairing. The LOCAL complement
    to MinHash/SimHash whole-doc similarity: any shared substring of
    ≥ w+k-1 = 11 normalized chars leaves a common fingerprint by the
    paper's guarantee. Exact oracle: the md5 grams, window selection and
    df-cut replay verbatim in SQL."""
    from lakeside_spark.operators.winnow import winnow_overlap

    docs = load_table(spark, sf_dir, "documents")
    return winnow_overlap(docs, k=8, w=4, min_shared=2, max_df=64)


TEXT_WINNOW_OVERLAP_SQL = f"""
WITH stripped AS (
  SELECT doc_id, replace({_NORM}, ' ', '') AS s FROM documents
), g AS (
  SELECT doc_id,
         CAST(unnest(range(1, greatest(len(s) - 6, 1))) AS BIGINT) AS pos,
         s
  FROM stripped
), h AS (
  SELECT doc_id, pos,
         CAST('0x' || substr(md5(substr(s, pos, 8)), 1, 15) AS BIGINT) AS h
  FROM g
), starts AS (
  SELECT doc_id,
         CAST(unnest(range(1, greatest(len(s) - 9, 1))) AS BIGINT) AS ws
  FROM stripped
), win AS (
  SELECT st.doc_id, st.ws, hh.pos, hh.h,
         row_number() OVER (PARTITION BY st.doc_id, st.ws
                            ORDER BY hh.h ASC, hh.pos DESC) AS rn
  FROM starts st
  JOIN h hh ON hh.doc_id = st.doc_id
           AND hh.pos BETWEEN st.ws AND st.ws + 3
), fp AS (
  SELECT DISTINCT doc_id, h AS fp FROM win WHERE rn = 1
), ok AS (
  SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 64
), pruned AS (
  SELECT f.doc_id, f.fp FROM fp f JOIN ok USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: n-gram CONTAINMENT
    |A∩B| / min(|A|,|B|) ≥ 0.5 pairs (operators/dedup.
    ngram_containment_pairs — Broder 1997's containment, the measure
    that catches a short doc quoted wholesale inside a long one where
    Jaccard stays tiny). One shingle pass, then dedup's shingle-pair
    counter (sparse Gram kernel or shingle self-join): exact at any size
    ratio."""
    from lakeside_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


DEDUP_CONTAINMENT_SQL = _SHINGLE_CTE + """
, ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       ROUND(n_common / least(sa.n_sh, sb.n_sh), 6) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / least(sa.n_sh, sb.n_sh) >= 0.5
"""


def corpus_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans at arbitrary alignment
    (operators/chunking.exact_substr_spans) — the ExactSubstr component
    of Lee et al. 2022: per document, every maximal span covered by
    ≥6-token substrings occurring ≥2 times corpus-wide (cross-doc and
    within-doc). The paper's suffix array is replaced by the equivalent
    sliding k-gram anchor count + per-doc interval merge — a
    wordcount-shaped plan (one gram aggregation, one anchor join, one
    doc-keyed window over duplicated anchors only) instead of a global
    sorted index. Complements corpus_span_dedup's non-overlapping tiles,
    which miss duplicates straddling tile boundaries."""
    from lakeside_spark.operators.chunking import exact_substr_spans

    return exact_substr_spans(
        load_table(spark, sf_dir, "documents"), k=6, min_count=2
    )


CORPUS_EXACT_SUBSTR_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
g0 AS (SELECT doc_id,
        [{{'pos': i - 1,
           'g': md5(array_to_string(list_slice(ws, i, i + 5), ' '))}}
         for i in range(1, len(ws) - 4)] AS grams
       FROM w WHERE len(ws) >= 6),
g AS (SELECT doc_id, unnest(grams, recursive := true) FROM g0),
dup AS (SELECT g FROM g GROUP BY 1 HAVING count(*) >= 2),
a AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos
      FROM g WHERE g IN (SELECT g FROM dup)),
i0 AS (SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 6
              THEN 1 ELSE 0 END AS new_isl
       FROM a),
i1 AS (SELECT doc_id, pos,
         SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
       FROM i0)
SELECT doc_id,
       MIN(pos) AS start_pos,
       MAX(pos) + 5 AS end_pos,
       MAX(pos) - MIN(pos) + 6 AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_anchors
FROM i1 GROUP BY doc_id, isl
"""


def corpus_substr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal action on corpus_exact_substr's span report
    (operators/chunking.exact_substr_scrub): every token covered by a
    duplicated ≥6-token substring is dropped from ALL occurrences (the
    deterministic every-occurrence policy — Lee et al.'s keep-one is
    ill-defined at the merged-span level) and documents reassemble in
    order, empty-but-present if fully covered. Shape: the shared
    duplicated-anchor plan + anchors exploded to ≤k covered positions
    (bounded by true duplication volume) + one anti-join against the
    token stream + one doc-keyed reassembly aggregate."""
    from lakeside_spark.operators.chunking import exact_substr_scrub

    return exact_substr_scrub(
        load_table(spark, sf_dir, "documents"), k=6, min_count=2
    )


CORPUS_SUBSTR_SCRUB_SQL = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
g0 AS (SELECT doc_id,
        [{{'pos': i - 1,
           'g': md5(array_to_string(list_slice(ws, i, i + 5), ' '))}}
         for i in range(1, len(ws) - 4)] AS grams
       FROM w WHERE len(ws) >= 6),
g AS (SELECT doc_id, unnest(grams, recursive := true) FROM g0),
dup AS (SELECT g FROM g GROUP BY 1 HAVING count(*) >= 2),
a AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos
      FROM g WHERE g IN (SELECT g FROM dup)),
cov AS (SELECT DISTINCT a.doc_id, a.pos + u.i AS pos FROM a, range(6) u(i)),
t0 AS (SELECT doc_id,
        [{{'pos': i - 1, 'tok': ws[i]}} for i in range(1, len(ws) + 1)] AS toks
       FROM w),
t AS (SELECT doc_id, unnest(toks, recursive := true) FROM t0),
kept AS (SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos, t.tok
         FROM t
         WHERE NOT EXISTS (SELECT 1 FROM cov c
                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
surv AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                CAST(count(*) AS BIGINT) AS n_kept
         FROM kept GROUP BY doc_id)
SELECT w.doc_id, coalesce(surv.clean_text, '') AS clean_text,
       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(len(w.ws) AS BIGINT) - CAST(coalesce(surv.n_kept, 0) AS BIGINT)
         AS n_removed
FROM w LEFT JOIN surv ON w.doc_id = surv.doc_id
"""
