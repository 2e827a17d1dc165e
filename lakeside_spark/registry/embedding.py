"""Registry keys: embedding / ANN / multimodal operators (SURVEY §2 F)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeside_spark.sources.tables import load_table


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


ANN_COSINE_TOPK_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 5
), ranked AS (
  SELECT q_id, n_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def embedding_knn_mislabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise score (confident-learning style, the neighborhood
    sibling of embedding_label_outliers' centroid method): for every
    vector, the fraction of its 10 exact cosine nearest neighbors
    carrying a different label. Exact kernel here (broadcast query
    matrix × Arrow block matmul — the corpus is the query set); at
    100 TB ``self_knn`` flips (count-probe gate) to its hyperplane-bucket
    SELF-join path — no broadcast, no driver collect, bucket-bounded
    candidates. Label attach is a plain equi-join on the top-k output
    (corpus-sized but k-bounded rows), never a broadcast of a
    corpus-sized side."""
    from lakeside_spark.operators.similarity import self_knn

    emb = load_table(spark, sf_dir, "embeddings")
    nn = self_knn(emb, k=10)
    lab = emb.select("vec_id", "label")
    own = lab.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("own_label")
    )
    nbr = lab.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
    )
    j = nn.join(own, "q_id").join(nbr, "n_id")
    return (
        j.groupBy("q_id", "own_label")
        .agg(
            F.count("*").alias("k"),
            F.round(
                F.avg(
                    F.when(
                        F.col("n_label") != F.col("own_label"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("knn_disagree"),
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("own_label").alias("label"),
            "k",
            "knn_disagree",
        )
    )


EMBEDDING_KNN_MISLABEL_SQL = """
WITH scored AS (
  SELECT q.vec_id AS q_id, q.label AS label, c.label AS n_label, c.vec_id AS n_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
)
SELECT q_id AS vec_id, label, COUNT(*) AS k,
       ROUND(AVG(CASE WHEN n_label != label THEN 1.0 ELSE 0.0 END), 6)
           AS knn_disagree
FROM ranked WHERE rank <= 10 GROUP BY 1, 2
"""


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe hyperplane-LSH ANN (the 100 TB
    fan-out-bounded path; 4 tables × 1-bit probing, ~0.4 recall@5 on the
    isotropic panel vs 0.03 for round-5's single exact-bucket table).
    Oracle-exact since round 8: the hyperplanes are a pure function of
    md5("{salt}:{p}:{i}") parity, so the DuckDB twin re-derives the
    identical ±1 planes, replays bucket signs / 1-bit probes as string
    surgery, and scores the same candidate set with exact cosine —
    recall floors vs the exact baseline stay pytest-pinned."""
    from lakeside_spark.operators.similarity import ann_lsh as _ann_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return _ann_lsh(emb, emb.filter(F.col("vec_id") < 5), k=5, num_planes=4)


# Twin oracle: the planes/buckets replay the engine's md5 definition
# (operators/similarity._hyperplane_matrix — salt 0 hashes "p:i", salted
# tables "{t}:{p}:{i}"); candidate generation (bucket equality in ANY
# table, query side probing every 1-bit flip) and the exact-cosine
# rerank are independent SQL spellings. Bucket-bit sign flips would need
# a dot product within ~1 ulp of zero — not a realizable input here.
ANN_LSH_SQL = """
WITH planes AS (
  SELECT tt.t, pp.p, ii.i,
         CASE WHEN CAST('0x' || substr(md5(CASE WHEN tt.t = 0
                      THEN pp.p || ':' || ii.i
                      ELSE tt.t || ':' || pp.p || ':' || ii.i END), 1, 4)
                   AS BIGINT) % 2 = 0
              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS c
  FROM range(4) tt(t), range(4) pp(p), range(64) ii(i)
), dims AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), bits AS (
  SELECT d.vec_id, pl.t, pl.p, (SUM(d.x * pl.c) > 0) AS bit
  FROM dims d JOIN planes pl ON pl.i = d.i
  GROUP BY 1, 2, 3
), sigs AS (
  SELECT vec_id, t,
         string_agg(CASE WHEN bit THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM bits GROUP BY 1, 2
), cbuck AS (
  SELECT vec_id AS n_id, 't' || t || ':' || sig AS bucket FROM sigs
), qprobe AS (
  SELECT s.vec_id AS q_id,
         't' || s.t || ':' ||
         CASE WHEN ff.fl < 0 THEN s.sig
              ELSE substr(s.sig, 1, ff.fl)
                   || (CASE WHEN substr(s.sig, ff.fl + 1, 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substr(s.sig, ff.fl + 2) END AS bucket
  FROM sigs s, range(-1, 4) ff(fl)
  WHERE s.vec_id < 5
), cand AS (
  SELECT DISTINCT q.q_id, c.n_id
  FROM qprobe q JOIN cbuck c USING (bucket)
  WHERE q.q_id <> c.n_id
), scored AS (
  SELECT cd.q_id, cd.n_id,
         list_cosine_similarity(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos
  FROM cand cd
  JOIN embeddings q ON q.vec_id = cd.q_id
  JOIN embeddings c ON c.vec_id = cd.n_id
), ranked AS (
  SELECT q_id, n_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (snapped spherical-kmeans coarse quantizer, n_probe
    cells per query — the FAISS-style 100 TB path). ORACLE-EXACT since
    r10: the quantizer is the replayable snapped k-means
    (operators/kmeans_replay) and every assignment/probe/scoring value
    is an order-free 1e-9 integer dot, so ANN_IVF_SQL
    (registry/_kmeans_sql) replays training, assignment, probing and
    ranking bit-for-bit; recall floors stay pytest-pinned."""
    from lakeside_spark.operators.similarity import ann_ivf as _ann_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    return _ann_ivf(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=16, n_probe=6,
    )


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (16 sub-quantizers × 64 codes with global
    ADC shortlist + exact refine — the FAISS PQ compressed-domain 100 TB
    path; ~32× vector compression). ORACLE-EXACT since r10: codebooks
    are the replayable snapped per-subspace L2 k-means at 1e-6 fixed
    point (operators/pq_replay) and encoding/ADC/shortlist/rerank are
    all exact int64 arithmetic, so ANN_PQ_SQL (registry/_pq_sql) replays
    the whole pipeline bit-for-bit; recall floors stay pytest-pinned
    (the OPQ-rotated variant runs the same pipeline on rotated vectors;
    its float rotation keeps it panel-only, the ann_recall_report row
    ``pq_opq``)."""
    from lakeside_spark.operators.similarity import ann_pq as _ann_pq

    emb = load_table(spark, sf_dir, "embeddings")
    return _ann_pq(
        emb, emb.filter(F.col("vec_id") < 5), k=5, m_subs=16, n_codes=64,
    )


def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster embeddings, drop intra-cell semantic near-dups
    greedily by ascending id; τ=0.4 matches this corpus's cosine range —
    real text embeddings would sit near the paper's 0.95). ORACLE-EXACT
    since r10: snapped-kmeans quantizer + integer greedy cosines, all
    replayed by SEMDEDUP_SQL (training, assignment AND the per-cell
    greedy scan as a lockstep recursive CTE)."""
    from lakeside_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, threshold=0.4, n_cells=16)


def embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: training-corpus vectors that are
    embedding-space near-duplicates of the held-out benchmark slice
    (every 50th vec_id stands in for the eval set), with their best
    benchmark match — the paraphrase-catching second pass next to the
    n-gram decontam family (operators/decontam_semantic.benchmark
    _matches). Map-only broadcast-benchmark kernel; ORACLE-EXACT by
    construction (snapped unit vectors, order-free integer dots,
    integer threshold compare, first-max ties)."""
    from lakeside_spark.operators.decontam_semantic import benchmark_matches

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return benchmark_matches(corpus, bench, threshold=0.35)


# Twin: unit9 both sides (the SHARED _UNIT_CTE spelling from
# _kmeans_sql — one source for the snapped-norm SQL), integer dots,
# best benchmark per corpus row by (cos9 desc, bench_id asc), keep at
# cos9 >= round(0.35e9). The modulo split replays the registry's
# benchmark stand-in.
from lakeside_spark.registry._kmeans_sql import _UNIT_CTE as _U9_CTE

EMBEDDING_DECONTAM_SQL = f"""
WITH {_U9_CTE},
pairs AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
    list_sum(list_transform(range(64), d ->
      CAST(round((CAST(c.u9[d + 1] AS DOUBLE) / 1e9)
           * (CAST(b.u9[d + 1] AS DOUBLE) / 1e9) * 1e9) AS BIGINT)))
      AS cos9
  FROM au c, au b
  WHERE c.vec_id % 50 != 0 AND b.vec_id % 50 = 0
),
best AS (
  SELECT vec_id, bench_id, cos9,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos9 DESC, bench_id) AS rk
  FROM pairs
)
SELECT vec_id, bench_id,
       (ROUND(CAST(cos9 AS DOUBLE) / 1e9, 6) + 0.0::DOUBLE) AS cos
FROM best WHERE rk = 1 AND cos9 >= 350000000
"""


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleanlab-style label-error candidates: vectors whose cosine to their
    own label's centroid is negative (the ~10% tail at this data's
    clustering strength) — mislabeled or out-of-distribution training
    examples."""
    from lakeside_spark.operators.similarity import label_centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, threshold=0.0)


EMBEDDING_LABEL_OUTLIERS_SQL = """
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS val
  FROM embeddings
), cent AS (
  SELECT label, dim, AVG(CAST(val AS DOUBLE)) AS c FROM ex GROUP BY 1, 2
), sc AS (
  SELECT ex.vec_id, ex.label,
         SUM(CAST(ex.val AS DOUBLE) * cent.c) AS dot,
         SUM(CAST(ex.val AS DOUBLE) * CAST(ex.val AS DOUBLE)) AS n1,
         SUM(cent.c * cent.c) AS n2
  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
  GROUP BY 1, 2
)
SELECT vec_id, label, ROUND(dot / (sqrt(n1) * sqrt(n2)), 6) AS cos_to_centroid
FROM sc WHERE ROUND(dot / (sqrt(n1) * sqrt(n2)), 6) < 0.0
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeside_spark.operators.multimodal import synthesize_media, with_media_metadata

    docs = load_table(spark, sf_dir, "documents")
    media = with_media_metadata(synthesize_media(docs))
    return media.select(
        "doc_id",
        F.col("media_meta.byte_size").alias("byte_size"),
        F.sha2(F.col("media"), 256).alias("content_sha256"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id, octet_length(encode(text)) AS byte_size,
       sha256(text) AS content_sha256
FROM documents
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA: mean, sample std, and near-zero
    fraction per coordinate — the dead/collapsed-dimension report run
    before trusting an embedding table for dedup/ANN. posexplode →
    one 64-key aggregation (map-side combined). Sums go through
    fixed-point integers (float addition is order-dependent across
    partial aggregates); the variance formula then runs on the exact
    integer sums cast to double, identically in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    q = F.round(F.col("x") * 1e7).cast("long")
    t = ex.select((F.col("pos") + 1).cast("bigint").alias("dim"), q.alias("q"))
    agg = t.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("s2"),
        F.sum(F.when(F.abs(F.col("q")) < 100000, 1).otherwise(0)).alias(
            "n_small"
        ),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    return agg.select(
        "dim",
        "n",
        F.round(s1d / nd / 1e7, 6).alias("mean"),
        F.round(
            F.sqrt((s2d - s1d * s1d / nd) / (nd - 1) / 1e14), 6
        ).alias("std"),
        F.round(F.col("n_small").cast("double") / nd, 6).alias("frac_small"),
    )


EMBEDDING_DIM_STATS_SQL = """
WITH t AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000, 0)
              AS BIGINT) AS q
  FROM embeddings
), a AS (
  SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
         SUM(CAST(q AS HUGEINT)) AS s1,
         SUM(CAST(q * q AS HUGEINT)) AS s2,
         SUM(CASE WHEN ABS(q) < 100000 THEN 1 ELSE 0 END) AS n_small
  FROM t GROUP BY 1
)
SELECT dim, n,
       ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e7, 6) AS mean,
       ROUND(SQRT((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1) / 1e14), 6) AS std,
       ROUND(CAST(n_small AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_small
FROM a
"""


def embedding_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-style linear quality scorer over the embedding column:
    sigmoid(w·v) with a fixed deterministic weight vector (sin(1..64)),
    keep score ≥ 0.5. The weights broadcast as a literal expression; the
    scan stays map-only — the shape of classifier-based corpus filtering
    (e.g. the GPT-3 / LLaMA quality classifiers) at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.transform(
        F.sequence(F.lit(1), F.lit(64)), lambda i: F.sin(i.cast("double"))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), w, lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
    return (
        emb.select(
            "vec_id", "label", F.round(score, 6).alias("quality_score")
        )
        .filter(F.col("quality_score") >= 0.5)
    )


EMBEDDING_QUALITY_FILTER_SQL = """
SELECT vec_id, label,
       round(1/(1+exp(-list_dot_product(embedding::DOUBLE[],
             [sin(i) for i in range(1, 65)]))), 6) AS quality_score
FROM embeddings
WHERE round(1/(1+exp(-list_dot_product(embedding::DOUBLE[],
      [sin(i) for i in range(1, 65)]))), 6) >= 0.5
"""


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: image near-dup detection end-to-end — synthesize real
    PNGs from the documents table, add a deterministically brightened
    variant for every 50th doc (id + 1e6), perceptual-hash everything
    (32×32 DCT, 63-bit signature) in an Arrow kernel, and find pairs
    within hamming 6 via the shared pigeonhole-banded join. Budget 6 is
    the largest that keeps the banded path on a 63-bit signature
    (7 bands × 9 bits ≥ 8; a larger budget would silently fall back to
    the O(n²) all-pairs join hamming_pairs now warns about). Expected
    pairs: most variants against their original (measured distances
    2-8; the distance-8 tail is honestly past the near-dup budget);
    unrelated md5-noise images sit ≥14 bits apart, so zero false pairs.
    DCT hashing is not SQL-expressible."""
    from lakeside_spark.operators.dedup import hamming_pairs
    from lakeside_spark.operators.multimodal import synth_phash64

    docs = load_table(spark, sf_dir, "documents")
    # FUSED text→hash kernels (r13, guide §4): the chained shape
    # (synthesize → checkpoint ~1KB PNG/doc → perturb → phash decode)
    # shipped every blob across the Python↔JVM boundary twice and paid a
    # PNG encode+decode per doc; the PNG roundtrip is lossless for uint8
    # gray, so hashing the synthesized pixels directly is bit-identical
    # (fused-vs-chained parity pytest) and no media frame exists at all
    base = synth_phash64(docs, width=32, height=32)
    variants = synth_phash64(
        docs.filter(F.col("doc_id") % 50 == 0), width=32, height=32, perturb=True
    )
    return hamming_pairs(
        base.unionByName(variants), max_hamming=6, bits=63, hash_col="phash"
    )


def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: audio near-dup detection end-to-end — synthesize real
    WAV clips from the documents table, add a gain-changed noisy variant
    for every 50th doc (id + 1e6), fingerprint with the spectral-band
    difference scheme (Haitsma-Kalker style, 49 bits = 7 windows × 7
    band-pairs), and pair via the shared banded hamming join. FFT fingerprinting is not
    SQL-expressible."""
    from lakeside_spark.operators.audiofp import BITS, synth_audio_fingerprint
    from lakeside_spark.operators.dedup import hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    # FUSED text→fingerprint kernels (r13, guide §4): the chained shape
    # (synthesize → checkpoint ~8KB WAV/doc → perturb → FFT decode)
    # shipped every clip across the Python↔JVM boundary twice and paid a
    # PCM encode+decode per doc; _pcm_roundtrip replays the int16
    # quantization in-kernel, so the fused fingerprints are bit-identical
    # (fused-vs-chained parity pytest) and no media frame exists at all
    base = synth_audio_fingerprint(docs)
    variants = synth_audio_fingerprint(
        docs.filter(F.col("doc_id") % 50 == 0), perturb=True
    )
    return hamming_pairs(
        base.unionByName(variants), max_hamming=5, bits=BITS, hash_col="afp"
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: synthesize REAL PNGs from the documents table, then
    pixel-decode them with the stdlib codec (operators/codecs.py) and emit
    per-image feature vectors — PNG inflate + unfilter is not expressible
    in SQL, so this key has no oracle entry."""
    from lakeside_spark.operators.multimodal import (
        decode_features,
        synthesize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(synthesize_images(docs), dim=8)
    # Driver contract: the harness canonicalizes results with
    # pandas.sort_values over every column, which raises on list-valued
    # cells — serialize the vector as its JSON string (deterministic
    # after round-6) so the output is all-scalar.
    return feats.select(
        "doc_id",
        F.to_json(F.transform("features", lambda x: F.round(x, 6))).alias(
            "features"
        ),
    )


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only (NEW r12 — closes the repo's one remaining stub):
    synthesize REAL uncompressed-DIB AVI videos from a documents slice,
    RIFF-walk them for every-3rd-frame samples (operators/codecs.avi_*),
    DIB-decode the sampled frames, and emit per-frame pixel statistics.
    A RIFF chunk walk + DIB pixel decode is not expressible in SQL, so
    this key has no oracle entry; determinism and pixel exactness are
    pinned by the round-trip pytest (test_sample_frames_real_avi_*)."""
    from lakeside_spark.operators.codecs import dib_decode
    from lakeside_spark.operators.multimodal import (
        sample_frames,
        synthesize_videos,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    frames = sample_frames(
        synthesize_videos(docs, n_frames=6), every_n=3, max_frames=2
    )

    def stats_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            means, stds = [], []
            for buf, w, h in zip(pdf["frame"], pdf["width"], pdf["height"]):
                px = dib_decode(bytes(buf), int(w), int(h))
                means.append(round(float(px.mean()), 6))
                stds.append(round(float(px.std()), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "px_mean": pd.Series(means, dtype="float64"),
                    "px_std": pd.Series(stds, dtype="float64"),
                }
            )

    return frames.mapInPandas(
        stats_kernel,
        schema=(
            "doc_id bigint, frame_idx int, width int, height int,"
            " px_mean double, px_std double"
        ),
    )


def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only (NEW r12): video near-dup dedup — synthesize real AVIs
    from a documents slice, plant brightness-perturbed variants, hash
    each video with the temporally-pooled pHash (per-sampled-frame
    32×32-DCT 63-bit hashes, per-bit majority vote;
    operators/multimodal.video_phash) and pair through the SAME
    pigeonhole-banded hamming join the text-SimHash and image-pHash
    paths use. Recall on the planted variants is pinned by pytest; the
    banded join never goes all-pairs."""
    from lakeside_spark.operators.dedup import hamming_pairs
    from lakeside_spark.operators.multimodal import synth_video_phash

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    # FUSED text→hash kernels (r13, guide §4): the chained shape
    # (synthesize → checkpoint an uncompressed AVI/doc → perturb →
    # RIFF-walk + DIB decode) shipped every container across the
    # Python↔JVM boundary twice; the AVI/DIB roundtrip is lossless for
    # uint8 RGB, so hashing the synthesized frames directly is
    # bit-identical (parity pytest) — and only the SAMPLED frames are
    # synthesized (the chain encoded all 6)
    base = synth_video_phash(docs, n_frames=6)
    variants = synth_video_phash(
        docs.filter(F.col("doc_id") % 100 == 0), n_frames=6, perturb=True
    )
    return hamming_pairs(
        base.unionByName(variants), max_hamming=6, bits=63, hash_col="phash"
    )


def kmeans_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the distinct (source, lang) labels of the corpus into
    batches of similar names (reference: ClusteringUtils.clustered — a
    driver-side utility batching tag names for segment queries; the name
    list is tiny by construction, the clustering itself is local).
    ORACLE-EXACT since r10: the k-means is the replayable snapped
    spherical k-means over 1e-9-snapped bigram-jaccard feature vectors,
    and the k-growth selection is a pure function of the assignments —
    KMEANS_NAMES_SQL replays features, training for every k in [2, 6],
    assignment and the selection bit-for-bit (the ≤5-name Python
    passthrough never triggers on this corpus: ~100 names at every
    SF)."""
    from lakeside_spark.operators.clustering import cluster_names

    docs = load_table(spark, sf_dir, "documents")
    names = sorted(
        r[0]
        for r in docs.select(
            F.concat_ws("/", "source", "lang").alias("n")
        ).distinct().collect()
    )
    clusters = cluster_names(names)
    rows = [
        (cid, name) for cid, cluster in enumerate(clusters) for name in sorted(cluster)
    ]
    return spark.createDataFrame(rows, schema="cluster_id int, name string")


def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling plan — spherical-kmeans cells with
    population, centroid cohesion, and the keep-rate that equalizes the
    mixture across semantic clusters
    (operators/similarity.embedding_cluster_stats). ORACLE-EXACT since
    r10: the quantizer is the replayable snapped k-means
    (operators/kmeans_replay) and EMB_CLUSTER_STATS_SQL replays training
    + assignment as a DuckDB recursive CTE; invariants stay
    pytest-pinned."""
    from lakeside_spark.operators.similarity import (
        embedding_cluster_stats as _stats,
    )

    return _stats(load_table(spark, sf_dir, "embeddings"))


def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding column — one map-combine
    fixed-point covariance pass (d²-sized integer partials), driver
    eigendecomposition, broadcast map-only transform
    (operators/similarity.embedding_whitening). ORACLE-EXACT since r10:
    the eigensolve is the snapped parallel Jacobi
    (operators/eigh_replay) and EMB_WHITENING_SQL replays it as a
    DuckDB recursive CTE — output exploded to (vec_id, dim, val) scalar
    rows so the hash compare sees plain doubles."""
    from lakeside_spark.operators.similarity import (
        embedding_whitening as _whiten,
    )

    out = _whiten(load_table(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", _round6_as_duckdb(F.col("val")))


def _round6_as_duckdb(val: Column) -> Column:
    """DuckDB's ROUND(x, 6): std::round(x·1e6)/1e6 in doubles, where Spark's
    round(x, 6) takes x = -1.0451255 (x·1e6 = -1045125.4999999999) the other
    way. ``+ 0.0`` clears a negative zero."""
    return F.round(val * 1e6) / 1e6 + 0.0


def embedding_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge linear probe predicting the label column from
    frozen embeddings (Alain & Bengio 2016 — the standard
    representation-quality diagnostic). ONE packed moment pass
    (per-task [n, Σy, yᵀy, Xᵀy, XᵀX] partials, element-wise reduce),
    driver (d+1)² solve, broadcast map-only predictions with R² from
    the same moments (operators/similarity.embedding_linear_probe).
    ORACLE-EXACT since r8: moments are 1e-9 fixed-point integer sums,
    the solve is a deterministic no-pivot Gaussian elimination with
    snapped back-substitution, and EMB_LINEAR_PROBE_SQL replays the
    identical IEEE op sequence as DuckDB recursive CTEs (the
    pagerank/Holt-Winters recipe applied to a matrix solve); the
    independent numpy-closed-form anchor stays in the pytest."""
    from lakeside_spark.operators.similarity import (
        embedding_linear_probe as _probe,
    )

    return _probe(load_table(spark, sf_dir, "embeddings"))


# The deterministic ridge solve replayed in SQL: fixed-point integer
# moments -> no-pivot Gaussian elimination as a recursive CTE (window
# functions pull the pivot row/column from the single allowed recursive
# reference) -> back-substitution carrying the solved coefficients as a
# growing list -> snapped-dot-product predictions and moment-derived R².
# Dimensions hardcoded to the 64-dim embedding column (da = 65 with the
# bias term), like every other embedding oracle here.
EMB_LINEAR_PROBE_SQL = """
WITH RECURSIVE
base AS MATERIALIZED (
  SELECT vec_id, list_append(CAST(embedding AS DOUBLE[]), 1.0::DOUBLE) AS x,
         CAST(label AS DOUBLE) AS y
  FROM embeddings WHERE label IS NOT NULL
),
idx AS (SELECT UNNEST(range(65)) AS i),
mom AS MATERIALIZED (
  SELECT ii.i AS i, jj.i AS j,
         SUM(CAST(round(b.x[ii.i+1] * b.x[jj.i+1] * 1e9) AS HUGEINT)) AS m9
  FROM base b, idx ii, idx jj
  GROUP BY 1, 2
),
xty AS MATERIALIZED (
  SELECT ii.i AS i,
         SUM(CAST(round(b.x[ii.i+1] * b.y * 1e9) AS HUGEINT)) AS t9
  FROM base b, idx ii GROUP BY 1
),
scal AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(round(y * 1e9) AS HUGEINT)) AS sy9,
         SUM(CAST(round(y * y * 1e9) AS HUGEINT)) AS yy9
  FROM base
),
aug AS (
  SELECT i, j,
         CAST(m9 AS DOUBLE)/1e9
           + (CASE WHEN i = j AND i < 64 THEN 0.001::DOUBLE
              ELSE 0.0::DOUBLE END) AS a
  FROM mom
  UNION ALL
  SELECT i, 65 AS j, CAST(t9 AS DOUBLE)/1e9 AS a FROM xty
),
ge AS (
  SELECT 0 AS k, i, j, a FROM aug
  UNION ALL
  SELECT k+1, i, j,
         CASE WHEN i <= k THEN a ELSE a - (aik * akj / akk) END
  FROM (
    SELECT k, i, j, a,
      MAX(CASE WHEN j = k THEN a END) OVER (PARTITION BY i) AS aik,
      MAX(CASE WHEN i = k THEN a END) OVER (PARTITION BY j) AS akj,
      MAX(CASE WHEN i = k AND j = k THEN a END) OVER () AS akk
    FROM ge WHERE k < 64
  ) s
),
urows AS MATERIALIZED (
  SELECT i, list(a ORDER BY j) AS row_all
  FROM ge WHERE k = 64 GROUP BY i
),
bs AS (
  SELECT 0 AS t, [ (r.row_all[66] - 0.0::DOUBLE) / r.row_all[65] ] AS ws
  FROM urows r WHERE r.i = 64
  UNION ALL
  SELECT t+1,
    list_prepend(
      ( (r.row_all[66]
         - CAST(list_sum(list_transform(range(t+1),
             k -> CAST(round(r.row_all[(64 - t) + k + 1] * ws[k+1] * 1e9)
                       AS HUGEINT))) AS DOUBLE) / 1e9
        ) / r.row_all[64 - t] ),
      ws) AS ws
  FROM bs, urows r
  WHERE bs.t < 64 AND r.i = 63 - bs.t
),
wvec AS MATERIALIZED (SELECT ws FROM bs WHERE t = 64),
mrows AS MATERIALIZED (
  SELECT i, list(CAST(m9 AS DOUBLE)/1e9 ORDER BY j) AS mv FROM mom GROUP BY i
),
wx AS (
  SELECT m.i,
    CAST(list_sum(list_transform(range(65),
        k -> CAST(round(m.mv[k+1] * w.ws[k+1] * 1e9) AS HUGEINT)))
      AS DOUBLE)/1e9 AS v,
    w.ws[m.i+1] AS wi
  FROM mrows m, wvec w
),
qp AS (
  SELECT CAST(SUM(CAST(round(wi * v * 1e9) AS HUGEINT)) AS DOUBLE)/1e9 AS q
  FROM wx
),
pp AS (
  SELECT CAST(SUM(CAST(round(w.ws[x.i+1] * (CAST(x.t9 AS DOUBLE)/1e9) * 1e9)
              AS HUGEINT)) AS DOUBLE)/1e9 AS p
  FROM xty x, wvec w
),
r2v AS (
  SELECT CASE
    WHEN (CAST(s.yy9 AS DOUBLE)/1e9
          - ((CAST(s.sy9 AS DOUBLE)/1e9 * (CAST(s.sy9 AS DOUBLE)/1e9)) / s.n))
         <= 0
    THEN 0.0::DOUBLE
    ELSE LEAST(GREATEST(
      1.0::DOUBLE
      - (((CAST(s.yy9 AS DOUBLE)/1e9 - 2.0::DOUBLE * pp.p) + qp.q)
         / (CAST(s.yy9 AS DOUBLE)/1e9
            - ((CAST(s.sy9 AS DOUBLE)/1e9 * (CAST(s.sy9 AS DOUBLE)/1e9))
               / s.n)))
      , 0.0::DOUBLE), 1.0::DOUBLE)
    END AS r2
  FROM scal s, qp, pp
),
preds AS (
  SELECT b.vec_id, b.y AS label,
    CAST(list_sum(list_transform(range(64),
          k -> CAST(round(b.x[k+1] * w.ws[k+1] * 1e9) AS HUGEINT)))
        + CAST(round(w.ws[65] * 1e9) AS HUGEINT)
      AS DOUBLE) / 1e9 AS pred
  FROM base b, wvec w
)
SELECT p.vec_id,
       p.label,
       (round(p.pred, 6) + 0.0::DOUBLE) AS pred,
       (round(p.label - p.pred, 6) + 0.0::DOUBLE) AS resid,
       (round(r.r2, 6) + 0.0::DOUBLE) AS r2
FROM preds p, r2v r
"""


def embedding_pca_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA reduction of the embedding column to 16 dims
    (store-smaller/search-faster; pairs with ann_sq8 for ~32x end-to-end
    shrink). Same one-moment-pass + driver-eigensolve +
    map-only-projection shape as embedding_whitening; explained-variance
    ratio rides along. ORACLE-EXACT since r10 via the snapped parallel
    Jacobi replay (operators/eigh_replay, EMB_PCA_REDUCE_SQL) — output
    exploded to (vec_id, dim, val, evr) scalar rows."""
    from lakeside_spark.operators.similarity import (
        embedding_pca_reduce as _pca,
    )

    out = _pca(load_table(spark, sf_dir, "embeddings"))
    return (
        out.select(
            "vec_id", "evr", F.posexplode("embedding").alias("dim", "val")
        )
        .withColumn("val", F.round("val", 6))
        .withColumn("evr", F.round("evr", 6))
        .select("vec_id", "dim", "val", "evr")
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: the ANN index-selection report — recall@5 and mean
    |cos error| vs the exact baseline for every approximate index the
    engine ships (lsh / ivf / ivf_ma / pq / pq_opq / sq8), over a
    20-query panel. The one-key answer to "which index do I build for
    this corpus?"; each variant's own scale contract is documented at
    its operator. ``pq_opq`` is ``pq``'s pipeline and training sample on
    OPQ-rotated vectors, so the two rows differ by the rotation alone.
    The ivf and pq rows share one id-ordered training sample collected
    once per call (sq8 collects the same rows for itself). Exact top-k is the ground truth, so this is
    self-validating (no oracle — the comparison IS against the
    in-engine exact path)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from lakeside_spark.operators.similarity import (
        _train_mat_sample,
        ann_ivf as _ivf,
        ann_lsh as _lsh,
        ann_pq as _pq,
        ann_sq8 as _sq8,
        cosine_topk,
        ivf_quantizer,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    # train the shared state SYNCHRONOUSLY, once per call, so every
    # builder below is independent and the pool runs all seven jobs truly
    # concurrently: the id-ordered training sample (fed to the snapped
    # ivf quantizer and both pq rows' codebooks) and the ivf coarse quantizer
    # that ivf and ivf_ma share. Chaining ivf_ma behind ivf (the r11
    # shape) put ~2s of index build on the critical path to protect a
    # 0.5s driver-side k-means (r13 profile: ivf+ivf_ma serial 3.6s was
    # the longest chain ≈ the whole key's 4.5s quiet floor).
    mat = _train_mat_sample(emb, "vec_id", "embedding", 10_000)
    cents9 = None if mat is None else ivf_quantizer(mat, 16)
    # The panel rows are independent Spark jobs over the same corpus —
    # submit them from driver threads so local/cluster task slots stay
    # saturated instead of paying seven serial job latencies.
    builders = {
        "lsh": lambda: _lsh(emb, qs, k=5),
        "ivf": lambda: _ivf(emb, qs, k=5, centroids9=cents9),
        # SPANN-style boundary replication: x2 index, same probe fan-out
        "ivf_ma": lambda: _ivf(emb, qs, k=5, n_assign=2, centroids9=cents9),
        "pq": lambda: _pq(emb, qs, k=5, train_mat=mat),
        # the same PQ pipeline on OPQ-rotated vectors, trained on the
        # same sample: the row's distance from "pq" is the rotation alone
        "pq_opq": lambda: _pq(emb, qs, k=5, rotation="opq", train_mat=mat),
        "sq8": lambda: _sq8(emb, qs, k=5),
    }

    def run(name):
        df = builders[name]()
        return df.columns, df.collect()

    # the builders' jobs carry the caller's job description, local
    # properties and tags
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=7) as pool:
        f_exact = pool.submit(inherit(lambda: cosine_topk(emb, qs, k=5).collect()))
        futs = {m: pool.submit(inherit(run), m) for m in builders}
        exact = {(r["q_id"], r["n_id"]): r["cos"] for r in f_exact.result()}
        results = {m: f.result() for m, f in futs.items()}

    rows = []
    for method in sorted(results):
        cols, got = results[method]
        score_col = next(c for c in cols if c.startswith("cos"))
        hits = [r for r in got if (r["q_id"], r["n_id"]) in exact]
        recall = len(hits) / max(len(exact), 1)
        # no overlapping pairs → no error estimate (a 0.0 here would rank
        # a zero-recall index as best-possible on the error column)
        err = (
            round(
                sum(
                    abs(r[score_col] - exact[(r["q_id"], r["n_id"])])
                    for r in hits
                )
                / len(hits),
                6,
            )
            if hits
            else None
        )
        rows.append((method, len(got), round(recall, 6), err))
    return spark.createDataFrame(
        rows, "method string, n_pairs long, recall_at_5 double, mean_cos_err double"
    )


def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (FAISS SQ8) — byte codes per dimension
    against sample-learned per-dim min/max, dequantized BLAS scoring,
    8× compression at near-exact recall (recall-vs-exact pytest-pinned;
    the middle point between exact cosine_topk and PQ's 32×).
    Oracle-exact since round 8: the quantizer is MIN/MAX over unit
    vectors and encode/dequantize/score are pure arithmetic, so the
    DuckDB twin replays the whole pipeline. Validity condition: the
    id-ordered train sample (the first 10000 vec_ids) covers the corpus
    at every test SF, so the learned bounds ARE the global per-dim
    bounds the SQL computes — at a larger corpus the quantizer is a
    function of that fixed sample (not of partition order) but no longer
    the global bounds, and the key reverts to its recall contract."""
    from lakeside_spark.operators.similarity import ann_sq8 as _sq8

    emb = load_table(spark, sf_dir, "embeddings")
    return _sq8(emb, emb.filter(F.col("vec_id") < 5), k=5)


# Twin oracle: unit-normalize, per-dim MIN/[MAX-MIN] quantizer, byte
# codes round((u-lo)/sp*255) clamped to [0,255], dequantized dot scored
# against the unit queries — operators/similarity.ann_sq8 step for step.
# np.rint is half-even vs SQL round half-away: they differ only on exact
# .5 products, which unit-normalized doubles do not land on.
ANN_SQ8_SQL = """
WITH dims AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), norms AS (
  SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM dims GROUP BY 1
), unitd AS (
  SELECT d.vec_id, d.i,
         d.x / (CASE WHEN n.nrm = 0 THEN 1.0::DOUBLE ELSE n.nrm END) AS u
  FROM dims d JOIN norms n USING (vec_id)
), quant AS (
  SELECT i, MIN(u) AS lo,
         CASE WHEN MAX(u) - MIN(u) = 0 THEN 1.0::DOUBLE
              ELSE MAX(u) - MIN(u) END AS sp
  FROM unitd GROUP BY 1
), deq AS (
  SELECT c.vec_id, c.i, q.lo + c.code / 255.0::DOUBLE * q.sp AS v
  FROM (
    SELECT ud.vec_id, ud.i,
           LEAST(255, GREATEST(0,
             CAST(round((ud.u - q0.lo) / q0.sp * 255.0::DOUBLE, 0) AS INT)
           )) AS code
    FROM unitd ud JOIN quant q0 USING (i)
  ) c JOIN quant q USING (i)
), scored AS (
  SELECT qu.vec_id AS q_id, d.vec_id AS n_id, SUM(qu.u * d.v) AS cos_sq
  FROM unitd qu JOIN deq d ON d.i = qu.i AND d.vec_id <> qu.vec_id
  WHERE qu.vec_id < 5
  GROUP BY 1, 2
), ranked AS (
  SELECT q_id, n_id, cos_sq,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sq DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, ROUND(cos_sq, 6) AS cos_sq, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
