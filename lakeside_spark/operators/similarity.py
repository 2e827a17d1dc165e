"""Similarity search over embedding columns.

Execution strategy (the part that matters at 100 TB):

- The scoring kernel is a blocked matrix multiply via Arrow-batched
  ``mapInPandas``: the small side (query set / corpus block) is broadcast as
  a numpy matrix, each corpus partition multiplies its block against it in
  C (BLAS), and only surviving (pair, score) rows are emitted. This beats
  per-pair expression evaluation by orders of magnitude — per-row
  higher-order-function lambdas are interpreted, and a pair join would ship
  every vector twice through the shuffle.
- brute-force cosine top-k: corpus × broadcast-queries, exact — the
  oracle-checkable baseline.
- hyperplane-LSH ANN / bucketed pairing: bounds candidate fan-out when the
  "small side" no longer fits a broadcast — the scale path (recall < 1 by
  design).

The operators here never evaluate vectors row-at-a-time.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeside_spark.functions.vectors import as_double_array
from lakeside_spark.operators.kmeans_replay import (
    _dots9,
    _snap9i,
    spherical_kmeans_snapped,
    unit9,
)
from lakeside_spark.operators.pq_replay import pq_train_snapped
from lakeside_spark.sources.footers import input_file_bytes, local_parquet_meta, plan_nodes_within

#: self_knn and embedding_dup_pairs take their exact broadcast side up to
#: this many vectors and their bucketed / LSH scale side above it. Read at
#: call time, so a test forces either side by patching the module
#: attribute.
BROADCAST_LIMIT = 100_000


#: logical plan nodes that keep a file scan's partitioning
_SCAN_PRESERVING = frozenset(
    ("Project", "Filter", "Generate", "MapInPandas", "Relation", "LogicalRelation")
)


def _effective_input_parallelism(df: DataFrame) -> int:
    """Achievable scan parallelism — NOT just the split count.

    Spark splits a parquet file into byte ranges, but each ROW GROUP is
    delivered whole by the one split containing its midpoint: a
    single-row-group file fans out to N splits of which N−1 read nothing
    (the r8 1000x probe measured a 5M-doc corpus running on one core
    behind a 29-split scan for exactly this reason). For local parquet
    inputs, cap the split count by the total row-group count, read from
    footers driver-side — skipped as soon as the file count alone
    guarantees enough parallelism, so a real many-file table never pays
    a footer scan."""
    parts = df.rdd.getNumPartitions()
    try:
        files = df.inputFiles()
        if not files:
            return parts
        want = df.sparkSession.sparkContext.defaultParallelism
        if len(files) >= min(parts, want):
            return parts
        # the row-group cap only describes a partitioning INHERITED from
        # the file scan: once the plan contains a shuffle-introducing
        # node (Repartition, Join, Aggregate, ...) the partition count
        # is real and must be trusted — only scan-partition-preserving
        # nodes may sit above the relation
        if not plan_nodes_within(df, _SCAN_PRESERVING):
            return parts
        groups = 0
        for uri in files:
            meta = local_parquet_meta(uri)
            if meta is None:
                return parts
            groups += meta.num_row_groups
            if groups >= parts:
                return parts
        return min(parts, groups)
    except Exception:
        return parts


def _parallelize(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Repartition ONLY when the input is under-parallel.

    A small-SF parquet table often arrives as 1-2 partitions, starving the
    Arrow kernels; but an unconditional ``repartition(defaultParallelism)``
    is a corpus-sized Exchange at 100 TB — and would SHRINK a
    many-thousand-partition scan down to cluster-core count. Gate on the
    ACHIEVABLE parallelism (splits capped by row groups — see
    _effective_input_parallelism): an already-parallel scan passes through
    with no Exchange at all, and ``spark.sql.files.maxPartitionBytes``
    stays in charge of scan sizing.

    ``bytes_per_task`` caps the fan-out by input size for LIGHT kernels:
    a Python task costs ~30ms of dispatch regardless of payload, so
    blowing a kilobyte input to 32 tasks pays 32 dispatches to do ~ms of
    work each (measured ~0.3s of vocab_pmi's sub-second floor at sf0.1).
    The size is the on-disk bytes of the plan's input files: Catalyst's
    estimate of a projection is smaller (28 KB for the doc_id and text
    columns of sf0.01's 65 KB documents file) and would give the 64 KB
    per task text kernels fewer tasks. An input with no local files
    keeps full parallelism (the safe direction), and the cap never
    RAISES the target, so a 100 TB scan is untouched. Heavy per-row
    kernels (winnow, codecs) should not pass it: they want every core
    even on small inputs."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if bytes_per_task:
        size = input_file_bytes(df)
        if size is not None:
            target = max(1, min(target, -(-size // bytes_per_task)))
    if _effective_input_parallelism(df) >= target:
        return df
    return df.repartition(target)


def _unit(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm in float64; zero rows stay zero."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _collect_unit_matrix(df: DataFrame, vec_col: str, id_col: str):
    """Small side → (ids: int64[n], unit vectors: float64[n, d])."""
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, 0), dtype=np.float64)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    return ids, _unit(np.array([r[1] for r in rows], dtype=np.float64))


def _scored_against(
    corpus: DataFrame,
    q_ids: np.ndarray,
    q_unit: np.ndarray,
    vec_col: str,
    id_col: str,
    exclude_self: bool,
    threshold: float | None = None,
    upper_triangle: bool = False,
) -> DataFrame:
    """corpus ⊗ broadcast(queries) cosine via blocked BLAS matmul.

    Emits (q_id, n_id, cos); optional threshold filter and id_a<id_b
    triangle restriction applied inside the batch (before any shuffle)."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, q_unit))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, unit_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            cos = _unit(mat) @ unit_q.T  # [block, n_queries] in BLAS
            qq, nn = np.meshgrid(np.arange(len(ids_q)), np.arange(len(n_ids)))
            q_flat, n_flat = ids_q[qq.ravel()], n_ids[nn.ravel()]
            c_flat = cos.ravel()
            mask = np.ones(len(c_flat), dtype=bool)
            if exclude_self:
                mask &= q_flat != n_flat
            if upper_triangle:
                mask &= q_flat < n_flat
            if threshold is not None:
                mask &= c_flat >= threshold
            yield pd.DataFrame(
                {"q_id": q_flat[mask], "n_id": n_flat[mask], "cos": c_flat[mask]}
            )

    # NO size cap here: per-row work is a block x n_queries matmul and
    # n_queries is corpus-sized for the dup-pair/mislabel callers — the
    # cap starved it to one task and turned the blocked O(n^2) into a
    # single-thread O(n^2) (dedup_embedding 0.3s -> 40s at sf0.1)
    return _parallelize(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema="q_id bigint, n_id bigint, cos double"
    )


def _rowwise_cosine(
    paired: DataFrame,
    va_col: str,
    vb_col: str,
    out_a: str,
    out_b: str,
    threshold: float | None = None,
) -> DataFrame:
    """Vectorized row-wise cosine over candidate pairs in one Arrow kernel.

    Candidate volumes make per-row higher-order-function dot products (the
    interpreted JVM path) the bottleneck; one numpy pass per batch keeps the
    scoring in BLAS. Optional threshold filters inside the batch, before
    any shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ma = np.array(list(pdf[va_col]), dtype=np.float64)
            mb = np.array(list(pdf[vb_col]), dtype=np.float64)
            na = np.linalg.norm(ma, axis=1)
            nb = np.linalg.norm(mb, axis=1)
            na[na == 0] = 1.0
            nb[nb == 0] = 1.0
            cos = (ma * mb).sum(axis=1) / (na * nb)
            keep = (
                cos >= threshold
                if threshold is not None
                else np.ones(len(cos), dtype=bool)
            )
            yield pd.DataFrame(
                {
                    out_a: pdf[out_a].to_numpy(np.int64)[keep],
                    out_b: pdf[out_b].to_numpy(np.int64)[keep],
                    "cos": cos[keep],
                }
            )

    return paired.mapInPandas(
        kernel, schema=f"{out_a} bigint, {out_b} bigint, cos double"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Output: (q_id, n_id, cos, rank); ties broken by neighbor id."""
    q_ids, q_unit = _collect_unit_matrix(
        queries.withColumn(vec_col, as_double_array(vec_col)), vec_col, id_col
    )
    if not len(q_ids):
        return corpus.sparkSession.createDataFrame(
            [], schema="q_id bigint, n_id bigint, cos double, rank int"
        )
    scored = _scored_against(corpus, q_ids, q_unit, vec_col, id_col, exclude_self=True)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cos", 6).alias("cos"), "rank")
    )


def self_knn(
    emb: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """(q_id, n_id, cos, rank): every vector's top-k neighbors in its own
    corpus (the feed for kNN label-noise / neighborhood-density scoring).

    Exact side: the corpus doubles as the broadcast query matrix —
    right answer while n·d doubles fit a broadcast, a driver-sized
    collect past that. Bucket side (the scale path): one
    hyperplane-bucket pass, then a bucket SELF-join — no broadcast, no
    driver collect; candidates are bucket-bounded (the plane count
    scales as log2(n/256), so expected bucket size stays ~256 and pair
    volume ~256·n, never n²). Approximate: neighbors outside the
    query's bucket are missed, which for label-noise scoring biases
    toward the densest (most informative) neighborhood.
    A count probe picks the side at ``BROADCAST_LIMIT``, the same
    pattern as embedding_dup_pairs."""
    n = emb.count()
    if n <= BROADCAST_LIMIT:
        return cosine_topk(emb, emb, k, vec_col, id_col)

    if dim is None:
        head = emb.select(vec_col).head()
        if head is None:
            return emb.sparkSession.createDataFrame(
                [], schema="q_id bigint, n_id bigint, cos double, rank int"
            )
        dim = len(head[0])
    num_planes = max(8, int(np.ceil(np.log2(max(n, 2) / 256))))
    planes = _hyperplane_matrix(num_planes, dim)
    bc_planes = emb.sparkSession.sparkContext.broadcast(planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc_planes.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (m @ P.T) > 0
            bucket = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame({"id": pdf["id"], "v": pdf["v"], "bucket": bucket})

    b = (
        _parallelize(emb, bytes_per_task=8 << 20)
        .select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v"))
        .mapInPandas(bucketize, schema="id bigint, v array<double>, bucket string")
    )
    cand = (
        b.select(F.col("id").alias("q_id"), F.col("v").alias("qv"), "bucket")
        .join(
            b.select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "bucket"),
            "bucket",
        )
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", "qv", "nv")
    )
    scored = _rowwise_cosine(cand, "qv", "nv", "q_id", "n_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cos", 6).alias("cos"), "rank")
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 8,
    planes_per_band: int = 8,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold.

    Broadcast side (exact): the corpus is collected once as the
    broadcast gram-block operand — right answer while n·d doubles fit a
    broadcast, wrong answer at 100 TB (driver OOM).
    LSH side (the scale path): banded hyperplane-LSH candidate
    generation — each vector lands in `bands` buckets keyed by the sign
    pattern of `planes_per_band` hyperplane projections; a pair is a
    candidate if ANY band key collides — followed by an EXACT cosine verify
    of candidates only. The corpus is never collected; candidates arrive by
    bucket equi-join. No false positives (verify is exact); recall < 1 with
    P(miss) = (1 - p^planes_per_band)^bands for p = 1 - arccos(cos)/π,
    which for near-dup thresholds (≥0.9) and the defaults is a few percent
    and drops geometrically with `bands`.
    One count() decides at ``BROADCAST_LIMIT``.
    """
    emb = emb.withColumn(vec_col, as_double_array(vec_col))
    if emb.count() <= BROADCAST_LIMIT:
        ids, unit = _collect_unit_matrix(emb, vec_col, id_col)
        if not len(ids):
            return emb.sparkSession.createDataFrame(
                [], schema="id_a bigint, id_b bigint, cos double"
            )
        scored = _scored_against(
            emb, ids, unit, vec_col, id_col,
            exclude_self=True, threshold=threshold, upper_triangle=True,
        )
        return scored.select(
            F.col("q_id").alias("id_a"),
            F.col("n_id").alias("id_b"),
            F.round("cos", 6).alias("cos"),
        )
    return _embedding_pairs_lsh(
        emb, threshold, vec_col, id_col, bands, planes_per_band
    )


def _embedding_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    bands: int,
    planes_per_band: int,
) -> DataFrame:
    """Banded hyperplane-LSH candidates + exact verify (see
    embedding_dup_pairs). Shuffle budget: one bucket-row shuffle (ids only —
    vectors do NOT ride through the bands-times-duplicated candidate join),
    one distinct over candidate pairs, two id-keyed joins to fetch the pair's
    vectors for the exact verify."""
    spark = emb.sparkSession
    first = emb.select(F.size(vec_col)).first()
    if first is None:
        return spark.createDataFrame([], schema="id_a bigint, id_b bigint, cos double")
    dim = first[0]
    planes = _hyperplane_matrix(bands * planes_per_band, dim)
    bc = spark.sparkContext.broadcast(planes)
    ppb = planes_per_band

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (m @ P.T) > 0  # [n, bands*ppb]
            n = len(pdf)
            out_id = np.repeat(pdf["id"].to_numpy(np.int64), bands)
            out_band = np.tile(np.arange(bands, dtype=np.int32), n)
            weights = 1 << np.arange(ppb, dtype=np.int64)
            keys = bits.reshape(n, bands, ppb) @ weights  # [n, bands]
            yield pd.DataFrame(
                {"id": out_id, "band": out_band, "bucket": keys.ravel()}
            )

    buckets = (
        _parallelize(emb, bytes_per_task=8 << 20)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .mapInPandas(bucketize, schema="id bigint, band int, bucket bigint")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    paired = candidates.join(va, "id_a").join(vb, "id_b")
    return _rowwise_cosine(paired, "va", "vb", "id_a", "id_b", threshold).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def _hyperplane_matrix(num_planes: int, dim: int, salt: int = 0) -> np.ndarray:
    """Deterministic pseudo-random ±1 hyperplanes from md5(plane:i) parity —
    no RNG state, identical on driver and every executor. ``salt`` derives
    independent plane sets for multi-table LSH (salt=0 keeps the historical
    unsalted strings so single-table bucket ids are unchanged)."""
    import hashlib

    comps = np.empty((num_planes, dim))
    for p in range(num_planes):
        for i in range(dim):
            key = f"{p}:{i}" if salt == 0 else f"{salt}:{p}:{i}"
            h = hashlib.md5(key.encode()).hexdigest()
            comps[p, i] = 1.0 if int(h[:4], 16) % 2 == 0 else -1.0
    return comps


def _train_mat_sample(
    corpus: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> np.ndarray | None:
    """id-ORDERED raw training matrix (float64) — the replayable sample
    convention shared by every snapped quantizer (operators/kmeans_replay):
    ORDER BY id LIMIT n means both engines train on the identical rows in
    the identical order (a bare limit() is partition-order-dependent).
    Never corpus-sized. None on empty."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
    if not rows:
        return None
    return np.array([r[1] for r in rows], dtype=np.float64)


def ivf_quantizer(train_mat: np.ndarray, n_cells: int) -> np.ndarray:
    """The trained (snapped) IVF coarse quantizer over an id-ordered
    training sample (see ann_ivf). Split out so a caller running several
    ivf variants over one corpus — from concurrent driver threads, as
    ann_recall_report does — trains it once and passes it in."""
    return spherical_kmeans_snapped(unit9(train_mat), n_cells)


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    train_sample: int = 10_000,
    n_assign: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids9: np.ndarray | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    their nearest spherical-kmeans centroid; each query scores only the
    n_probe closest cells.

    ``n_assign`` > 1 replicates each corpus vector into its n_assign
    nearest cells (SPANN-style boundary replication, Chen et al. 2021):
    the index grows ×n_assign but per-query probe cost at fixed n_probe
    rises only with the bigger cells, and boundary vectors — the main
    IVF recall loss — become reachable from adjacent probes. The recall
    effect is a measured row in ann_recall_report (ivf_ma), not a claim.

    100 TB shape: train on a sample (one small collect), assign with the
    broadcast centroid matrix inside the Arrow kernel (map-only — the cell
    id is just argmax of a [block × n_cells] integer-dot matrix), then
    hash-partition the corpus by cell so a query's n_probe cells touch
    n_probe partitions instead of the full corpus. Recall < 1 by design —
    brute-force cosine_topk is the exact baseline. ``centroids9`` is a
    coarse quantizer already trained for this corpus, ``n_cells`` and
    ``train_sample`` (:func:`ivf_quantizer`); None trains one per call.

    ORACLE-EXACT since r10: the coarse quantizer is the REPLAYABLE snapped
    spherical k-means (operators/kmeans_replay — id-ordered sample, strided
    init, fixed iterations), cell assignment / query probing / candidate
    scoring are all ORDER-FREE 1e-9 integer dot products of snapped unit
    vectors, and ties break on (dot desc, index asc) in both engines — so
    ANN_IVF_SQL (registry/_kmeans_sql) replays training, assignment,
    probing and the final ranking bit-for-bit. The recall panel
    (ann_recall_report) pins this quantizer's recall floors."""
    spark = corpus.sparkSession
    empty = "q_id bigint, n_id bigint, cos double, rank int"
    cents9 = centroids9
    if cents9 is None:
        mat = _train_mat_sample(corpus, id_col, vec_col, train_sample)
        if mat is None:
            return spark.createDataFrame([], schema=empty)
        cents9 = ivf_quantizer(mat, n_cells)
    bc = spark.sparkContext.broadcast(cents9)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c9 = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            u9m = unit9(m)
            dots = _dots9(u9m, c9)
            if n_assign <= 1:
                cells = dots.argmax(axis=1)[:, None]  # first-max ties
            else:
                # top-n_assign cells by (dot desc, cell asc): stable sort
                # keeps the lowest cell first among ties
                cells = np.argsort(-dots, axis=1, kind="stable")[:, :n_assign]
            ids = np.repeat(pdf[id_col].to_numpy(np.int64), cells.shape[1])
            u9rep = np.repeat(u9m, cells.shape[1], axis=0)
            yield pd.DataFrame(
                {
                    "n_id": ids,
                    "cell": cells.ravel().astype(np.int32),
                    "nu9": list(u9rep),
                }
            )

    assigned = _parallelize(corpus.select(id_col, vec_col), bytes_per_task=8 << 20).mapInPandas(
        assign, schema="n_id bigint, cell int, nu9 array<bigint>"
    )

    # queries probe their n_probe nearest cells (driver-side: queries are the
    # small broadcast side by construction)
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return spark.createDataFrame([], schema=empty)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qu9 = unit9(np.array([r[1] for r in q_rows], dtype=np.float64))
    q_dots = _dots9(qu9, cents9)
    probe = np.argsort(-q_dots, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (int(q_ids[i]), [int(x) for x in qu9[i]], int(c))
        for i in range(len(q_ids))
        for c in probe[i]
    ]
    q_df = spark.createDataFrame(
        probe_rows, schema="q_id bigint, q9 array<bigint>, cell int"
    )

    cand = (
        assigned.join(F.broadcast(q_df), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", "q9", "nu9")
    )
    if n_assign > 1:
        # replicated vectors can meet the same query via several shared
        # cells — score each candidate pair once
        cand = cand.dropDuplicates(["q_id", "n_id"])

    def cos_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qa = np.array(list(pdf["q9"]), dtype=np.int64).astype(np.float64) / 1e9
            na = np.array(list(pdf["nu9"]), dtype=np.int64).astype(np.float64) / 1e9
            cos9 = _snap9i(qa * na).sum(axis=1, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(np.int64),
                    "n_id": pdf["n_id"].to_numpy(np.int64),
                    "cos9": cos9,
                }
            )

    scored = cand.mapInPandas(
        cos_kernel, schema="q_id bigint, n_id bigint, cos9 bigint"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos9").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.round(F.col("cos9") / F.lit(1e9), 6).alias("cos"),
            "rank",
        )
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket with the
    query in ANY of ``n_tables`` independent tables, where the query also
    probes every bucket within ``probe_bits`` bit-flips of its own
    (multi-probe LSH, Lv et al. 2007 — probing neighbor buckets recovers
    most of the recall extra tables would buy at zero extra corpus cost).
    The round-5 single-table exact-bucket defaults measured 0.03 recall@5
    on the isotropic worst-case panel; tables=4 + 1-bit probing measures
    ~0.4 there while touching ~15% of the corpus per query.

    At scale the corpus is written once per table (n_tables× amplification
    — the classic LSH storage trade), hash-partitioned by bucket so a
    query probes 1+num_planes buckets per table instead of the whole
    corpus; scoring still runs the BLAS kernel within the bucket join, and
    multi-table duplicate candidates collapse in the pair-dedup before
    scoring."""
    from itertools import combinations

    tables = np.stack(
        [_hyperplane_matrix(num_planes, dim, salt=t) for t in range(n_tables)]
    )  # [T, P, d]
    spark = corpus.sparkSession
    bc_planes = spark.sparkContext.broadcast(tables)

    def bucketize(probe: bool):
        # bucket bits via one numpy matmul per Arrow batch — the per-row
        # higher-order-function dot product is interpreted JVM-side and
        # ~100x slower per vector at corpus scale. Bucket keys are
        # "t{table}:{bitstring}" so tables never cross-match. The corpus
        # path (probe=False) stays fully batch-vectorized: one matmul +
        # one key build per table; probe variants exist only on the
        # (broadcast-small) query side.
        flips: list[tuple[int, ...]] = [()]
        if probe:
            if probe_bits >= 1:
                flips += [(b,) for b in range(num_planes)]
            if probe_bits >= 2:
                flips += list(combinations(range(num_planes), 2))

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            P = bc_planes.value
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(list(pdf["v"]), dtype=np.float64)
                row_ids = pdf["id"].tolist()
                row_vs = pdf["v"].tolist()
                ids, vs, buckets = [], [], []
                for t in range(len(P)):
                    bits = (m @ P[t].T) > 0
                    for fl in flips:
                        bb = bits.copy()
                        for b in fl:
                            bb[:, b] = ~bb[:, b]
                        keys = [
                            f"t{t}:" + "".join("1" if x else "0" for x in row)
                            for row in bb
                        ]
                        ids.extend(row_ids)
                        vs.extend(row_vs)
                        buckets.extend(keys)
                yield pd.DataFrame({"id": ids, "v": vs, "bucket": buckets})

        return kernel

    c = (
        # light kernel (one matmul + key build per batch): size-capped
        # fan-out — a small corpus runs in a few tasks instead of paying
        # core-count Python dispatches, a big one keeps full parallelism
        _parallelize(corpus, bytes_per_task=8 << 20)
        .select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v"))
        .mapInPandas(
            bucketize(probe=False),
            schema="id bigint, v array<double>, bucket string",
        )
        .select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "bucket")
    )
    # query side: the panel is broadcast-joined below, so it is collected
    # to the driver whichever side expands it; bucketize it there with the
    # same numpy matmul instead of paying a Python-worker stage for a
    # handful of rows
    q_rows = queries.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    ).collect()
    q_out = pd.DataFrame({"id": [], "v": [], "bucket": []})
    if q_rows:
        q_pdf = pd.DataFrame(
            {"id": [r["id"] for r in q_rows], "v": [r["v"] for r in q_rows]}
        )
        q_out = next(iter(bucketize(probe=True)(iter([q_pdf]))))
    q = spark.createDataFrame(
        q_out, schema="id bigint, v array<double>, bucket string"
    ).select(F.col("id").alias("q_id"), F.col("v").alias("qv"), "bucket")
    cand = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        # a pair found by several tables/probes must score once
        .dropDuplicates(["q_id", "n_id"])
        .select("q_id", "n_id", "qv", "nv")
    )
    scored = _rowwise_cosine(cand, "qv", "nv", "q_id", "n_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cos", 6).alias("cos"), "rank")
    )


def _opq_rotation(unit_sample: np.ndarray, m_subs: int) -> np.ndarray:
    """OPQ-style orthogonal pre-rotation (Ge et al. 2013's parametric
    variant): PCA of the training sample with greedy eigenvalue allocation
    — principal directions are dealt to the m_subs subspaces so each gets
    a balanced share of the variance (balanced log-eigenvalue products),
    which is what the independent sub-quantizers assume. Orthogonal, so
    rotated dot products equal original dot products and ADC still
    approximates the true cosine. The eigensolve is numpy's float
    ``eigh`` of the driver-side d×d covariance, so a rotated index is
    panel-pinned, not replayed by an oracle.

    Raises ValueError on fewer than 2 training vectors or a dimension
    that m_subs does not divide."""
    n, d = unit_sample.shape
    if n < 2:
        # np.cov of a single observation is NaN — eigh would silently
        # produce NaN codebooks and garbage scores downstream
        raise ValueError(f"OPQ rotation needs >=2 training vectors, got {n}")
    if d % m_subs:
        raise ValueError(f"dim {d} not divisible by m_subs {m_subs}")
    cov = np.cov(unit_sample.T)
    if not np.all(np.isfinite(cov)):
        raise ValueError("OPQ rotation: non-finite training covariance")
    lam, v = np.linalg.eigh(cov)
    idx = np.argsort(-lam)
    lam, v = lam[idx], v[:, idx]
    sub = d // m_subs
    buckets: list[list[int]] = [[] for _ in range(m_subs)]
    loads = [0.0] * m_subs
    for i in range(d):
        j = min(
            (b for b in range(m_subs) if len(buckets[b]) < sub),
            key=lambda b: loads[b],
        )
        buckets[j].append(i)
        loads[j] += np.log(max(lam[i], 1e-12))
    order = [i for b in buckets for i in b]
    return v[:, order].T  # rows are the new basis: x_rot = x @ R.T


def ann_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subs: int = 8,
    n_codes: int = 32,
    train_sample: int = 10_000,
    rerank: int = 32,
    rotation: str = "none",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_mat: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, the FAISS `PQ` index):
    unit vectors are chopped into m_subs subspaces, each encoded as the id
    of its nearest sub-centroid, and queries score codes through per-query
    asymmetric-distance lookup tables. Two accuracy levers beyond plain PQ:

    - ``rerank`` (FAISS's refine stage): the global ADC top-``rerank``
      shortlist per query is re-scored with the exact cosine before the
      final top-k, so only the shortlist selection is approximate.
      Each task pre-cuts its local ADC top-rerank by the SAME total
      order (adc desc, id asc), which is lossless for the global
      shortlist — a task contributes at most rerank rows to the global
      top-rerank — so the result is partitioning-independent. Lifts
      panel recall@5 from 0.23 (round-5 defaults) to ~0.8.
    - ``rotation="opq"``: the orthogonal OPQ-style pre-rotation R
      (_opq_rotation), trained on the same sample as the codebooks. The
      training sample, the corpus and the queries all enter the pipeline
      below as unit6(unit(x) @ Rᵀ) instead of unit6(x); everything else
      is the same code, so the ann_recall_report rows ``pq`` and
      ``pq_opq`` differ by the rotation alone. ``"none"`` (the default)
      and ``"opq"`` are the only values; anything else raises
      ValueError, as does OPQ on fewer than 2 training vectors.

    100 TB shape: the corpus is reduced to m_subs small ints per vector
    (64-dim float32 → 8 bytes here, a 32× compression), encoding and
    scoring are both map-only Arrow kernels with broadcast codebooks/LUTs,
    and each task emits only its local top-rerank per query — the global
    shortlist window sees tasks×queries×rerank rows, never the corpus.
    Approximate by design: brute-force cosine_topk is the exact baseline.

    ORACLE-EXACT since r10 (rotation="none"): codebooks are the
    replayable snapped per-subspace L2 k-means at 1e-6 fixed point
    (operators/pq_replay — id-ordered sample, strided init, fixed
    iterations), and encoding / ADC scoring / shortlist / exact rerank
    are ALL order-free int64 arithmetic with (score desc, id asc) ties —
    so ANN_PQ_SQL (registry/_pq_sql) replays the entire pipeline
    bit-for-bit. The OPQ rotation is a float eigensolve and a float
    matmul ahead of the snapping, so that variant is panel-pinned only.

    ``train_mat`` is the id-ordered training sample (the first
    ``train_sample`` rows by ``id_col``, :func:`_train_mat_sample`),
    already collected by a caller that shares it between index builds;
    None collects it per call. An empty corpus or query panel returns
    no rows."""
    from lakeside_spark.operators.pq_replay import (
        pq_encode6,
        pq_luts6,
        unit6,
    )

    if rotation not in ("none", "opq"):
        raise ValueError(f"rotation must be 'none' or 'opq', got {rotation!r}")
    spark = corpus.sparkSession
    empty = "q_id bigint, n_id bigint, cos_pq double, rank int"
    mat = train_mat
    if mat is None:
        mat = _train_mat_sample(corpus, id_col, vec_col, train_sample)
        if mat is None:
            return spark.createDataFrame([], schema=empty)
    rot = _opq_rotation(_unit(mat), m_subs) if rotation == "opq" else None

    def snapped(m: np.ndarray) -> np.ndarray:
        # everything after this is exact int64: codebooks, codes, ADC
        # lookup sums, the global shortlist order and the rerank dots
        return unit6(m) if rot is None else unit6(_unit(m) @ rot.T)

    books6 = pq_train_snapped(snapped(mat), m_subs, n_codes)
    bc_books = spark.sparkContext.broadcast(books6)

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return spark.createDataFrame([], schema=empty)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q6 = snapped(np.array([r[1] for r in q_rows], dtype=np.float64))
    luts6 = pq_luts6(q6, books6)  # [nq, m_subs, k] int64
    bc_q = spark.sparkContext.broadcast((q_ids, luts6))
    take = max(rerank, k + 1)

    def encode_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc_books.value
        ids_q, lut = bc_q.value
        nq = len(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf[id_col].to_numpy(np.int64)
            u6m = snapped(np.array(list(pdf[vec_col]), dtype=np.float64))
            codes = pq_encode6(u6m, B)  # [n, m_subs]
            adc = np.zeros((nq, len(n_ids)), dtype=np.int64)
            for j in range(B.shape[0]):
                adc += lut[:, j, codes[:, j]]
            rows_q: list[int] = []
            rows_n: list[int] = []
            rows_a: list[int] = []
            rows_v: list[np.ndarray] = []
            for qi in range(nq):
                cand = np.nonzero(n_ids != ids_q[qi])[0]
                if not len(cand):
                    continue
                # local ADC top-take by the GLOBAL total order
                # (adc desc, n_id asc) — lexsort's last key is primary
                order = np.lexsort((n_ids[cand], -adc[qi, cand]))[:take]
                chosen = cand[order]
                rows_q.extend([int(ids_q[qi])] * len(chosen))
                rows_n.extend(n_ids[chosen])
                rows_a.extend(adc[qi, chosen])
                rows_v.extend(list(u6m[chosen]))
            if not rows_q:
                # an all-self batch yields nothing — an empty untyped
                # nu6 column would fail the Arrow list<bigint> convert
                continue
            yield pd.DataFrame(
                {
                    "q_id": np.array(rows_q, dtype=np.int64),
                    "n_id": np.array(rows_n, dtype=np.int64),
                    "adc6": np.array(rows_a, dtype=np.int64),
                    "nu6": rows_v,
                }
            )

    shortlisted = _parallelize(corpus.select(id_col, vec_col), bytes_per_task=8 << 20).mapInPandas(
        encode_score,
        schema="q_id bigint, n_id bigint, adc6 bigint, nu6 array<bigint>",
    )
    wa = Window.partitionBy("q_id").orderBy(F.col("adc6").desc(), F.col("n_id"))
    short = (
        shortlisted.withColumn("arnk", F.row_number().over(wa))
        .filter(F.col("arnk") <= take)
        .select("q_id", "n_id", "nu6")
    )

    q_df = spark.createDataFrame(
        [(int(q_ids[i]), [int(x) for x in q6[i]]) for i in range(len(q_ids))],
        schema="q_id bigint, q6 array<bigint>",
    )
    paired = short.join(F.broadcast(q_df), "q_id")

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qa = np.array(list(pdf["q6"]), dtype=np.int64)
            na = np.array(list(pdf["nu6"]), dtype=np.int64)
            cos12 = (qa * na).sum(axis=1, dtype=np.int64)  # exact int64
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(np.int64),
                    "n_id": pdf["n_id"].to_numpy(np.int64),
                    "cos12": cos12,
                }
            )

    rescored = paired.mapInPandas(
        rescore, schema="q_id bigint, n_id bigint, cos12 bigint"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos12").desc(), F.col("n_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.round(F.col("cos12") / F.lit(1e12), 6).alias("cos_pq"),
            "rank",
        )
    )


def ann_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    train_sample: int = 10_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantization ANN (the FAISS `SQ8` index): each unit vector
    is stored as one byte per dimension — codes = round(255·(x−min)/
    (max−min)) against per-dimension min/max learned from the id-ordered
    training sample (the first ``train_sample`` rows by ``id_col``,
    :func:`_train_mat_sample`, so the bounds do not depend on partition
    order) — and queries score against the dequantized codes with the
    same BLAS block kernel as cosine_topk. An empty corpus or query
    panel returns no rows.

    Where it sits in the family: 8× compression vs float64 with much
    higher fidelity than PQ's 32× (SQ8 recall is near-exact; PQ trades
    recall for another 4×) and no k-means training at all — the
    quantizer is two d-length arrays, learned in one bounded pass.

    100 TB shape: quantizer arrays are broadcast (2·d floats), encode
    and score are map-only Arrow kernels, each task emits only its local
    top-(k+1) per query, and the global top-k window sees
    tasks×queries×k rows — never the corpus. The byte codes travel as
    BinaryType so the stored footprint really is d bytes/vector.
    """
    spark = corpus.sparkSession
    empty = "q_id bigint, n_id bigint, cos_sq double, rank int"
    mat = _train_mat_sample(corpus, id_col, vec_col, train_sample)
    if mat is None:
        return spark.createDataFrame([], schema=empty)
    unit = _unit(mat)
    vmin = unit.min(axis=0)
    span = unit.max(axis=0) - vmin
    span[span == 0] = 1.0
    bc_quant = spark.sparkContext.broadcast((vmin, span))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo, sp = bc_quant.value
        for pdf in batches:
            if not len(pdf):
                continue
            u = _unit(np.array(list(pdf[vec_col]), dtype=np.float64))
            codes = np.clip(np.rint((u - lo) / sp * 255.0), 0, 255).astype(
                np.uint8
            )
            yield pd.DataFrame(
                {
                    "n_id": pdf[id_col].to_numpy(np.int64),
                    "codes": [c.tobytes() for c in codes],
                }
            )

    encoded = _parallelize(corpus.select(id_col, vec_col), bytes_per_task=8 << 20).mapInPandas(
        encode, schema="n_id bigint, codes binary"
    )

    q_ids, q_unit = _collect_unit_matrix(queries, vec_col, id_col)
    if not len(q_ids):
        return spark.createDataFrame([], schema=empty)
    bc_q = spark.sparkContext.broadcast((q_ids, q_unit))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo, sp = bc_quant.value
        ids_q, qm = bc_q.value
        nq = len(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["n_id"].to_numpy(np.int64)
            raw = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.uint8
            ).reshape(len(n_ids), -1)
            deq = lo + raw.astype(np.float64) / 255.0 * sp
            scores = qm @ deq.T  # [nq, n] — one BLAS matmul per batch
            take = min(k + 1, len(n_ids))
            part = np.argpartition(-scores, take - 1, axis=1)[:, :take]
            rows_q, rows_n, rows_s = [], [], []
            for qi in range(nq):
                for ni in part[qi]:
                    if ids_q[qi] == n_ids[ni]:
                        continue
                    rows_q.append(ids_q[qi])
                    rows_n.append(n_ids[ni])
                    rows_s.append(scores[qi, ni])
            yield pd.DataFrame(
                {
                    "q_id": np.array(rows_q, dtype=np.int64),
                    "n_id": np.array(rows_n, dtype=np.int64),
                    "cos_sq": np.array(rows_s, dtype=np.float64),
                }
            )

    scored = encoded.mapInPandas(score, schema="q_id bigint, n_id bigint, cos_sq double")
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sq").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.round("cos_sq", 6).alias("cos_sq"), "rank")
    )


def label_centroid_outliers(
    emb: DataFrame,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Vectors far from their own label's centroid — cleanlab-style
    mislabel/outlier detection for labeled embedding sets: a training
    example whose embedding disagrees with its class centroid is a label
    error or an out-of-distribution sample.

    Shape (all JVM-side Column algebra, no Python kernels): posexplode →
    per-(label, dim) mean (ONE map-side-combined aggregation; the result
    is labels × dims rows — model-sized, not corpus-sized) → rebuild each
    centroid as an array → broadcast-join centroids back → cosine via
    zip_with/aggregate per row, map-only. Two tiny shuffles; the corpus is
    touched twice but never shuffled on its own key. Returns (vec_id,
    label, cos_to_centroid) for vectors with rounded cosine < threshold."""
    v = as_double_array(vec_col)
    ex = emb.select(
        F.col(label_col).alias("label"), F.posexplode(v).alias("dim", "val")
    )
    cent = (
        ex.groupBy("label", "dim")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    joined = emb.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label"), v.alias("__v")
    ).join(F.broadcast(cent), "label")

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cos = _dot(F.col("__v"), F.col("centroid")) / F.sqrt(
        _dot(F.col("__v"), F.col("__v")) * _dot(F.col("centroid"), F.col("centroid"))
    )
    return (
        joined.withColumn("cos_to_centroid", F.round(cos, 6))
        .filter(F.col("cos_to_centroid") < threshold)
        .select("vec_id", "label", "cos_to_centroid")
    )


def _snap9_scalar(x: float) -> int:
    """Scalar twin of kmeans_replay._snap9i for driver-side recursions."""
    v = x * 1e9
    f = math.floor(v)
    if v - f == 0.5:
        return int(f + 1) if v > 0 else int(f)
    return int(round(v))


def _reduce_packed9(
    mapped: DataFrame,
    packed_len: int | None = None,
    max_collect_parts: int = 4096,
    max_collect_bytes: int = 64 << 20,
) -> list[int] | None:
    """Reduce one-packed-int64-array-per-task partials to exact global
    sums. With a bounded task count the partial rows are collected and
    summed with PYTHON ints driver-side — arbitrary precision, so no
    overflow, and the whole posexplode → groupBy → collect reduce stage
    (an extra shuffle + job on every moment pass) disappears. Past the
    gate (or if the partition count cannot be read) the distributed
    decimal(38,0) reduce runs unchanged — that path exists precisely for
    task counts too large to collect. Both paths compute the identical
    integers (exact arithmetic either way), so plan choice can never
    change results.

    The collect gate is byte-bound, not parts-bound (r12 VERDICT item:
    each partial row is a 3+d+d² long array, so at d=256 a 4096-part
    collect would be ~2 GB on the driver): when the caller knows
    ``packed_len`` the gate is parts × packed_len × 8 ≤
    ``max_collect_bytes``; ``max_collect_parts`` remains the backstop
    when the length is unknown."""
    n_parts = None
    try:
        n_parts = mapped.rdd.getNumPartitions()
    except Exception:
        pass
    collectable = n_parts is not None and n_parts <= max_collect_parts
    if collectable and packed_len is not None:
        collectable = n_parts * packed_len * 8 <= max_collect_bytes
    if collectable:
        rows = mapped.collect()
        if not rows:
            return None
        acc: list[int] | None = None
        for r in rows:
            p = r["p"]
            if acc is None:
                acc = [0] * len(p)
            for i, v in enumerate(p):
                acc[i] += int(v)
        return acc
    red = (
        mapped.select(F.posexplode("p").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .collect()
    )
    if not red:
        return None
    packed = [0] * len(red)
    for r in red:
        packed[r["i"]] = int(r["v"])
    return packed


def _first_vector_dim(df: DataFrame, vec_col: str) -> int | None:
    """The first row's vector length, so a moment pass's collect gate can
    be byte-bound: a one-row probe of one column — microseconds next to
    the pass it guards. None on an empty frame or a null first vector
    (``size(NULL)`` is NULL with ANSI on and -1 with it off); the gate
    then falls back to its parts bound."""
    head = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if head is None or head["d"] is None or head["d"] < 0:
        return None
    return head["d"]


def _moment_pass9(
    df: DataFrame, vec_col: str, label_col: str
) -> tuple | None:
    """Fixed-point moments for the ORACLE-EXACT linear probe: the
    covariance pass (_cov_packed9) over z = [x, 1, y] on the rows whose
    label is not null. Every per-row product is snapped to 1e-9 int64
    before summation, so Σ snap(z zᵀ) holds XᵀX of the bias-augmented
    rows, Xᵀy and yᵀy, and Σ snap(z) holds Σy — exact integers,
    summation-order-proof across tasks, engines and retries. Returns
    (n, Σy, yᵀy, Xᵀy (d+1 ints), XᵀX ((d+1)² ints, row-major)) as
    Python ints, or None when no row has a label."""
    z = F.concat(
        as_double_array(vec_col),
        F.array(F.lit(1.0), F.col(label_col).cast("double")),
    )
    out = _cov_packed9(
        df.filter(F.col(label_col).isNotNull()).select(z.alias("z")), "z"
    )
    if out is None:
        return None
    dz, p = out
    da = dz - 1  # the vector and the bias; y is z's last coordinate
    g = p[1 + dz :]  # Σ snap(z zᵀ), row-major
    return (
        p[0],
        p[1 + da],
        g[da * dz + da],
        g[da::dz][:da],
        [g[i * dz + j] for i in range(da) for j in range(da)],
    )


def _cov_packed9(df: DataFrame, vec_col: str) -> tuple[int, list[int]] | None:
    """The fixed-point moment pass: per-row contributions snapped to 1e-9
    int64 BEFORE summation (round-half-away, kmeans_replay._snap9i),
    reduced as exact Python integers (_reduce_packed9), so the global
    sums never overflow — summation-order-proof. Each task yields ONE
    partial [n, Σx (d), XᵀX (d²)] over all its Arrow batches, so the
    reduce grows with task count, not corpus size; int64 in the kernel
    (safe to ~9e10 rows/task at these magnitudes). Returns (d, packed),
    or None on an empty frame."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: np.ndarray | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            d = m.shape[1]
            if acc is None:
                acc = np.zeros(1 + d + d * d, dtype=np.int64)
            acc[0] += len(m)
            acc[1 : 1 + d] += _snap9i(m).sum(axis=0)
            for lo in range(0, len(m), 256):
                mb = m[lo : lo + 256]
                acc[1 + d :] += (
                    _snap9i(mb[:, :, None] * mb[:, None, :])
                    .sum(axis=0)
                    .ravel()
                )
        if acc is not None:
            yield pd.DataFrame({"p": [acc]})

    d_probe = _first_vector_dim(df, vec_col)
    packed = _reduce_packed9(
        _parallelize(df.select(vec_col)).mapInPandas(
            partials, schema="p array<long>"
        ),
        packed_len=(
            None if d_probe is None else 1 + d_probe + d_probe * d_probe
        ),
    )
    if packed is None:
        return None
    d = int((math.isqrt(4 * (len(packed) - 1) + 1) - 1) // 2)
    assert 1 + d + d * d == len(packed), len(packed)
    return d, packed


def _cov_moments9(df: DataFrame, vec_col: str) -> tuple | None:
    """Fixed-point covariance moments (_cov_packed9) for the ORACLE-EXACT
    eigensolve keys (PCA/whitening): (n, s9[d], g9[d,d]) as int64."""
    out = _cov_packed9(df, vec_col)
    if out is None:
        return None
    d, packed = out
    return (
        packed[0],
        np.array(packed[1 : 1 + d], dtype=np.int64),
        np.array(packed[1 + d :], dtype=np.int64).reshape(d, d),
    )


def _ge_solve_det(a: list[list[float]], b: list[float]) -> list[float]:
    """Deterministic ridge-system solve: Gaussian elimination WITHOUT
    pivoting (the matrix is SPD — Gram + ridge — so pivoting is
    unnecessary and its absence keeps the op sequence trivially
    replayable), then back-substitution whose inner products are
    1e-9-snapped integer sums (order-free). Every floating-point
    operation is a fixed left-to-right IEEE sequence, so a DuckDB
    recursive CTE running the same expressions reproduces w
    bit-for-bit."""
    da = len(b)
    m = [row[:] + [b[i]] for i, row in enumerate(a)]
    for k in range(da - 1):
        akk = m[k][k]
        mk = m[k]
        for i in range(k + 1, da):
            mi = m[i]
            aik = mi[k]
            for j in range(da + 1):
                mi[j] = mi[j] - (aik * mk[j] / akk)
    w = [0.0] * da
    for i in range(da - 1, -1, -1):
        s9 = 0
        for j in range(i + 1, da):
            s9 += _snap9_scalar(m[i][j] * w[j])
        w[i] = (m[i][da] - s9 / 1e9) / m[i][i]
    return w


def embedding_whitening(
    emb: DataFrame,
    eps: float = 1e-6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ZCA-whiten the embedding column: x → W(x − μ) with
    W = C^(−1/2) from the corpus covariance C — decorrelates dimensions
    and equalizes their variances, the standard retrieval-quality fix
    for anisotropic embedding spaces (whitening-k, Su et al. 2021) and a
    natural pre-pass for the SQ8/PQ quantizers whose per-dim codes
    assume comparable scales.

    100 TB shape: covariance is ONE map-combine pass — each Arrow batch
    emits its (count, Σx, XᵀX) 1e-9 fixed-point integer partials, a
    d²-sized single-row reduce reaches the driver, eigendecomposition
    runs on the d×d matrix there, and the transform broadcasts back for
    a map-only apply. Nothing corpus-sized ever shuffles; the one
    Exchange is the single-row partial reduce.

    ORACLE-EXACT since r10: the eigensolve is the fixed-iteration
    SNAPPED parallel Jacobi (operators/eigh_replay — every rotation
    coefficient and matrix entry 1e-12 fixed point, every step a basic
    IEEE op), W = U diag(1/√(λ+eps)) Uᵀ assembled with order-free
    integer-snapped matmuls, and the per-row transform is a 1e-9
    snapped-product integer sum — EMB_WHITENING_SQL replays the whole
    pipeline as DuckDB recursive CTEs. Accuracy vs np.linalg.eigh
    (~1e-9) stays pytest-pinned separately.

    Output: (vec_id, embedding) with the whitened array<double>.
    """
    from lakeside_spark.operators.eigh_replay import (
        _snap12_arr,
        eigh_pipeline,
    )

    spark = emb.sparkSession
    moments = _cov_moments9(emb, vec_col)
    if moments is None or moments[0] == 0:
        return spark.createDataFrame(
            [], schema=f"{id_col} bigint, {vec_col} array<double>"
        )
    n, s9, g9 = moments
    mu, lam, v, _lam12, _sc = eigh_pipeline(n, s9, g9)
    # ZCA: W = U diag(1/sqrt(λ+eps)) Uᵀ — symmetric, stays near the
    # original basis; sign/order of U's columns cancel in U f(λ) Uᵀ, so
    # the raw Jacobi V is used directly
    dk = 1.0 / np.sqrt(np.maximum(lam, 0.0) + eps)
    dm = _snap12_arr(v * dk[None, :])
    w9 = (
        _snap9i(dm[:, None, :] * v[None, :, :]).sum(axis=2, dtype=np.int64)
    )
    w = w9.astype(np.float64) / 1e9
    bc = spark.sparkContext.broadcast((mu, w))

    def apply_w(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu_, w_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            t = m - mu_
            outs = []
            for lo in range(0, len(t), 256):
                tb = t[lo : lo + 256]
                outs.append(
                    _snap9i(tb[:, None, :] * w_[None, :, :]).sum(
                        axis=2, dtype=np.int64
                    )
                    / 1e9
                )
            out = np.vstack(outs)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(np.int64), vec_col: list(out)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        apply_w, schema=f"{id_col} bigint, {vec_col} array<double>"
    )


def embedding_cluster_stats(
    emb: DataFrame,
    n_cells: int = 16,
    target_per_cell: int = 50,
    train_sample: int = 10_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced sampling plan over the embedding space: sampled
    spherical-kmeans cells (the same quantizer as ann_ivf/semdedup), per
    cell the population, cohesion (mean/min cosine to the centroid), and
    the keep-rate ``min(1, target_per_cell/count)`` that equalizes the
    mixture across semantic clusters — the curation move that stops a
    crawl's dominant topic from flooding the training mix (cluster-
    balanced selection à la SSL-curation/DoReMi-style reweighting, on
    the same machinery SemDeDup already trains).

    100 TB shape: assignment is the map-only broadcast-centroid kernel;
    the stats agg is ONE shuffle to n_cells keys (map-side combined);
    output is cell-count-sized. The rate column composes with the
    hash-gate sampler (operators/sampling.hash_gate) for the actual
    keep pass.

    ORACLE-EXACT since r10: this key's quantizer is the REPLAYABLE
    snapped spherical k-means (operators/kmeans_replay — vec_id-ordered
    sample, strided deterministic init, fixed iterations, order-free
    integer dots/sums), and the assignment cosine is the snapped
    integer dot itself, so EMB_CLUSTER_STATS_SQL replays training AND
    assignment bit-for-bit. ann_ivf shares this quantizer since r10 (its
    recall panel pins the floors); invariants remain pytest-pinned."""
    from lakeside_spark.operators.kmeans_replay import _snap9i, unit9

    spark = emb.sparkSession
    out_schema = (
        "cell int, n_vectors bigint, mean_cos double, min_cos double, "
        "keep_rate double"
    )
    mat = _train_mat_sample(emb, id_col, vec_col, train_sample)
    if mat is None:
        return spark.createDataFrame([], schema=out_schema)
    cents9 = ivf_quantizer(mat, n_cells)
    bc = spark.sparkContext.broadcast(cents9.astype(np.float64) / 1e9)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            u = unit9(m).astype(np.float64) / 1e9
            # snapped integer dots (order-free) — the cosine IS the
            # snapped dot, so both engines aggregate identical ints
            dots = np.empty((len(u), len(c)), dtype=np.int64)
            for j in range(len(c)):
                dots[:, j] = _snap9i(u * c[j][None, :]).sum(
                    axis=1, dtype=np.int64
                )
            cell = dots.argmax(axis=1)  # first-max: ties to lowest cell
            yield pd.DataFrame(
                {
                    "cell": cell.astype(np.int32),
                    "cos9": dots[np.arange(len(cell)), cell],
                }
            )

    assigned = _parallelize(emb.select(id_col, vec_col)).mapInPandas(
        assign, schema="cell int, cos9 bigint"
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum("cos9") / (F.count("*") * 1e9), 6).alias("mean_cos"),
            F.round(F.min("cos9") / 1e9, 6).alias("min_cos"),
        )
        .select(
            "cell",
            "n_vectors",
            "mean_cos",
            "min_cos",
            F.round(
                F.least(F.lit(1.0), F.lit(float(target_per_cell)) / F.col("n_vectors")),
                6,
            ).alias("keep_rate"),
        )
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    train_sample: int = 10_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a sampled
    spherical-kmeans quantizer, then greedily drop any vector whose cosine
    to an already-kept lower-id vector in the SAME cell exceeds the
    threshold. Returns the surviving rows (vec_id, cell, max_kept_cos).

    100 TB shape: cell assignment is a map-only broadcast-centroid kernel
    (the IVF assign pass); the quadratic comparison is confined to one
    cell per task via applyInPandas, so cost is Σ |cell|² instead of N² —
    n_cells scales with the corpus to bound cell sizes. Deterministic:
    ascending-id greedy order. Approximate by design (cross-cell
    near-dups survive): embedding_dup_pairs is the exact baseline.

    ORACLE-EXACT since r10: the quantizer is the replayable snapped
    k-means (operators/kmeans_replay), every greedy cosine is an
    ORDER-FREE 1e-9 integer dot of snapped unit vectors, and the keep
    test is an integer compare against round(threshold·1e9) — so
    SEMDEDUP_SQL replays training, assignment AND the per-cell greedy
    scan (a lockstep recursive CTE) bit-for-bit."""
    from lakeside_spark.operators.kmeans_replay import _snap9i, unit9

    spark = emb.sparkSession
    mat = _train_mat_sample(emb, id_col, vec_col, train_sample)
    if mat is None:
        return spark.createDataFrame([], schema="vec_id bigint, cell int, max_kept_cos double")
    cents9 = ivf_quantizer(mat, n_cells)
    thr9 = int(_snap9i(np.array([threshold]))[0])
    bc = spark.sparkContext.broadcast(cents9.astype(np.float64) / 1e9)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            u9 = unit9(m)
            u = u9.astype(np.float64) / 1e9
            dots = np.empty((len(u), len(c)), dtype=np.int64)
            for j in range(len(c)):
                dots[:, j] = _snap9i(u * c[j][None, :]).sum(
                    axis=1, dtype=np.int64
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(np.int64),
                    "cell": dots.argmax(axis=1).astype(np.int32),
                    "u9": list(u9),
                }
            )

    assigned = _parallelize(emb.select(id_col, vec_col)).mapInPandas(
        assign, schema="vec_id bigint, cell int, u9 array<bigint>"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        u9 = np.array(list(pdf["u9"]), dtype=np.int64)
        u = u9.astype(np.float64) / 1e9
        n = len(pdf)
        kept_idx: list[int] = []
        max_cos9 = np.zeros(n, dtype=np.int64)
        keep_mask = np.zeros(n, dtype=bool)
        for i in range(n):
            if kept_idx:
                cos9 = _snap9i(u[kept_idx] * u[i][None, :]).sum(
                    axis=1, dtype=np.int64
                )
                mc9 = int(cos9.max())
            else:
                mc9 = 0
            max_cos9[i] = mc9
            if mc9 < thr9:
                keep_mask[i] = True
                kept_idx.append(i)
        out = pdf.loc[keep_mask, ["vec_id", "cell"]].copy()
        out["max_cos9"] = max_cos9[keep_mask]
        return out

    return (
        assigned.groupBy("cell")
        .applyInPandas(
            dedup_cell, schema="vec_id bigint, cell int, max_cos9 bigint"
        )
        .select(
            "vec_id",
            "cell",
            F.round(F.col("max_cos9") / F.lit(1e9), 6).alias("max_kept_cos"),
        )
    )


def embedding_linear_probe(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    l2: float = 1e-3,
) -> DataFrame:
    """Closed-form ridge linear probe on the embedding column — the
    standard representation-quality diagnostic (a linear probe that
    predicts a label from frozen embeddings; Alain & Bengio 2016): how
    linearly decodable is the metadata from the vectors?

    100 TB shape: embedding_whitening's covariance pass, run over
    [x, 1, y] (_moment_pass9), yields XᵀX and Xᵀy of the bias-augmented
    vectors, yᵀy and Σy in ONE per-task packed partial reduced
    element-wise (nothing grows with corpus size), the (d+1)² ridge
    system solves on the driver in microseconds, and predictions broadcast back as a
    map-only Arrow kernel. R²/SSE come from the SAME moments (SSE =
    yᵀy − 2wᵀXᵀy + wᵀXᵀXw), so the metrics cost no extra pass.

    Output: (vec_id, label, pred, resid) per labeled vector; r2 is
    attached as a constant column so a single report row carries the
    probe quality; no rows when no label is set. ORACLE-EXACT (r8, upgraded from rows-only): the
    moments are 1e-9 fixed-point integer sums (_moment_pass9,
    order-free), the solve is a deterministic no-pivot Gaussian
    elimination with snapped back-substitution (_ge_solve_det), and
    predictions/R² are snapped integer dot products — every float op is
    a fixed IEEE sequence a DuckDB recursive CTE replays bit-for-bit
    (EMB_LINEAR_PROBE_SQL). The independent anchor vs the numpy closed
    form stays in the pytest (the snapped moments sit within ~1e-9
    relative of the float ones, so predictions agree to ~1e-7)."""
    spark = emb.sparkSession
    empty_schema = (
        f"{id_col} bigint, {label_col} double, pred double, resid double, "
        "r2 double"
    )
    moments = _moment_pass9(emb, vec_col, label_col)
    if moments is None or moments[0] == 0:
        return spark.createDataFrame([], schema=empty_schema)
    n, sy9, yy9, xty9, xtx9 = moments
    da = len(xty9)
    # augmented system: A = XᵀX/1e9 + ridge (bias unpenalized), b = Xᵀy
    a = [[0.0] * da for _ in range(da)]
    b = [0.0] * da
    for i in range(da):
        for j in range(da):
            v = xtx9[i * da + j] / 1e9
            if i == j and i < da - 1:
                v = v + l2
            a[i][j] = v
        b[i] = xty9[i] / 1e9
    w = _ge_solve_det(a, b)
    # R² from the same moments, every contraction a snapped integer sum:
    # SSE = yᵀy − 2wᵀXᵀy + wᵀ(XᵀX)w. Cancellation on near-perfectly-
    # linear labels can nudge SSE below 0 — clamp R² to [0, 1].
    yy = yy9 / 1e9
    sy = sy9 / 1e9
    q9 = 0
    p9 = 0
    for i in range(da):
        s9 = 0
        for j in range(da):
            s9 += _snap9_scalar((xtx9[i * da + j] / 1e9) * w[j])
        q9 += _snap9_scalar(w[i] * (s9 / 1e9))
        p9 += _snap9_scalar(w[i] * (xty9[i] / 1e9))
    sse = (yy - 2.0 * (p9 / 1e9)) + (q9 / 1e9)
    sst = yy - ((sy * sy) / n)
    r2 = min(max(1.0 - sse / sst, 0.0), 1.0) if sst > 0 else 0.0
    wv = np.array(w)
    bias9 = _snap9_scalar(w[-1])
    bc = spark.sparkContext.broadcast((wv, bias9, r2))

    def predict(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w_, bias9_, r2_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            pred9 = _snap9i(m * w_[None, :-1]).sum(
                axis=1, dtype=np.int64
            ) + np.int64(bias9_)
            pred = pred9 / 1e9
            y = pdf[label_col].to_numpy(dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(np.int64),
                    label_col: y,
                    "pred": pred,
                    "resid": y - pred,
                    "r2": np.full(len(m), r2_),
                }
            )

    return (
        emb.select(id_col, vec_col, label_col)
        .filter(F.col(label_col).isNotNull())
        .mapInPandas(predict, schema=empty_schema)
        .select(
            id_col,
            label_col,
            F.round("pred", 6).alias("pred"),
            F.round("resid", 6).alias("resid"),
            F.round("r2", 6).alias("r2"),
        )
    )


def embedding_pca_reduce(
    emb: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PCA dimensionality reduction of the embedding column: x → Uₖᵀ(x−μ)
    with Uₖ the top-``out_dim`` principal directions — the standard
    store-smaller/search-faster pipeline step (64-dim float → 16-dim
    keeps most variance at 4× less storage and 4× faster dot products;
    pairs with ann_sq8 for a 32× end-to-end shrink).

    100 TB shape: identical to embedding_whitening — one per-task packed
    moment pass ([n, Σx, XᵀX]) reduced element-wise, driver eigensolve
    on the d×d covariance, then a map-only broadcast projection. The
    explained variance ratio rides along as a constant column so the
    caller sees what the reduction kept.

    ORACLE-EXACT since r10: the eigensolve is the snapped parallel
    Jacobi (operators/eigh_replay); eigenpairs sort by (snapped λ desc,
    column index asc), each eigenvector's sign is pinned so its
    largest-|entry| component (smallest index on ties) is positive, EVR
    is a ratio of snapped-integer eigenvalue sums, and the projection a
    1e-9 snapped-product integer sum — EMB_PCA_REDUCE_SQL replays all
    of it. Accuracy vs np.linalg.eigh stays pytest-pinned."""
    from lakeside_spark.operators.eigh_replay import eigh_pipeline

    spark = emb.sparkSession
    empty_schema = f"{id_col} bigint, {vec_col} array<double>, evr double"
    moments = _cov_moments9(emb, vec_col)
    if moments is None or moments[0] == 0:
        return spark.createDataFrame([], schema=empty_schema)
    n, s9, g9 = moments
    mu, _lam, v, lam12, _sc = eigh_pipeline(n, s9, g9)
    d = len(mu)
    order = sorted(range(d), key=lambda j: (-int(lam12[j]), j))
    k = min(out_dim, d)
    cols = []
    for j in order[:k]:
        col = v[:, j]
        kstar = int(np.argmax(np.abs(col)))  # first max on ties
        cols.append(-col if col[kstar] < 0.0 else col)
    uk = np.stack(cols, axis=1)
    den = int(lam12.sum())
    num = sum(int(lam12[j]) for j in order[:k])
    evr = (
        0.0 if den <= 0 else min(max(float(num) / float(den), 0.0), 1.0)
    )
    bc = spark.sparkContext.broadcast((mu, uk, evr))

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu_, uk_, evr_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            t = m - mu_
            outs = []
            for lo in range(0, len(t), 256):
                tb = t[lo : lo + 256]
                outs.append(
                    _snap9i(tb[:, :, None] * uk_[None, :, :]).sum(
                        axis=1, dtype=np.int64
                    )
                    / 1e9
                )
            out = np.vstack(outs)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(np.int64),
                    vec_col: list(out),
                    "evr": np.full(len(m), evr_),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(project, schema=empty_schema)
