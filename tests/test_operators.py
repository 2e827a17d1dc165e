"""Operator-level tests: EMA recurrence, multimodal plumbing, LSH recall,
simhash invariants."""

import pytest
from pyspark.sql import functions as F

from lakeside_spark.sources.tables import load_table


def test_ema_matches_reference_recurrence(spark):
    from lakeside_spark.operators.ema import ema_smooth

    rows = [("a", 0, 10.0), ("a", 1, 20.0), ("a", 2, 0.0), ("b", 0, 5.0)]
    df = spark.createDataFrame(rows, "name string, step_ts long, value double")
    got = {
        (r["name"], r["step_ts"]): r["ema"]
        for r in ema_smooth(df, alpha=0.5).collect()
    }
    # ema0 = x0; ema_t = a*x_t + (1-a)*ema_{t-1}  (EMA.scala:24-31)
    assert got[("a", 0)] == 10.0
    assert got[("a", 1)] == 0.5 * 20 + 0.5 * 10
    assert got[("a", 2)] == 0.5 * 0 + 0.5 * 15
    assert got[("b", 0)] == 5.0


def test_multimodal_fake_decode(spark, sf_dir):
    from lakeside_spark.operators.multimodal import (
        decode_features,
        synthesize_images,
        synthesize_media,
        with_media_metadata,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = with_media_metadata(synthesize_media(docs))
    meta = media.select("doc_id", "media_meta.*").collect()
    assert all(r["byte_size"] > 0 for r in meta)
    assert all(r["format"] == "unknown" for r in meta)  # text bytes, no magic
    # no stdlib decoder for text bytes: byte statistics, never a throw
    blind = decode_features(media, dim=8).collect()
    assert len(blind) == 20 and all(len(r["features"]) == 8 for r in blind)

    pngs = with_media_metadata(synthesize_images(docs))
    assert {r["format"] for r in pngs.select("media_meta.*").collect()} == {"png"}
    feats = decode_features(pngs, dim=8).collect()
    assert len(feats) == 20
    # [width, height, channels, mean, std, p25, p50, p75] of a 16x16 gray
    assert all(r["features"][:3] == [16.0, 16.0, 1.0] for r in feats)
    assert all(0 <= x <= 1 for r in feats for x in r["features"][3:])


def test_multimodal_real_png_decode(spark, sf_dir):
    import numpy as np

    from lakeside_spark.operators import codecs
    from lakeside_spark.operators.multimodal import (
        decode_features,
        resize_media,
        synthesize_images,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    imgs = synthesize_images(docs, width=16, height=12)
    # synthesized media are REAL PNGs: stdlib decode gives the exact pixels
    one = imgs.limit(1).collect()[0]
    px = codecs.png_decode(bytes(one["media"]))
    assert px.shape == (12, 16, 1)

    feats = decode_features(imgs, dim=8).collect()
    assert len(feats) == 10
    for r in feats:
        w, h, c, mean, std = r["features"][:5]
        assert (w, h, c) == (16.0, 12.0, 1.0)
        assert 0 < mean < 1 and 0 < std < 1

    resized = resize_media(imgs, width=5, height=4).collect()
    for r in resized:
        out = codecs.png_decode(bytes(r["media"]))
        assert out.shape == (4, 5, 1)

    # wav branch: real PCM decode drives the feature vector
    sine = np.sin(np.linspace(0, 60, 4000))
    wav = codecs.wav_encode(sine, rate=8000)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, media binary")
    (r,) = decode_features(df, dim=8).collect()
    rate_khz, nch, dur, rms = r["features"][:4]
    assert rate_khz == pytest.approx(8.0)
    assert nch == 1.0
    assert dur == pytest.approx(0.5)
    # 16-bit PCM quantization bounds the round-trip error at ~1/32768
    assert rms == pytest.approx(float(np.sqrt((sine**2).mean())), rel=1e-3)


def test_magic_byte_sniffing(spark):
    from lakeside_spark.operators.multimodal import with_media_metadata

    rows = [(1, bytearray(b"\x89PNG\r\n rest")), (2, bytearray(b"\xff\xd8\xff\xe0jpg")), (3, bytearray(b"plain"))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r["fmt"] for r in with_media_metadata(df).select("doc_id", F.col("media_meta.format").alias("fmt")).collect()}
    assert got == {1: "png", 2: "jpeg", 3: "unknown"}


def test_lsh_is_subset_of_bruteforce(spark, sf_dir):
    from lakeside_spark.operators.similarity import ann_lsh, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    brute = {(r["q_id"], r["n_id"]) for r in cosine_topk(emb, q, k=50).collect()}
    approx = ann_lsh(emb, q, k=10, num_planes=2)
    got = [(r["q_id"], r["n_id"], r["cos"]) for r in approx.collect()]
    assert len(got) > 0
    # every LSH hit scores identically to brute force (same kernel)
    brute_cos = {
        (r["q_id"], r["n_id"]): r["cos"] for r in cosine_topk(emb, q, k=500).collect()
    }
    for q_id, n_id, cos in got:
        assert brute_cos[(q_id, n_id)] == pytest.approx(cos, abs=1e-9)


def test_minhash_lsh_subset_of_exact(spark, sf_dir):
    from lakeside_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, 0.12).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, 0.12).collect()}
    assert lsh <= exact


def test_pair_apis_release_their_caches(spark, sf_dir):
    """Repeated minhash_lsh_pairs / ngram_jaccard_pairs calls must not
    grow the session's persisted-RDD set (the r10 verdict's leak: three
    corpus-sized frames pinned per LSH call for the session lifetime).
    localCheckpoint blocks are owned by the returned DataFrame and
    reclaimed by the ContextCleaner once it's dropped — the assertion
    tolerates those by comparing against the FIRST call's footprint."""
    from lakeside_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").limit(60)

    import gc
    import time

    def settled_count(bound: int | None = None) -> int:
        """Persisted-RDD count after GC on both sides — retried while
        above ``bound`` because the ContextCleaner reclaims dropped
        checkpoint blocks asynchronously."""
        n = None
        for _ in range(20):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            n = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            if bound is None or n <= bound:
                break
            time.sleep(0.5)
        return n

    minhash_lsh_pairs(docs, 0.12).count()
    ngram_jaccard_pairs(docs, 0.12).count()
    base = settled_count()
    for _ in range(3):
        minhash_lsh_pairs(docs, 0.12).count()
        ngram_jaccard_pairs(docs, 0.12).count()
    # tolerance +2: the ContextCleaner reclaims dropped checkpoint
    # blocks asynchronously and can lag a block or two behind the GC
    # retries under host load (r12: the exact `<= base` form flaked at
    # 2 vs 1 on a loaded host, reproducibly at the r11 HEAD too). The
    # guarded regression — three corpus-sized frames pinned PER CALL —
    # would leave ~18 blocks after this loop, far beyond the tolerance.
    assert settled_count(bound=base + 2) <= base + 2


def test_simhash_is_deterministic_64bit(spark, sf_dir):
    from lakeside_spark.operators.dedup import simhash64

    docs = load_table(spark, sf_dir, "documents").limit(50)
    a = {(r["doc_id"], r["simhash"]) for r in simhash64(docs).collect()}
    b = {(r["doc_id"], r["simhash"]) for r in simhash64(docs).collect()}
    assert a == b
    assert all(0 <= h < 2**60 for _, h in a)
    # empty / whitespace-only docs carry no signal: no simhash, no pair —
    # the brute-force oracle filters the '' token the same way
    weird = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "   "), (4, "real text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in simhash64(weird).collect()}
    assert got == {4}


def test_ann_ivf_recall_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from lakeside_spark.operators.similarity import ann_ivf, cosine_topk
    from lakeside_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["q_id"], r["n_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    r1 = sorted((r["q_id"], r["n_id"], r["cos"]) for r in ann_ivf(emb, q, k=5, n_probe=6).collect())
    r2 = sorted((r["q_id"], r["n_id"], r["cos"]) for r in ann_ivf(emb, q, k=5, n_probe=6).collect())
    assert r1 == r2, "IVF must be deterministic (seeded quantizer)"
    got = {(a, b) for a, b, _ in r1}
    assert len(got & exact) / len(exact) >= 0.4, "IVF recall collapsed"
    # probing ALL cells makes IVF exact — same pairs as brute force
    full = {
        (r["q_id"], r["n_id"])
        for r in ann_ivf(emb, q, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == exact
    # SPANN-style multi-assignment dominates single assignment at the
    # same probe fan-out (boundary vectors reachable from 2 cells); on
    # the sf0.01 panel it is 0.61 -> 0.80
    base = {
        (r["q_id"], r["n_id"]) for r in ann_ivf(emb, q, k=5).collect()
    }
    ma = {
        (r["q_id"], r["n_id"])
        for r in ann_ivf(emb, q, k=5, n_assign=2).collect()
    }
    assert len(ma & exact) >= len(base & exact), "multi-assign lost recall"


def test_banded_simhash_matches_all_pairs(spark, sf_dir):
    """Pigeonhole banding is exact: banded candidates + verify must equal
    the all-pairs ground truth at the same hamming budget."""
    from lakeside_spark.operators.dedup import simhash_pairs
    from lakeside_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    banded = {(r["id_a"], r["id_b"], r["hamming"]) for r in simhash_pairs(docs, 6).collect()}
    # ground-truth side: the all-pairs join is exactly what the
    # allow_quadratic escape hatch exists for (small test corpus)
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, 60, allow_quadratic=True).collect()
    }
    assert banded == {x for x in full if x[2] <= 6}


def test_simhash_best_match_equals_naive_pair_min(spark, sf_dir):
    """The exact-dup-group/representative split must return exactly the
    per-doc min over the full pair list (min hamming, min partner id)."""
    from pyspark.sql import functions as F

    from lakeside_spark.operators.dedup import simhash_best_match, simhash_pairs
    from lakeside_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=6)
    sym = pairs.select(
        F.col("id_a").alias("doc_id"),
        F.struct("hamming", F.col("id_b").alias("match_id")).alias("m"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.struct("hamming", F.col("id_a").alias("match_id")).alias("m"),
        )
    )
    naive = sorted(
        tuple(r)
        for r in sym.groupBy("doc_id")
        .agg(F.min("m").alias("m"))
        .select("doc_id", "m.match_id", "m.hamming")
        .collect()
    )
    fast = sorted(
        tuple(r) for r in simhash_best_match(docs, max_hamming=6).collect()
    )
    assert naive == fast
    assert len(fast) > 0


def test_identical_docs_have_zero_hamming(spark):
    from lakeside_spark.operators.dedup import simhash_pairs

    rows = [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different words here entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=60, allow_quadratic=True).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3), 61) > 0


def test_asof_join_semantics(spark):
    """Ties match (>= semantics), unmatched left rows drop (inner) or
    null-fill (left), tolerance bounds the lookback."""
    from lakeside_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 300), (4, "v", 50)],
        "id long, k string, ts long",
    )
    R = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 200, 2.0), ("u", 300, 3.0), ("v", 60, 9.0)],
        "k string, ts long, val double",
    )
    inner = [tuple(r) for r in asof_join(L, R, "k", "ts", "ts").orderBy("id").collect()]
    assert inner == [(1, "u", 100, 1.0, 100), (2, "u", 205, 2.0, 200), (3, "u", 300, 3.0, 300)]
    left = [tuple(r) for r in asof_join(L, R, "k", "ts", "ts", how="left").orderBy("id").collect()]
    assert left[3] == (4, "v", 50, None, None)
    tol = [tuple(r) for r in asof_join(L, R, "k", "ts", "ts", tolerance_ms=3).orderBy("id").collect()]
    assert [t[0] for t in tol] == [1, 3]  # 205-200=5 > 3 -> dropped


def test_asof_join_forward_and_nearest(spark):
    """direction="forward" mirrors backward (<= tie semantics at equal
    ts); direction="nearest" picks the closer candidate and resolves an
    exact equidistant tie to the BACKWARD (prior) row; tolerance bounds
    the distance per side before the nearest pick."""
    from lakeside_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 995), (4, "v", 50)],
        "id long, k string, ts long",
    )
    R = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 200, 2.0), ("u", 210, 3.0), ("u", 1000, 4.0), ("w", 60, 9.0)],
        "k string, ts long, val double",
    )
    fwd = [
        tuple(r)
        for r in asof_join(L, R, "k", "ts", "ts", direction="forward")
        .orderBy("id")
        .collect()
    ]
    # 1 matches the same-ts row (>= tie), 2 the next-later, 4 drops (inner)
    assert fwd == [
        (1, "u", 100, 1.0, 100),
        (2, "u", 205, 3.0, 210),
        (3, "u", 995, 4.0, 1000),
    ]
    near = [
        tuple(r)
        for r in asof_join(L, R, "k", "ts", "ts", direction="nearest")
        .orderBy("id")
        .collect()
    ]
    # 2 is EXACTLY equidistant (200 and 210, both d=5) -> prior row 200;
    # 3 is closer to 1000 (d=5) than 210 (d=785) -> forward row
    assert near == [
        (1, "u", 100, 1.0, 100),
        (2, "u", 205, 2.0, 200),
        (3, "u", 995, 4.0, 1000),
    ]
    near_tol = [
        tuple(r)
        for r in asof_join(
            L, R, "k", "ts", "ts", direction="nearest", tolerance_ms=3, how="left"
        )
        .orderBy("id")
        .collect()
    ]
    # only the exact-ts match survives a 3ms tolerance; left keeps the rest
    assert [(t[0], t[3]) for t in near_tol] == [
        (1, 1.0),
        (2, None),
        (3, None),
        (4, None),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(L, R, "k", "ts", "ts", direction="sideways")


def test_range_join_bucketed_equi(spark):
    """Boundary containment is inclusive, intervals spanning many buckets
    match without duplicates, and name collisions are rejected."""
    from lakeside_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 5000), (3, "u", 10_000), (4, "w", 100)],
        "pid long, pk string, ts long",
    )
    ivs = spark.createDataFrame(
        [(10, "u", 100, 10_000), (11, "u", 4000, 4500), (12, "v", 0, 99_999)],
        "iid long, ik string, lo long, hi long",
    )
    out = [
        (r["pid"], r["iid"])
        for r in range_join(pts, ivs, "ts", "lo", "hi", on=("pk", "ik"), bucket_ms=1000)
        .orderBy("pid", "iid")
        .collect()
    ]
    # 1 and 3 sit on inclusive bounds; 2 misses [4000,4500]; w has no interval
    assert out == [(1, 10), (2, 10), (3, 10)]
    with pytest.raises(ValueError):
        range_join(pts, pts.withColumnRenamed("pid", "x"), "ts", "lo", "hi")


def test_multimodal_resize_and_frames_plumbing(spark, sf_dir):
    from lakeside_spark.operators import codecs
    from lakeside_spark.operators.multimodal import (
        resize_media,
        sample_frames,
        synthesize_images,
        synthesize_media,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    imgs = synthesize_images(docs, width=16, height=12)
    resized = resize_media(imgs, width=4, height=3).collect()
    assert len(resized) == 10
    assert all(r["width"] == 4 and r["height"] == 3 for r in resized)
    assert all(
        codecs.png_decode(bytes(r["media"])).shape == (3, 4, 1) for r in resized
    )
    # deterministic
    again = resize_media(imgs, width=4, height=3).collect()
    assert sorted(r["media"] for r in resized) == sorted(r["media"] for r in again)

    media = synthesize_media(docs)

    # real resize of non-image bytes yields empty media (caller filters)
    real = resize_media(media, 2, 2).collect()
    assert all(len(r["media"]) == 0 for r in real)
    # real frame extraction rejects non-AVI bytes with the offending id
    with pytest.raises(Exception, match="not an AVI"):
        sample_frames(media).collect()


def test_sample_frames_real_avi_round_trip(spark, sf_dir):
    """r12 (stub removed): synthesized uncompressed-DIB AVIs round-trip
    through the RIFF walk — sampled frame bytes decode to exactly the
    pixels that were encoded, at the right stride."""
    import numpy as np

    from lakeside_spark.operators.codecs import avi_encode, dib_decode
    from lakeside_spark.operators.multimodal import (
        sample_frames,
        synthesize_videos,
    )

    docs = load_table(spark, sf_dir, "documents").limit(6)
    media = synthesize_videos(docs, n_frames=8)
    out = sample_frames(media, every_n=3, max_frames=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert len(per_doc) == 6
    for did, rows in per_doc.items():
        # every_n=3, max_frames=2 over 8 frames -> source indices 0, 3
        assert sorted(r["frame_idx"] for r in rows) == [0, 3]
        for r in rows:
            assert (r["width"], r["height"]) == (16, 16)
            px = dib_decode(bytes(r["frame"]), 16, 16)
            assert px.shape == (16, 16, 3)
    # determinism: same synth + sample twice -> identical frame bytes
    again = sample_frames(
        synthesize_videos(docs, n_frames=8), every_n=3, max_frames=2
    ).collect()
    key = lambda r: (r["doc_id"], r["frame_idx"])  # noqa: E731
    assert sorted((bytes(r["frame"]) for r in out)) == sorted(
        bytes(r["frame"]) for r in again
    )


def test_pack_documents_invariants(spark, sf_dir):
    """Every doc is assigned exactly once; no bin exceeds the budget unless
    it holds a single oversized doc; bins are contiguous per stratum."""
    from lakeside_spark.operators.sampling import pack_documents
    from lakeside_spark.operators.textstats import token_counts

    docs = load_table(spark, sf_dir, "documents")
    toks = token_counts(docs).select("doc_id", F.col("ws_tokens").alias("n_tokens"))
    inp = docs.select("doc_id", "lang").join(toks, "doc_id")
    packed = pack_documents(inp, budget_tokens=200).toPandas()
    assert len(packed) == inp.count()
    assert packed.doc_id.is_unique
    for (_, b), g in packed.groupby(["lang", "bin_id"]):
        assert g.n_tokens.sum() <= 200 or len(g) == 1, (b, g.n_tokens.sum())
    for _, g in packed.groupby("lang"):
        bins = sorted(g.bin_id.unique())
        assert bins == list(range(len(bins)))


def test_stratified_sample_superset_property(spark, sf_dir):
    """Raising a stratum's rate only ADDS docs (hash gate monotonicity) —
    the reproducibility property seeded RNG sampling lacks."""
    from lakeside_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    lo = {r["doc_id"] for r in stratified_sample(docs, {"en": 20.0}).collect()}
    hi = {r["doc_id"] for r in stratified_sample(docs, {"en": 60.0}).collect()}
    assert lo <= hi
    assert len(hi) > len(lo)


def test_embedding_lsh_path_subset_and_recall(spark, sf_dir, gate_sides):
    """The 100 TB path for dedup_embedding: LSH-bucketed candidates + exact
    verify must emit a subset of the exact broadcast result (no false
    positives) with near-total recall at generous band counts — and never
    collect the corpus (no broadcast-Gram in the plan)."""
    from lakeside_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    lsh, exact = gate_sides(
        similarity,
        "BROADCAST_LIMIT",
        lambda: {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in similarity.embedding_dup_pairs(
                emb, 0.9, bands=24, planes_per_band=6
            ).collect()
        },
    )
    assert set(lsh) <= set(exact), "verify stage must kill false positives"
    assert len(lsh) >= 0.9 * len(exact), (len(lsh), len(exact))
    for pair, cos in lsh.items():
        assert cos == pytest.approx(exact[pair], abs=1e-6)


def test_embedding_lsh_no_cartesian(spark, sf_dir, monkeypatch):
    from lakeside_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "BROADCAST_LIMIT", 0)
    plan = (
        similarity.embedding_dup_pairs(emb, 0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_repetition_signals_hand_computed(spark):
    from lakeside_spark.operators.repetition import repetition_signals

    rows = [
        # "ab cd ab cd ab": 2-grams = [ab cd, cd ab, ab cd, cd ab] ->
        # top2 = "ab cd"×2 = 10 chars of 20; 5-gram single -> no dups
        (1, "ab cd ab cd ab"),
        # every 5-gram identical: "x x x x x" ×2 -> dup5 = full mass
        (2, "x x x x x x"),
        # no repeats at all
        (3, "one two three four five six"),
        # shorter than 5 words -> empty 5-gram set, top2 still defined
        (4, "aa bb"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}

    assert got[1]["top2_chars"] == 10  # "ab cd" (5 chars) seen twice
    assert got[1]["top2_frac"] == pytest.approx(10 / 20)
    assert got[1]["dup5_chars"] == 0

    # doc 2: 2-grams are five "x x" (3 chars) -> top2 = 15/15; 5-grams are
    # two "x x x x x" (9 chars) -> dup5 = 18/18
    assert got[2]["top2_frac"] == 1.0
    assert got[2]["dup5_frac"] == 1.0
    assert got[2]["dup5_chars"] == 18

    assert got[3]["top2_chars"] == max(
        len(a) + 1 + len(b)
        for a, b in zip("one two three four five".split(), "two three four five six".split())
    )
    assert got[3]["dup5_frac"] == 0.0

    assert got[4]["top2_chars"] == 5  # the single 2-gram "aa bb"
    assert got[4]["dup5_chars"] == 0
    assert got[4]["n_words"] == 2


def test_repetition_zero_shuffle_plan(spark, sf_dir):
    from lakeside_spark.registry import QUERIES

    for key in ("text_repetition", "corpus_gopher_filter"):
        plan = (
            QUERIES[key](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, (key, plan[:1500])


def test_gopher_filter_bands(spark):
    from lakeside_spark.operators.repetition import gopher_filter

    rows = [
        (1, "en", "s", " ".join(f"word{i}" for i in range(30))),  # keep
        (2, "en", "s", " ".join(f"w{i}" for i in range(5))),    # too short
        (3, "en", "s", " ".join("spam and eggs" for _ in range(10))),  # repetitive
        (4, "en", "s", " ".join("x" * 20 for _ in range(25))),  # words too long
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    kept = {r["doc_id"] for r in gopher_filter(docs).collect()}
    assert kept == {1}


def test_decontam_broadcast_and_exactness(spark, sf_dir):
    from lakeside_spark.operators.decontam import decontaminate, ngram_overlap
    from lakeside_spark.registry import QUERIES

    plan = (
        QUERIES["decontam_overlap"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan

    # a doc sharing a 5-gram with the eval set must be flagged; a clean
    # doc must survive
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon omega"),  # shares first 5-gram
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    ev = docs.filter("doc_id = 1")
    corpus = docs.filter("doc_id > 1")
    hits = {r["doc_id"] for r in ngram_overlap(corpus, ev, n=5).collect()}
    assert hits == {2}
    clean = {r["doc_id"] for r in decontaminate(corpus, ev, n=5).collect()}
    assert clean == {3}


def test_bloom_decontam_no_false_negatives(spark, sf_dir):
    """The Bloom screen must flag a SUPERSET of the exact n-gram overlap
    (zero false negatives — the Bloom guarantee) with a tiny FP margin at
    the default 1M-bit / 7-hash sizing."""
    from lakeside_spark.operators.decontam import bloom_decontam, ngram_overlap

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {r["doc_id"]: r["n_overlap_grams"] for r in ngram_overlap(corpus, ev, n=5).collect()}
    bloom = {r["doc_id"]: r["n_suspect_grams"] for r in bloom_decontam(corpus, ev, n=5).collect()}
    missing = set(exact) - set(bloom)
    assert not missing, f"false negatives: {missing}"
    # per-doc: Bloom sees at least as many suspect grams as true overlaps
    assert all(bloom[d] >= exact[d] for d in exact)
    # FP discipline: flagged docs beyond the exact set stay a small margin
    n_corpus = corpus.count()
    fp_docs = len(set(bloom) - set(exact))
    assert fp_docs <= max(2, 0.02 * n_corpus), fp_docs
    # a filter sized far too small floods with FPs but still never misses
    tiny = {r["doc_id"] for r in bloom_decontam(corpus, ev, n=5, m_bits=1 << 8).collect()}
    assert set(exact) <= tiny


def test_bm25_ranks_matching_docs_first(spark):
    """BM25 invariants on a hand-built corpus: docs containing the query
    terms outrank docs without them, repeated-term docs outrank
    single-mention docs of the same length, ranks are consecutive from
    1, and non-matching docs never appear."""
    from lakeside_spark.operators.bm25 import bm25_topk

    corpus = spark.createDataFrame(
        [
            (10, "spark shuffle join spark spark"),
            (11, "spark appears once in this doc"),
            (12, "completely unrelated words entirely here"),
            (13, "another doc about joins and shuffle work"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(1, "spark shuffle")], "doc_id long, text string")
    rows = bm25_topk(corpus, q, k=10).orderBy("rank").collect()
    got = [(r["doc_id"], r["rank"]) for r in rows]
    ids = [d for d, _ in got]
    assert 12 not in ids, got  # no query term -> never retrieved
    assert ids[0] == 10, got  # repeated spark + shuffle wins
    assert [r for _, r in got] == list(range(1, len(got) + 1))
    assert all(r["score"] > 0 for r in rows)


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    """RRF invariants on the driver tables: output is top-10 per query
    with consecutive ranks; every fused score is a sum of at most two
    reciprocals 1/(60+r), so it lies in (0, 2/61]; and a doc retrieved
    by BOTH legs at rank 1 would score 2/61 — monotone in leg ranks."""
    from lakeside_spark.operators.bm25 import hybrid_rrf_topk
    from lakeside_spark.sources.tables import load_table

    out = hybrid_rrf_topk(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    ).collect()
    assert out, "hybrid returned nothing"
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        assert len(rows) <= 10
        for r in rows:
            assert 0 < r["rrf"] <= round(2 / 61, 6) + 1e-9, r


def test_bm25_gate_metadata_count(spark, sf_dir, tmp_path):
    """The full/matched gate on a bare file-backed scan reads parquet
    footers — zero Spark jobs, also for a zero-row table — and agrees
    with count(); any row-dropping plan (a filter) falls back to a real
    count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeside_spark.operators.bm25 import _gate_count
    from lakeside_spark.sources.footers import footer_row_count
    from lakeside_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    true = docs.count()
    pq.write_table(
        pa.table({"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())}),
        tmp_path / "empty.parquet",
    )
    empty = spark.read.parquet(str(tmp_path / "empty.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("bm25-gate", "footer row count")
    try:
        counts = (footer_row_count(docs), _gate_count(docs), _gate_count(empty))
    finally:
        sc.setJobGroup(None, None)
    assert counts == (true, true, 0)
    assert list(sc.statusTracker().getJobIdsForGroup("bm25-gate")) == []
    # a filtered plan can drop rows: footers can't answer it
    filtered = docs.filter("doc_id >= 5")
    assert footer_row_count(filtered) is None
    assert _gate_count(filtered) == filtered.count()


def test_retrieval_eval_dense_anchor_and_bounds(spark, sf_dir):
    """retrieval_eval invariants on the driver tables: the dense system
    is scored against its own top-k truth set, so its recall/MRR/nDCG
    are exactly 1.0; every metric lies in [0, 1]; all three systems
    report; and hybrid — which contains the dense leg in its pool —
    recovers at least as much of the truth set as the lexical leg
    alone on this panel."""
    from lakeside_spark.operators.bm25 import retrieval_eval
    from lakeside_spark.sources.tables import load_table

    rows = retrieval_eval(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    ).collect()
    by_sys = {r["system"]: r for r in rows}
    assert set(by_sys) == {"bm25", "dense", "hybrid"}
    for r in rows:
        for m in ("recall_at_k", "mrr", "ndcg"):
            assert 0.0 <= r[m] <= 1.0, (r["system"], m, r[m])
    d = by_sys["dense"]
    assert (d["recall_at_k"], d["mrr"], d["ndcg"]) == (1.0, 1.0, 1.0), d
    assert by_sys["hybrid"]["recall_at_k"] >= by_sys["bm25"]["recall_at_k"], by_sys


def test_attribution_models_hand_computed(spark):
    """All three models on a hand-built event log: first/last pick the
    right touch, linear splits in micro-units (n=3 sums to 0.999999 by
    the documented fixed-point semantics), out-of-window and no-touch
    conversions fall to 'direct', and every model conserves the total
    conversion count."""
    from lakeside_spark.operators.behavior import attribution

    day = 86_400_000
    rows = [
        # user A: view, click -> purchase (n=2)
        ("a", 1, "view", 1),
        ("a", 2, "click", 2),
        ("a", 10, "purchase", 3),
        # user B: bare purchase -> direct
        ("b", 5, "purchase", 4),
        # user C: signup, view, click -> purchase (n=3)
        ("c", 1, "signup", 5),
        ("c", 2, "view", 6),
        ("c", 3, "click", 7),
        ("c", 4, "purchase", 8),
        # user D: touch outside the 7-day lookback -> direct
        ("d", 0, "view", 9),
        ("d", 7 * day + 1, "purchase", 10),
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, timestamp_ms long, name string, event_id long"
    )
    out = attribution(ev)
    got = {
        (r["model"], r["channel"]): (r["credit"], r["n_conversions"])
        for r in out.collect()
    }
    assert got == {
        ("first_touch", "view"): (1.0, 1),
        ("first_touch", "signup"): (1.0, 1),
        ("first_touch", "direct"): (2.0, 2),
        ("last_touch", "click"): (2.0, 2),
        ("last_touch", "direct"): (2.0, 2),
        ("linear", "view"): (0.833333, 2),
        ("linear", "click"): (0.833333, 2),
        ("linear", "signup"): (0.333333, 1),
        ("linear", "direct"): (2.0, 2),
    }, got
    # each model's total credit ~= total conversions (micro-unit floor)
    for m in ("first_touch", "last_touch", "linear"):
        total = sum(v[0] for (mm, _), v in got.items() if mm == m)
        assert abs(total - 4.0) < 1e-5, (m, total)


def test_attribution_chain_equals_join_plan_randomized(spark):
    """The capped window-chain plan (N <= 16) and the explode+equi-join
    fallback (N > 16) are two independent implementations of the same
    semantics — cross-check them on a seeded random event log that
    deliberately includes timestamp collisions (touch-touch AND
    touch-conversion ties, where the strict-< rule and the tiebreak
    order earn their keep), multi-conversion users, and out-of-lookback
    touches. The join path is forced by shrinking the module threshold,
    not by changing N, so both plans see the identical cap."""
    import random

    from lakeside_spark.operators import behavior

    rng = random.Random(417)
    names = ["view", "click", "signup", "purchase", "noise"]
    rows = []
    for eid in range(600):
        # coarse ts grid -> plenty of exact ties within and across users
        rows.append(
            (
                f"u{rng.randrange(12)}",
                rng.randrange(40) * 1000,
                rng.choice(names),
                eid,
            )
        )
    ev = spark.createDataFrame(
        rows, "user_id string, timestamp_ms long, name string, event_id long"
    )
    configs = (
        dict(lookback_ms=15_000, max_touches=4),
        dict(lookback_ms=2_000, max_touches=1),  # degenerate chain: N=1
        dict(  # channel subset: 'signup' rows become non-stream noise
            lookback_ms=40_000, max_touches=8, channels=("view", "click")
        ),
    )
    old_cap = behavior._TOUCH_CHAIN_CAP
    for kw in configs:
        chain = {tuple(r) for r in behavior.attribution(ev, **kw).collect()}
        behavior._TOUCH_CHAIN_CAP = 0
        try:
            joined = {
                tuple(r) for r in behavior.attribution(ev, **kw).collect()
            }
        finally:
            behavior._TOUCH_CHAIN_CAP = old_cap
        assert chain == joined, (kw, chain ^ joined)


def test_attribution_max_touches_cap_conserves(spark):
    """The power-user cap keeps only the N most recent touches per
    conversion: first_touch becomes first-of-the-window, linear splits
    over ≤N, and every model still conserves exactly one conversion of
    credit per conversion."""
    from lakeside_spark.operators.behavior import attribution

    # one user: 12 touches (view at odd ts, click at even) then purchase
    rows = [("u", t, "view" if t % 2 else "click", t) for t in range(1, 13)]
    rows += [("u", 100, "purchase", 100), ("v", 50, "purchase", 101)]
    ev = spark.createDataFrame(
        rows, "user_id string, timestamp_ms long, name string, event_id long"
    )
    got = {
        (r["model"], r["channel"]): (r["credit"], r["n_conversions"])
        for r in attribution(ev, max_touches=5).collect()
    }
    # capped window = touches at ts 8..12 (5 most recent):
    # first-of-window = ts 8 (click), last = ts 12 (click);
    # linear: view x2 (9,11), click x3 (8,10,12) at 200000 micro each
    assert got == {
        ("first_touch", "click"): (1.0, 1),
        ("first_touch", "direct"): (1.0, 1),
        ("last_touch", "click"): (1.0, 1),
        ("last_touch", "direct"): (1.0, 1),
        ("linear", "view"): (0.4, 1),
        ("linear", "click"): (0.6, 1),
        ("linear", "direct"): (1.0, 1),
    }, got
    for m in ("first_touch", "last_touch", "linear"):
        total = sum(v[0] for (mm, _), v in got.items() if mm == m)
        assert abs(total - 2.0) < 1e-5, (m, total)
    # cap >= touch count is a no-op: identical to the uncapped output
    capped = {
        tuple(r) for r in attribution(ev, max_touches=100).collect()
    }
    uncapped = {tuple(r) for r in attribution(ev).collect()}
    assert capped == uncapped


def test_vocab_topk_deterministic_ties(spark):
    from lakeside_spark.operators.decontam import vocab_topk

    docs = spark.createDataFrame(
        [(1, "b a"), (2, "a b c")], "doc_id long, text string"
    )
    rows = vocab_topk(docs, k=10).collect()
    assert [(r["rank"], r["word"], r["cnt"]) for r in rows] == [
        (1, "a", 2),
        (2, "b", 2),
        (3, "c", 1),
    ]


def test_embedding_decontam_planted_and_edges(spark):
    """A corpus vector that is a scaled copy of a benchmark vector must
    be flagged at cos≈1 with that benchmark id (scaling cancels in the
    unit snap); an anti-correlated one must not; an empty benchmark
    flags nothing."""
    from lakeside_spark.operators.decontam_semantic import benchmark_matches

    d = 64
    base = [float((i * 7) % 13 - 6) for i in range(d)]
    rows = [
        (100, base),                      # benchmark
        (1, [x * 2.5 for x in base]),     # scaled copy -> cos 1
        (2, [-x for x in base]),          # anti-correlated -> cos -1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bench = emb.filter(F.col("vec_id") >= 100)
    corpus = emb.filter(F.col("vec_id") < 100)
    got = {
        r["vec_id"]: (r["bench_id"], r["cos"])
        for r in benchmark_matches(corpus, bench, threshold=0.9).collect()
    }
    assert set(got) == {1}
    assert got[1][0] == 100 and abs(got[1][1] - 1.0) < 1e-6
    empty_bench = bench.filter(F.col("vec_id") < 0)
    assert benchmark_matches(corpus, empty_bench).count() == 0


def test_tokenizer_fertility_invariants(spark, sf_dir):
    """Fertility = BPE tokens per word: every language row must sit at
    ≥ 1 (a word is at least one token), cover exactly the corpus's
    languages, and NOT be the degenerate constant 1.0 (the 200-merge
    budget fully reconstructs this corpus's words — the key trains at
    80 merges precisely so the metric discriminates)."""
    from lakeside_spark.registry import QUERIES
    from lakeside_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    langs = {r[0] for r in docs.select("lang").distinct().collect()}
    rows = QUERIES["tokenizer_fertility"](spark, sf_dir).collect()
    assert {r["lang"] for r in rows} == langs
    for r in rows:
        assert r["n_tokens"] >= r["n_words"] > 0
        assert r["fertility"] >= 1.0
    assert any(r["fertility"] > 1.05 for r in rows), "degenerate tokenizer"


def test_ann_self_only_corpus_yields_no_pairs(spark, sf_dir):
    """A corpus whose every row is also the query must return zero
    pairs without erroring — the all-self batch used to emit an empty
    untyped nu6 column that failed the Arrow list<bigint> convert."""
    from lakeside_spark.operators.similarity import ann_ivf, ann_pq

    emb = load_table(spark, sf_dir, "embeddings")
    one = emb.filter(F.col("vec_id") == 7)
    assert ann_pq(one, one, k=5, m_subs=16, n_codes=64).count() == 0
    assert ann_ivf(one, one, k=5, n_cells=4).count() == 0


def test_ann_pq_recall_and_determinism(spark, sf_dir):
    """Both rotations run the one snapped PQ pipeline: deterministic
    (strided codebook init, no RNG), recall above the floor, k rows per
    query."""
    from collections import Counter

    from lakeside_spark.operators.similarity import ann_pq, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["q_id"], r["n_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    for rotation in ("none", "opq"):

        def run():
            out = ann_pq(emb, q, k=5, m_subs=16, n_codes=64, rotation=rotation)
            return sorted(tuple(r) for r in out.collect())

        r1, r2 = run(), run()
        assert r1 == r2, f"PQ ({rotation}) must be deterministic"
        got = {(a, b) for a, b, _, _ in r1}
        assert len(got & exact) / len(exact) >= 0.4, f"PQ ({rotation}) recall collapsed"
        per_q = Counter(a for a, _, _, _ in r1)
        assert all(v == 5 for v in per_q.values()), rotation


def test_pq_train_snapped_matches_loop_reference(sf_dir):
    """The snapped PQ trainer's exact-int64 distance expansion and
    vectorised centroid sums give the codebooks of the direct
    squared-difference and per-cell loop: same integers, same argmin,
    same float division."""
    import numpy as np
    import pyarrow.parquet as pq

    from lakeside_spark.operators.pq_replay import _snap6i, pq_train_snapped, unit6

    def reference(u6, m_subs, n_codes, iters):
        n, d = u6.shape
        sub, k = d // m_subs, min(n_codes, n)
        stride = max(n // k, 1)
        books = np.empty((m_subs, k, sub), dtype=np.int64)
        for j in range(m_subs):
            x = u6[:, j * sub : (j + 1) * sub]
            cents = x[[c * stride for c in range(k)]].copy()
            for _ in range(iters):
                d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                best = d2.argmin(axis=1)
                for c in range(k):
                    members = x[best == c]
                    if len(members):
                        v = members.sum(axis=0, dtype=np.int64).astype(np.float64)
                        cents[c] = _snap6i(v / 1e6 / float(len(members)))
            books[j] = cents
        return books

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
    u6 = unit6(np.array(t.column("embedding").to_pylist(), dtype=np.float64))
    # repeated rows make duplicate initial centroids, whose cells stay
    # empty (ties go to the lowest code) and keep their centroid
    cases = ((u6, 16, 64), (u6, 8, 32), (u6[:3], 8, 32), (u6[:1], 16, 64),
             (np.repeat(u6[:2], 3, axis=0), 8, 32))
    for i, (x, m_subs, n_codes) in enumerate(cases):
        assert np.array_equal(
            pq_train_snapped(x, m_subs, n_codes, iters=5), reference(x, m_subs, n_codes, 5)
        ), i


def test_ann_pq_rejects_unknown_rotation(spark, sf_dir):
    from lakeside_spark.operators.similarity import ann_pq

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="'none' or 'opq'"):
        ann_pq(emb, emb.filter(F.col("vec_id") < 5), rotation="pca")


def test_moment_pass9_matches_numpy_reference(spark, sf_dir):
    """The linear probe's moments (the covariance pass over [x, 1, y])
    equal a plain-numpy sum of the same 1e-9-snapped products, element
    for element: the probe's oracle hash rounds to 6 digits and would
    not see one unit of drift in one moment."""
    import numpy as np

    from lakeside_spark.operators.kmeans_replay import _snap9i
    from lakeside_spark.operators.similarity import _moment_pass9

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("label").isNotNull()).select("embedding", "label").collect()
    x = np.hstack(
        [
            np.array([r["embedding"] for r in rows], dtype=np.float64),
            np.ones((len(rows), 1)),
        ]
    )
    y = np.array([r["label"] for r in rows], dtype=np.float64)
    da = x.shape[1]
    xty = np.zeros(da, dtype=np.int64)
    xtx = np.zeros((da, da), dtype=np.int64)
    for lo in range(0, len(x), 256):
        xb, yb = x[lo : lo + 256], y[lo : lo + 256]
        xty += _snap9i(xb * yb[:, None]).sum(axis=0)
        xtx += _snap9i(xb[:, :, None] * xb[:, None, :]).sum(axis=0)
    n, sy9, yy9, xty9, xtx9 = _moment_pass9(emb, "embedding", "label")
    assert n == len(rows)
    assert sy9 == int(_snap9i(y).sum())
    assert yy9 == int(_snap9i(y * y).sum())
    assert xty9 == xty.tolist()
    assert xtx9 == xtx.ravel().tolist()


def _ann_edge_call(name, corpus, queries):
    from lakeside_spark.operators import similarity as sim

    if name == "ann_pq_opq":
        return sim.ann_pq(corpus, queries, k=5, rotation="opq")
    return getattr(sim, name)(corpus, queries, k=5)


SIMILARITY_EDGE_CASES = [
    (name, case)
    for name in ("ann_pq", "ann_pq_opq", "ann_sq8", "ann_lsh")
    for case in ("empty_corpus", "single_row_corpus", "empty_queries")
] + [("embedding_linear_probe", "all_labels_null")]


@pytest.mark.parametrize("name,case", SIMILARITY_EDGE_CASES)
def test_similarity_edge_inputs(spark, sf_dir, name, case):
    """Each operator returns rows or its documented error on edge
    inputs: the ANN operators on an empty corpus, a one-row corpus and
    an empty query panel (OPQ cannot rotate from one training vector:
    _opq_rotation's ValueError), the linear probe with no label set."""
    from lakeside_spark.operators.similarity import embedding_linear_probe

    emb = load_table(spark, sf_dir, "embeddings")
    if name == "embedding_linear_probe":
        out = embedding_linear_probe(emb.withColumn("label", F.lit(None).cast("int")))
        assert out.columns == ["vec_id", "label", "pred", "resid", "r2"]
        assert out.collect() == []
        return
    corpus = {
        "empty_corpus": emb.filter("vec_id < 0"),
        "single_row_corpus": emb.filter("vec_id = 7"),
        "empty_queries": emb,
    }[case]
    queries = emb.filter("vec_id < 0" if case == "empty_queries" else "vec_id < 3")
    if name == "ann_pq_opq" and case == "single_row_corpus":
        with pytest.raises(ValueError, match=">=2 training vectors"):
            _ann_edge_call(name, corpus, queries)
        return
    out = _ann_edge_call(name, corpus, queries)
    assert out.columns[:2] == ["q_id", "n_id"] and out.columns[-1] == "rank"
    rows = out.collect()
    if case != "single_row_corpus":
        assert rows == []
        return
    # the one vector is every query's only neighbor; LSH finds it only
    # when it shares a probed bucket with the query
    assert {(r["n_id"], r["rank"]) for r in rows} <= {(7, 1)}
    if name != "ann_lsh":
        assert sorted(r["q_id"] for r in rows) == [0, 1, 2]


#: the pair operators on dedup's one shingle-pair counter, with the output
#: schema each documents
_PAIR = [("id_a", "bigint"), ("id_b", "bigint")]
PAIR_EDGE_OPS = {
    "ngram_jaccard_pairs": _PAIR + [("jaccard", "double")],
    "ngram_containment_pairs": _PAIR + [("n_common", "bigint"), ("containment", "double")],
    "winnow_overlap": _PAIR + [("n_shared", "bigint")],
    "minhash_lsh_pairs": _PAIR + [("jaccard", "double")],
}
#: corpora with no pair: a null or empty text shares no shingle with a
#: real one (two of them would pair on the one empty shingle)
PAIR_EDGE_CORPORA = {
    "empty_corpus": [],
    "one_document": [(1, "a single document with a handful of words")],
    "null_text": [(1, None), (2, "a real document with a handful of words")],
    "empty_text": [(1, ""), (2, "a real document with a handful of words")],
}


@pytest.mark.parametrize("case", sorted(PAIR_EDGE_CORPORA))
@pytest.mark.parametrize("name", sorted(PAIR_EDGE_OPS))
def test_pair_operators_edge_inputs(spark, gate_sides, name, case):
    """Both sides of GRAM_KERNEL_MAX_NNZ (self-join, then kernel) return
    no rows with the documented schema on corpora that hold no pair."""
    from lakeside_spark.operators import dedup, winnow

    op = {
        "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(d, 0.1),
        "ngram_containment_pairs": lambda d: dedup.ngram_containment_pairs(d, 0.1),
        "winnow_overlap": lambda d: winnow.winnow_overlap(d, min_shared=1),
        "minhash_lsh_pairs": lambda d: dedup.minhash_lsh_pairs(d, 0.1),
    }[name]
    docs = spark.createDataFrame(PAIR_EDGE_CORPORA[case], "doc_id long, text string")

    def run():
        out = op(docs)
        assert out.dtypes == PAIR_EDGE_OPS[name]
        return out.collect()

    join, kernel = gate_sides(dedup, "GRAM_KERNEL_MAX_NNZ", run)
    assert join == kernel == []


def test_ann_trained_state_skips_retraining(spark, sf_dir, monkeypatch):
    """ann_pq/ann_ivf given their trained state (the id-ordered training
    sample, the coarse quantizer) must not train again and must answer
    exactly as a call that trains for itself."""
    from lakeside_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    cold_pq = rows(sim.ann_pq(emb, q, k=5, m_subs=16, n_codes=64))
    cold_ivf = rows(sim.ann_ivf(emb, q, k=5, n_cells=8))
    mat = sim._train_mat_sample(emb, "vec_id", "embedding", 10_000)
    cents9 = sim.ivf_quantizer(mat, 8)

    def boom(*a, **kw):
        raise AssertionError("quantizer retrained despite trained state")

    monkeypatch.setattr(sim, "spherical_kmeans_snapped", boom)
    monkeypatch.setattr(sim, "_train_mat_sample", boom)
    assert rows(sim.ann_ivf(emb, q, k=5, n_cells=8, centroids9=cents9)) == cold_ivf
    # the pq codebooks train from the passed sample; no sample collect
    assert rows(sim.ann_pq(emb, q, k=5, m_subs=16, n_codes=64, train_mat=mat)) == cold_pq


def test_source_cap_invariants(spark, sf_dir):
    from lakeside_spark.operators.sampling import source_cap

    docs = load_table(spark, sf_dir, "documents")
    capped = source_cap(docs, cap=5)
    per_source = capped.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per_source)
    # kept docs are exactly the 5 lowest ids of each source
    rows = capped.select("source", "doc_id").collect()
    lowest = {
        r["source"]: r["ids"]
        for r in docs.groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5).alias("ids"))
        .collect()
    }
    for src in lowest:
        got = sorted(r["doc_id"] for r in rows if r["source"] == src)
        assert got == sorted(lowest[src]), src


def test_vocab_tfidf_ranks_rare_terms_over_stopwords(spark):
    from lakeside_spark.operators.decontam import vocab_tfidf

    docs = spark.createDataFrame(
        [(i, "the common filler text plus " + ("rareword " if i == 0 else "the "))
         for i in range(20)],
        "doc_id long, text string",
    )
    out = {r["word"]: (r["rank"], r["tf"], r["df"], r["tfidf"]) for r in
           vocab_tfidf(docs, k=50).collect()}
    # 'the' dominates tf but its idf ~1; 'rareword' appears once in one doc
    assert out["rareword"][2] == 1  # df
    assert out["the"][1] > out["rareword"][1]  # tf
    # idf boost: rareword's per-occurrence score beats a stopword's
    assert out["rareword"][3] / out["rareword"][1] > out["the"][3] / out["the"][1]


def test_label_centroid_outliers_flags_planted_flip(spark):
    import numpy as np

    from lakeside_spark.operators.similarity import label_centroid_outliers

    rng = np.random.default_rng(7)
    rows = []
    for label, center in ((0, np.array([10.0, 0, 0, 0])), (1, np.array([0, 10.0, 0, 0]))):
        for i in range(50):
            v = center + rng.normal(0, 0.5, 4)
            rows.append((label * 100 + i, [float(x) for x in v], label))
    # plant one mislabel: a label-0-looking vector tagged label 1
    rows.append((999, [10.0, 0.0, 0.0, 0.0], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    flagged = {r["vec_id"] for r in label_centroid_outliers(emb, threshold=0.5).collect()}
    assert 999 in flagged
    # the well-labeled mass stays unflagged
    assert len(flagged) <= 3


def test_semdedup_invariants(spark, sf_dir):
    from lakeside_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    total = emb.count()
    # tau above the max attainable cosine keeps everything
    assert semdedup(emb, threshold=1.01).count() == total
    survivors = semdedup(emb, threshold=0.4)
    rows = survivors.collect()
    assert 0 < len(rows) < total
    # every survivor's recorded max-cos-to-kept is below the threshold
    assert all(r["max_kept_cos"] < 0.4 for r in rows)
    # deterministic across runs
    again = sorted((r["vec_id"], r["cell"]) for r in semdedup(emb, threshold=0.4).collect())
    assert again == sorted((r["vec_id"], r["cell"]) for r in rows)


def test_pii_scrub_redacts_all_categories(spark):
    from lakeside_spark.operators.pii import pii_scrub

    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server at 192.168.10.255 port open"),
        (3, "ssn is 123-45-6789 ok"),
        (4, "call +1 (555) 010-9999 today"),
        (5, "plain text with no pii at all"),
        (6, "two mails a@b.io c@d.net and ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(df).collect()}
    assert got[1]["scrubbed"] == "mail <EMAIL> now"
    assert got[1]["n_email"] == 1
    assert got[2]["scrubbed"] == "server at <IP> port open"
    assert got[2]["n_ip"] == 1 and got[2]["n_phone"] == 0
    assert got[3]["scrubbed"] == "ssn is <SSN> ok"
    # the SSN is consumed by the SSN stage, never double-counted as phone
    assert got[3]["n_ssn"] == 1 and got[3]["n_phone"] == 0
    assert got[4]["scrubbed"] == "call <PHONE> today"
    assert got[4]["n_phone"] == 1
    assert got[5]["scrubbed"] == rows[4][1]
    assert sum(got[5][k] for k in ("n_email", "n_ssn", "n_ip", "n_phone")) == 0
    assert got[6]["n_email"] == 2 and got[6]["n_ip"] == 1
    assert got[6]["scrubbed"] == "two mails <EMAIL> <EMAIL> and ip <IP>"


def test_c4_filter_rules(spark):
    from lakeside_spark.operators.pii import c4_filter, c4_signals

    base = "the quick brown fox jumps over a lazy dog near the old red barn today"
    rows = [
        (1, base + ". And again. And once more."),  # 3 sentences, passes
        (2, base),  # 0 sentences
        (3, "short text only"),  # too few words
        (4, base + " {json: true}"),  # brace drop
        (5, base + " lorem ipsum dolor sit"),  # lorem drop
        (6, base + " Supercalifragilisticexpialidocious!. x. y."),  # long word
        (7, ("dup " * 40).strip() + ". A. B. C."),  # low distinct ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r.asDict() for r in c4_signals(df).collect()}
    assert sig[1]["n_sentences"] == 3
    assert sig[4]["has_brace"] and sig[5]["has_lorem"]
    assert sig[6]["max_word_len"] >= 34
    assert sig[7]["distinct_ratio"] < 0.2
    kept = {r["doc_id"] for r in c4_filter(df, min_sentences=3).collect()}
    assert kept == {1}
    # sentence floor off: doc 2 (no punctuation) also passes
    kept0 = {r["doc_id"] for r in c4_filter(df, min_sentences=0).collect()}
    assert kept0 == {1, 2}


def test_chunk_documents_windows(spark):
    from lakeside_spark.operators.chunking import chunk_documents

    rows = [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, window=4, stride=3).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk"], r["n_words"]))
    # starts at 0,3,6 -> windows of 4 words; last window short (w9)
    assert [c for _, c, _ in sorted(got[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [n for _, _, n in sorted(got[1])] == [4, 4, 4]
    # doc shorter than the window: exactly one (short) chunk
    assert got[2] == [(0, "a b c", 3)]


def test_span_dedup_removes_boilerplate(spark):
    from lakeside_spark.operators.chunking import span_dedup

    boiler = "click here to subscribe now"  # 5 words = one span at width 5
    rows = [
        (1, f"{boiler} unique one text body"),
        (2, f"{boiler} second document words here"),
        (3, f"{boiler} third doc other content"),
        (4, "completely original text with no repeats"),
        (5, boiler),  # nothing but boilerplate -> empty survivor
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in span_dedup(df, span_words=5, max_df=2).collect()}
    # the boilerplate span appears in 4 docs (> max_df=2) and is dropped
    assert got[1]["clean_text"] == "unique one text body"
    assert got[1]["n_dropped"] == 1 and got[1]["n_spans"] == 2
    assert got[4]["clean_text"] == rows[3][1]
    assert got[4]["n_dropped"] == 0
    assert got[5]["clean_text"] == "" and got[5]["n_dropped"] == 1


def test_unigram_nll_uniform_corpus(spark):
    from math import log

    import pytest as _pytest

    from lakeside_spark.operators.textstats import unigram_nll

    # 4 equally frequent words -> every doc's mean NLL is exactly ln(4)
    rows = [(1, "aa bb"), (2, "cc dd"), (3, "aa bb cc dd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in unigram_nll(df).collect()}
    for did, want_n in [(1, 2), (2, 2), (3, 4)]:
        assert got[did]["n_words"] == want_n
        assert got[did]["nll"] == _pytest.approx(log(4), abs=1e-5)
    # skewed corpus: the doc of rare words scores a higher NLL
    rows2 = [(1, "x x x x x x x x"), (2, "y z")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {r["doc_id"]: r["nll"] for r in unigram_nll(df2).collect()}
    assert got2[2] > got2[1]


def test_bigram_nll_order_sensitivity(spark):
    from lakeside_spark.operators.textstats import bigram_nll

    # two docs with identical unigram profiles; the one whose bigrams are
    # corpus-frequent (same phrase as docs 3-4) must score a lower NLL
    # than the shuffled word salad — the signal unigram_nll cannot see
    rows = [
        (1, "the cat sat on the mat"),
        (2, "mat the on sat cat the"),
        (3, "the cat sat on the mat"),
        (4, "the cat sat on the mat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in bigram_nll(df).collect()}
    assert got[1]["n_words"] == 6 and got[2]["n_words"] == 6
    assert got[1]["nll"] < got[2]["nll"]
    assert got[1]["nll"] == got[3]["nll"] == got[4]["nll"]
    # single-token and empty docs: former scores by unigram alone, latter drops
    df2 = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got2 = {r["doc_id"]: r.asDict() for r in bigram_nll(df2).collect()}
    assert set(got2) == {1} and got2[1]["n_words"] == 1
    # min_count pruning only moves unseen-bigram docs toward the alpha
    # floor; frequent-phrase docs keep finite, larger-than-zero scores
    got3 = {
        r["doc_id"]: r["nll"]
        for r in bigram_nll(df, min_count=2).collect()
    }
    assert all(v > 0 for v in got3.values())
    assert got3[1] < got3[2]


def test_ngram_novelty_planted(spark):
    from lakeside_spark.operators.textstats import ngram_novelty

    # docs 1-3 are identical boilerplate (every trigram df=3 > max_df=2);
    # doc 4 is unique prose (every trigram df=1); doc 5 shares half its
    # trigrams with the boilerplate
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "one two three four five"),
        (5, "alpha beta gamma zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in ngram_novelty(df).collect()}
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[4]["novelty"] == 1.0 and got[4]["n_ngrams"] == 3
    # doc 5: trigram 'alpha beta gamma' is common (df=4), its other 3 are unique
    assert got[5]["n_ngrams"] == 4 and got[5]["novel_ngrams"] == 3
    assert got[5]["novelty"] == 0.75
    # short doc (< n words) contributes its full text as the single shingle
    df2 = spark.createDataFrame([(9, "lone pair")], "doc_id long, text string")
    got2 = ngram_novelty(df2).collect()[0]
    assert got2["n_ngrams"] == 1 and got2["novelty"] == 1.0
    # empty corpus
    assert ngram_novelty(df.filter("doc_id < 0")).count() == 0
    # NULL text is dropped (the oracle's unnest yields no rows for it) —
    # it must not leak a bogus '' shingle into the DF table either
    df3 = spark.createDataFrame(
        [(1, None), (2, "a b c d")], "doc_id long, text string"
    )
    got3 = ngram_novelty(df3).collect()
    assert [r["doc_id"] for r in got3] == [2]


def test_char_entropy_closed_form(spark):
    import math

    from lakeside_spark.operators.textstats import char_entropy

    rows = [
        (1, "aaaa"),          # 0 entropy
        (2, "ab"),            # ln 2
        (3, "abcd"),          # ln 4
        (4, "aab"),           # -(2/3 ln 2/3 + 1/3 ln 1/3)
        (5, ""),              # dropped
        (6, None),            # dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in char_entropy(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["entropy"] == 0.0 and got[1]["distinct_chars"] == 1
    assert got[2]["entropy"] == round(math.log(2), 6)
    assert got[3]["entropy"] == round(math.log(4), 6)
    expected = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(got[4]["entropy"] - expected) < 1e-6
    assert got[4]["n_chars"] == 3 and got[4]["distinct_chars"] == 2
    # repeated text has strictly lower entropy than diverse text
    assert got[1]["entropy"] < got[4]["entropy"] < got[3]["entropy"]


def test_funnel_latency_hand_computed(spark):
    import pytest as _pytest

    from lakeside_spark.operators.behavior import funnel_latency

    rows = [
        # u1: a@0 -> b@100 -> c@250   (b lat 100, c lat 150)
        (1, 0, "a"), (1, 100, "b"), (1, 250, "c"),
        # u2: a@10 -> b@310           (b lat 300, no c)
        (2, 10, "a"), (2, 310, "b"),
        # u3: b@50 only — never did a, contributes nothing
        (3, 50, "b"),
        # u4: a@0 -> b@9999 outside the window
        (4, 0, "a"), (4, 9999, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp_ms long, name string"
    )
    got = {
        r["step"]: r.asDict()
        for r in funnel_latency(df, ["a", "b", "c"], window_ms=1000).collect()
    }
    assert set(got) == {2, 3}
    assert got[2]["step_name"] == "b" and got[2]["users"] == 2
    assert got[2]["p50_ms"] == 200.0          # median of [100, 300]
    assert got[2]["avg_ms"] == 200.0
    assert got[3]["users"] == 1 and got[3]["p50_ms"] == 150.0
    # zero-conversion step still emits its row, with NULL latencies
    got0 = {
        r["step"]: r.asDict()
        for r in funnel_latency(df, ["a", "b", "zzz"], window_ms=1000).collect()
    }
    assert got0[3]["users"] == 0 and got0[3]["p50_ms"] is None
    with _pytest.raises(ValueError):
        funnel_latency(df, ["a"], window_ms=1000)
    with _pytest.raises(ValueError):
        funnel_latency(df, ["a", "a"], window_ms=1000)


def test_pagerank_closed_forms(spark):
    from lakeside_spark.operators.graph import pagerank

    # symmetric 2-cycle: exact fixed point 0.5 / 0.5 from the uniform
    # start, stable under any damping
    e2 = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, n long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e2).collect()}
    assert got == {"a": 0.5, "b": 0.5}
    # star a->b, a->c (equal weights): b and c tie; b+c > a (they receive
    # a's mass, a only gets teleport + dangling redistribution)
    e3 = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 2)], "src string, dst string, n long"
    )
    got3 = {r["node"]: r["rank"] for r in pagerank(e3).collect()}
    assert got3["b"] == got3["c"] and got3["b"] > got3["a"]
    # total mass conserved (dangling b/c redistribute uniformly)
    assert abs(sum(got3.values()) - 1.0) < 1e-5
    # weighted: heavier edge attracts more rank
    ew = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, n long",
    )
    gw = {r["node"]: r["rank"] for r in pagerank(ew).collect()}
    assert gw["b"] > gw["c"]
    # empty graph
    assert pagerank(e2.filter("n < 0")).count() == 0
    # zero/NULL-weight edges carry no mass and must not divide a zero
    # out-weight — dropped up front (both sides of the local/distributed
    # gate agree: tests/test_gate_parity.py)
    ez = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 0.0), ("b", "a", None)],
        "src string, dst string, n double",
    )
    assert {r["node"] for r in pagerank(ez).collect()} == {"a", "b"}


def test_pagerank_dangling_heavy_scalar_completion(spark, gate_sides):
    # dangling-heavy graph (20 sinks, 4 sources): the distributed path
    # must redistribute the sinks' mass as ONE scalar per iteration —
    # never |dangling| x |nodes| explicit uniform edges — and still be
    # bit-equal to the local explicit-edge pipeline.
    from pyspark.sql import functions as F

    from lakeside_spark.operators import graph
    from lakeside_spark.operators.graph import _dangling_mass9, _dist_step

    edges = [("h%d" % i, "hub", 1) for i in range(3)] + [
        ("hub", "d%d" % i, 1) for i in range(20)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    dist, loc = gate_sides(
        graph,
        "LOCAL_EDGE_GATE",
        lambda: {r["node"]: r["rank"] for r in graph.pagerank(df).collect()},
    )
    assert loc == dist and len(dist) == 24
    assert abs(sum(dist.values()) - 1.0) < 1e-3

    # plan shape: one iteration's frame contains no cartesian product /
    # nested-loop join — the dangling completion is a broadcast HASH
    # join of a single-row aggregate on a literal key
    nodes = df.select(F.col("src").alias("node")).unionByName(
        df.select(F.col("dst").alias("node"))
    ).distinct()
    outw = df.groupBy("src").agg(F.sum("n").alias("wsum"))
    trans = df.join(outw, "src").select(
        "src", "dst", (F.col("n") / F.col("wsum")).alias("p")
    )
    dangling = nodes.join(
        outw.select(F.col("src").alias("node")), "node", "left_anti"
    )
    ranks = nodes.select("node", F.round(F.lit(1.0 / 24), 9).alias("r"))
    dang9 = _dangling_mass9(dangling, ranks, 1.0 / 24)
    assert dang9 > 0  # the 20 sinks carry real mass
    step = _dist_step(nodes, trans, ranks, dang9, 0.85, 0.15 / 24)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ts_gap_report_hand_computed(spark):
    from lakeside_spark.operators.fill import gap_report

    H = 3_600_000
    rows = [
        # m1: steps 0,1,2,5,6 -> one gap of 2 missing steps (2h silent)
        ("m1", 0), ("m1", H), ("m1", 2 * H), ("m1", 5 * H), ("m1", 6 * H),
        # m2: steps 0,2,10 -> two gaps: 1 missing (1h) and 7 missing (7h)
        ("m2", 0), ("m2", 2 * H), ("m2", 10 * H),
        # m3: a single step -> no gaps, longest 0
        ("m3", 4 * H),
        # NULL series names are not series
        (None, 0),
    ]
    df = spark.createDataFrame(
        [(n, t + 17) for n, t in rows],  # off-grid offsets floor to steps
        "name string, timestamp_ms long",
    )
    got = {r["name"]: r.asDict() for r in gap_report(df, step_ms=H).collect()}
    assert set(got) == {"m1", "m2", "m3"}
    assert got["m1"] == {"name": "m1", "n_gaps": 1, "missing_steps": 2,
                         "longest_gap_ms": 2 * H}
    assert got["m2"] == {"name": "m2", "n_gaps": 2, "missing_steps": 8,
                         "longest_gap_ms": 7 * H}
    assert got["m3"] == {"name": "m3", "n_gaps": 0, "missing_steps": 0,
                         "longest_gap_ms": 0}


def test_hamming_pairs_zero_budget(spark):
    # max_hamming=0 = exact-duplicate pairing; bands=1 means no earlier
    # band can exist — the first-band dedup filter must degrade to true,
    # not reduce() over an empty iterable
    from lakeside_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 8)], "doc_id long, simhash long"
    )
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in hamming_pairs(df, max_hamming=0, bits=60).collect()}
    assert got == {(1, 2, 0)}


def test_interval_concurrency_chunked_equals_naive(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from lakeside_spark.operators.behavior import interval_concurrency

    # hand-checked panel: half-open semantics (a span ending at t does
    # not overlap one starting at t), a span crossing many chunks, and a
    # chunk with no events at all (span 3 covers it entirely)
    rows = [
        ("svc", 0, 10.0),     # [0,10)
        ("svc", 10, 5.0),     # [10,15) — no overlap with the first
        ("svc", 12, 3.0),     # [12,15) — overlaps the second
        ("svc", 100, 250.0),  # [100,350) — spans chunks of width 100
        ("other", 7, 2.0),    # separate key
    ]
    df = spark.createDataFrame(
        rows, "span_name string, timestamp_ms long, value double"
    )
    got = {
        r["span_name"]: r.asDict()
        for r in interval_concurrency(df, chunk_ms=100).collect()
    }
    assert got["svc"]["peak_concurrency"] == 2
    assert got["svc"]["busy_ms"] == 10 + 5 + 250  # union lengths
    assert got["svc"]["n_spans"] == 4
    assert got["other"] == {
        "span_name": "other", "peak_concurrency": 1, "busy_ms": 2, "n_spans": 1
    }

    # randomized equivalence: the chunked two-phase sweep must reproduce
    # the naive single-window sweep exactly, chunk width notwithstanding
    rng = random.Random(7)
    rnd = [
        ("s%d" % rng.randint(0, 2), rng.randint(0, 1000), float(rng.randint(0, 80)))
        for _ in range(300)
    ]
    rdf = spark.createDataFrame(
        rnd, "span_name string, timestamp_ms long, value double"
    )
    dur = F.round(F.col("value")).cast("long")
    base = rdf.filter(F.col("span_name").isNotNull() & (dur > 0)).select(
        F.col("span_name").alias("k"), F.col("timestamp_ms").alias("t"),
        dur.alias("d"),
    )
    ev = base.select("k", "t", F.lit(1).alias("delta")).unionByName(
        base.select("k", (F.col("t") + F.col("d")).alias("t"),
                    F.lit(-1).alias("delta"))
    )
    w = W.partitionBy("k").orderBy("t", "delta")
    seg = ev.select(
        "k", "delta", F.sum("delta").over(w).alias("run"),
        (F.coalesce(F.lead("t").over(w), F.col("t")) - F.col("t")).alias("len"),
    )
    naive = {
        r["k"]: (r["p"], r["bz"], r["ns"])
        for r in seg.groupBy("k").agg(
            F.max("run").cast("int").alias("p"),
            F.sum(F.when(F.col("run") > 0, F.col("len")).otherwise(0))
            .cast("long").alias("bz"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long").alias("ns"),
        ).collect()
    }
    for chunk in (37, 100, 10_000_000):
        chunked = {
            r["span_name"]: (
                r["peak_concurrency"], r["busy_ms"], r["n_spans"]
            )
            for r in interval_concurrency(rdf, chunk_ms=chunk).collect()
        }
        assert chunked == naive, chunk


def test_interval_concurrency_far_future_timestamp_bounded(spark):
    # one corrupt far-future row used to materialize an astronomical
    # explode(sequence(b0,b1)) chunk range and fail the whole query; the
    # arithmetic empty-gap accounting keeps cost at active chunks only
    from lakeside_spark.operators.behavior import interval_concurrency

    rows = [
        ("svc", 0, 10.0),
        ("svc", 5, 10.0),
        ("svc", 4_000_000_000_000_000, 7.0),  # ~year 128739
    ]
    df = spark.createDataFrame(
        rows, "span_name string, timestamp_ms long, value double"
    )
    got = interval_concurrency(df, chunk_ms=100).collect()[0]
    assert got["peak_concurrency"] == 2
    assert got["busy_ms"] == 15 + 7  # [0,15) union + the lone far span
    assert got["n_spans"] == 3


def test_rfm_segments_planted(spark):
    from lakeside_spark.operators.behavior import rfm_segments

    day = 86_400_000
    # user k: k events (freq rank), last event at day 5k (recency rank,
    # u5 most recent), every event worth 10.0 (monetary rank = freq rank)
    rows = []
    for k in range(1, 6):
        for i in range(k):
            rows.append((k, 5 * k * day - i * 1000, 10.0))
    df = spark.createDataFrame(
        rows, "user_id long, timestamp_ms long, value double"
    )
    got = {r["user_id"]: r.asDict() for r in rfm_segments(df).collect()}
    # 5 distinct values per metric -> scores are exactly the ranks 1..5
    for k in range(1, 6):
        assert got[k]["f_score"] == k and got[k]["m_score"] == k
        assert got[k]["r_score"] == k  # most recent user scores 5
        assert got[k]["recency_days"] == 25 - 5 * k
        assert got[k]["frequency"] == k and got[k]["monetary"] == 10.0 * k
    assert got[5]["segment"] == "champion" and got[4]["segment"] == "champion"
    assert got[3]["segment"] == "loyal"
    assert got[1]["segment"] == "hibernating" and got[2]["segment"] == "hibernating"
    # all-identical metrics: ties sit ON every boundary, strict > scores
    # the lower bin -> f=m=1, r=5 for everyone
    flat = spark.createDataFrame(
        [(u, day, 1.0) for u in range(3)],
        "user_id long, timestamp_ms long, value double",
    )
    for r in rfm_segments(flat).collect():
        assert (r["r_score"], r["f_score"], r["m_score"]) == (5, 1, 1)
    # approx path: same schema, runs, scores stay in 1..5
    ap = rfm_segments(df, approx=True).collect()
    assert len(ap) == 5 and all(1 <= r["f_score"] <= 5 for r in ap)
    # null users dropped; empty input yields empty output
    assert rfm_segments(df.filter("user_id < 0")).count() == 0


def test_bpe_train_and_encode(spark):
    from lakeside_spark.operators.bpe import END, bpe_encode, bpe_train

    # Sennrich-style toy corpus: 'low' is the most frequent word, so its
    # character pairs merge first and it becomes a single token
    rows = [(1, "low low low low low"), (2, "lower lower widest"), (3, "newest newest newest")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, num_merges=50)
    assert merges == bpe_train(df, num_merges=50), "training must be deterministic"
    out = {r["doc_id"]: r.asDict() for r in bpe_encode(df, merges).collect()}
    # enough merges: every frequent corpus word collapses to one token
    assert out[1]["n_tokens"] == out[1]["n_words"] == 5
    assert out[1]["tokens"][0] == "low" + END
    # reconstruction: concatenating a doc's tokens reproduces its words
    for did, text in rows:
        joined = "".join(out[did]["tokens"])
        assert joined == "".join(w + END for w in text.split())

    # few merges: rare words stay multi-token, counts stay consistent
    short = bpe_train(df, num_merges=3)
    enc = {r["doc_id"]: r.asDict() for r in bpe_encode(df, short).collect()}
    assert enc[2]["n_tokens"] > enc[2]["n_words"]


def test_phash_image_near_dup(spark):
    import numpy as np

    from lakeside_spark.operators import codecs
    from lakeside_spark.operators.dedup import hamming_pairs
    from lakeside_spark.operators.multimodal import phash64

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(40, 40), dtype=np.uint8)
    # brighten the top 20% of rows: a visible edit that moves a few
    # low-frequency DCT coefficients (pixel-level edits hash identically
    # by design — that robustness is what makes pHash a near-dup signal)
    near = base.astype(np.int16)
    near[:8, :] = np.clip(near[:8, :] + 60, 0, 255)
    near = near.astype(np.uint8)
    other = rng.integers(0, 256, size=(40, 40), dtype=np.uint8)
    rows = [
        (1, bytearray(codecs.png_encode(base))),
        (2, bytearray(codecs.png_encode(base))),   # exact duplicate
        (3, bytearray(codecs.png_encode(near))),   # near duplicate
        (4, bytearray(codecs.png_encode(other))),  # unrelated
        (5, bytearray(b"not an image")),           # undecodable drops
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    hashes = {r["doc_id"]: r["phash"] for r in phash64(df).collect()}
    assert set(hashes) == {1, 2, 3, 4}
    assert hashes[1] == hashes[2]
    assert all(0 <= h < 2**63 for h in hashes.values())

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            phash64(df), 10, bits=63, hash_col="phash", allow_quadratic=True
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # banded result equals brute force at the same budget
    def brute(a, b):
        return bin(hashes[a] ^ hashes[b]).count("1")
    want = {
        (a, b): brute(a, b)
        for a in hashes for b in hashes if a < b and brute(a, b) <= 10
    }
    assert pairs == want


def test_hamming_pairs_custom_id_col(spark):
    from lakeside_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1110), (3, 0b0000)], "img_id long, h long"
    )
    # custom id column flows through the banded join (was hard-coded doc_id)
    pairs = hamming_pairs(df, max_hamming=1, bits=64, hash_col="h", id_col="img_id")
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_hamming_pairs_banding_impossible_raises(spark):
    """A budget leaving <8-bit bands is a hard error — the silent O(n²)
    fallback was removed; opting in requires allow_quadratic=True."""
    import pytest

    from lakeside_spark.operators.dedup import hamming_pairs, simhash_pairs

    df = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1110), (3, 0b0000)], "img_id long, h long"
    )
    with pytest.raises(ValueError, match="all-pairs"):
        hamming_pairs(df, max_hamming=12, bits=64, hash_col="h", id_col="img_id")
    # the public simhash wrappers surface the same guard
    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="allow_quadratic"):
        simhash_pairs(docs, max_hamming=20)


def test_hamming_pairs_allow_quadratic_warns_and_is_correct(spark):
    import warnings

    from lakeside_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(1, 0b1111), (2, 0b1110), (3, 0b0000)], "img_id long, h long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        wide = hamming_pairs(
            df, max_hamming=12, bits=64, hash_col="h", id_col="img_id",
            allow_quadratic=True,
        )
        assert any("all-pairs" in str(w.message) for w in caught)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in wide.collect()}
    assert got == {(1, 2): 1, (1, 3): 4, (2, 3): 3}


def test_audio_fingerprint_dedup(spark):
    from lakeside_spark.operators.audiofp import (
        BITS,
        audio_fingerprint,
        perturb_audio,
        synthesize_audio,
    )
    from lakeside_spark.operators.dedup import hamming_pairs

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(20)],
        "doc_id long, text string",
    )
    base = synthesize_audio(docs)
    fps = {r["doc_id"]: r["afp"] for r in audio_fingerprint(base).collect()}
    assert len(fps) == 20 and all(0 <= v < 2**49 for v in fps.values())
    # deterministic
    again = {r["doc_id"]: r["afp"] for r in audio_fingerprint(base).collect()}
    assert fps == again

    variants = perturb_audio(base.filter(F.col("doc_id") < 10))
    allc = base.unionByName(variants)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_pairs(
            audio_fingerprint(allc), max_hamming=5, bits=BITS, hash_col="afp"
        ).collect()
    }
    # every gain+noise variant pairs with its original within the budget
    recovered = [(i, i + 1_000_000) in pairs for i in range(10)]
    assert sum(recovered) >= 9, recovered
    # banded join is exact at the budget: equals brute force over the fps
    vfps = {r["doc_id"]: r["afp"] for r in audio_fingerprint(allc).collect()}
    want = {
        (a, b): bin(vfps[a] ^ vfps[b]).count("1")
        for a in vfps for b in vfps
        if a < b and bin(vfps[a] ^ vfps[b]).count("1") <= 5
    }
    assert pairs == want


def test_minhash_lsh_match_supplied_shingles_parity(spark):
    """r13: a caller may pass pre-computed per-side (doc_id, shingle)
    frames (one whole-table shingle pass, filtered per side) — the match
    output must be identical to the operator shingling each side itself,
    and the supplied frames' cache lifetime stays with the caller."""
    from pyspark.sql import functions as F

    from lakeside_spark import materialize
    from lakeside_spark.operators.dedup import _shingled_rows, minhash_lsh_match

    body = "the quick brown fox jumps over the lazy dog again and again"
    rows_in = [(i, body + (f" tail{i}" if i % 4 else "")) for i in range(24)]
    docs = spark.createDataFrame(rows_in, "doc_id long, text string")
    incoming = docs.filter(F.col("doc_id") % 2 == 0)
    index = docs.filter(F.col("doc_id") % 2 != 0)

    own = sorted(
        tuple(r)
        for r in minhash_lsh_match(index, incoming, threshold=0.3).collect()
    )
    ex = materialize.checkpointed(_shingled_rows(docs, "text", "doc_id", 3))
    supplied = sorted(
        tuple(r)
        for r in minhash_lsh_match(
            index,
            incoming,
            threshold=0.3,
            shingle_rows_incoming=ex.filter(F.col("doc_id") % 2 == 0),
            shingle_rows_index=ex.filter(F.col("doc_id") % 2 != 0),
        ).collect()
    )
    assert own == supplied and len(own) > 0


def test_fused_media_fingerprints_match_chained(spark):
    """r13 (guide §4): the fused text→hash kernels must be BIT-IDENTICAL
    to the synthesize → [perturb →] decode → hash chains they replaced in
    the multimodal dedup keys. The fusion's whole correctness argument —
    PNG and AVI/DIB roundtrips are lossless for uint8, WAV's int16
    quantization is replayed by _pcm_roundtrip at every boundary the
    chain crossed — is pinned here for base AND perturbed paths."""
    from lakeside_spark.operators.audiofp import (
        audio_fingerprint,
        perturb_audio,
        synth_audio_fingerprint,
        synthesize_audio,
    )
    from lakeside_spark.operators.multimodal import (
        perturb_images,
        perturb_videos,
        phash64,
        synth_phash64,
        synth_video_phash,
        synthesize_images,
        synthesize_videos,
        video_phash,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} body with words " * (i % 5 + 1)) for i in range(24)],
        "doc_id long, text string",
    )
    sub = docs.filter("doc_id % 3 = 0")

    # image: base and perturbed
    imgs = synthesize_images(docs, width=32, height=32)
    chained = {(r["doc_id"], r["phash"]) for r in phash64(imgs).collect()}
    fused = {
        (r["doc_id"], r["phash"])
        for r in synth_phash64(docs, width=32, height=32).collect()
    }
    assert fused == chained and len(fused) == 24
    chained_v = {
        (r["doc_id"], r["phash"])
        for r in phash64(
            perturb_images(imgs.filter("doc_id % 3 = 0"))
        ).collect()
    }
    fused_v = {
        (r["doc_id"], r["phash"])
        for r in synth_phash64(sub, width=32, height=32, perturb=True).collect()
    }
    assert fused_v == chained_v and len(fused_v) == 8

    # audio: base and perturbed
    wavs = synthesize_audio(docs)
    chained = {(r["doc_id"], r["afp"]) for r in audio_fingerprint(wavs).collect()}
    fused = {
        (r["doc_id"], r["afp"]) for r in synth_audio_fingerprint(docs).collect()
    }
    assert fused == chained and len(fused) == 24
    chained_v = {
        (r["doc_id"], r["afp"])
        for r in audio_fingerprint(
            perturb_audio(wavs.filter("doc_id % 3 = 0"))
        ).collect()
    }
    fused_v = {
        (r["doc_id"], r["afp"])
        for r in synth_audio_fingerprint(sub, perturb=True).collect()
    }
    assert fused_v == chained_v and len(fused_v) == 8

    # video: base and perturbed
    vids = synthesize_videos(docs, n_frames=6)
    chained = {(r["doc_id"], r["phash"]) for r in video_phash(vids).collect()}
    fused = {
        (r["doc_id"], r["phash"])
        for r in synth_video_phash(docs, n_frames=6).collect()
    }
    assert fused == chained and len(fused) == 24
    chained_v = {
        (r["doc_id"], r["phash"])
        for r in video_phash(
            perturb_videos(vids.filter("doc_id % 3 = 0"))
        ).collect()
    }
    fused_v = {
        (r["doc_id"], r["phash"])
        for r in synth_video_phash(
            sub, n_frames=6, perturb=True
        ).collect()
    }
    assert fused_v == chained_v and len(fused_v) == 8


#: the media kernels: kernel → (module, keyword arguments, what the input
#: column holds — "text", or the format of the one-row case's valid blob —
#: output columns, and rows a null or undecodable input leaves; None:
#: sample_frames raises its documented ValueError)
MEDIA_KERNELS = {
    "synthesize_images": ("multimodal", {}, "text", "doc_id bigint, text string, media binary", 1),
    "synth_phash64": ("multimodal", {"width": 8, "height": 8}, "text", "doc_id bigint, phash bigint", 1),
    "synthesize_videos": ("multimodal", {"n_frames": 2}, "text", "doc_id bigint, media binary", 1),
    "synth_video_phash": ("multimodal", {"n_frames": 2}, "text", "doc_id bigint, phash bigint", 1),
    "synthesize_audio": ("audiofp", {}, "text", "doc_id bigint, media binary", 1),
    "synth_audio_fingerprint": ("audiofp", {}, "text", "doc_id bigint, afp bigint", 1),
    "decode_features": ("multimodal", {}, "png", "doc_id bigint, features array<double>", 1),
    "resize_media": ("multimodal", {"width": 2, "height": 3}, "png", "doc_id bigint, media binary, width int, height int", 1),
    "phash64": ("multimodal", {}, "png", "doc_id bigint, phash bigint", 0),
    "perturb_images": ("multimodal", {}, "png", "doc_id bigint, media binary", 0),
    "sample_frames": ("multimodal", {}, "avi", "doc_id bigint, frame_idx int, width int, height int, frame binary", None),
    "video_phash": ("multimodal", {}, "avi", "doc_id bigint, phash bigint", 0),
    "perturb_videos": ("multimodal", {}, "avi", "doc_id bigint, media binary", 0),
    "audio_fingerprint": ("audiofp", {}, "wav", "doc_id bigint, afp bigint", 0),
    "perturb_audio": ("audiofp", {}, "wav", "doc_id bigint, media binary", 0),
}


@pytest.mark.parametrize("case", ["empty", "one", "null", "garbage"])
@pytest.mark.parametrize("kernel", sorted(MEDIA_KERNELS))
def test_media_kernels_edge_inputs(spark, kernel, case):
    """Every media kernel on an empty frame, one valid row, a null input
    and undecodable bytes returns its documented columns and dtypes: a null
    blob reads as empty bytes, so it takes the kernel's undecodable path."""
    import importlib

    import numpy as np

    from lakeside_spark.operators import codecs

    module, kwargs, holds, columns, undecodable_rows = MEDIA_KERNELS[kernel]
    fn = getattr(importlib.import_module(f"lakeside_spark.operators.{module}"), kernel)
    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    valid = {
        "text": "one valid row",
        "png": bytearray(codecs.png_encode(px)),
        "avi": bytearray(codecs.avi_encode([px, px])),
        "wav": bytearray(codecs.wav_encode(np.sin(np.linspace(0, 60, 4000)))),
    }[holds]
    garbage = "garbage" if holds == "text" else bytearray(b"garbage")
    rows = {"empty": [], "one": [(1, valid)], "null": [(2, None)], "garbage": [(3, garbage)]}[case]
    col = "text string" if holds == "text" else "media binary"
    out = fn(spark.createDataFrame(rows, f"doc_id long, {col}"), **kwargs)
    want = [tuple(c.split(" ", 1)) for c in columns.split(", ")]
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == want
    if case in ("null", "garbage") and undecodable_rows is None:
        with pytest.raises(Exception, match=r"doc_id=\d: not an AVI"):
            out.toPandas()
        return
    pdf = out.toPandas()
    assert list(pdf.columns) == [name for name, _ in want]
    numeric = {"bigint": "int64", "int": "int32"}
    assert {c: str(pdf[c].dtype) for c, t in want if t in numeric} == {
        c: numeric[t] for c, t in want if t in numeric
    }
    expected = {"empty": 0, "one": 1}.get(case, undecodable_rows)
    assert len(pdf) == expected
    if kernel == "decode_features" and case != "empty":
        assert all(len(v) == 8 for v in pdf["features"])
    if kernel == "resize_media" and case in ("null", "garbage"):
        assert bytes(pdf["media"][0]) == b""


class TestBehavior:
    def test_funnel_strict_order_and_window(self, spark):
        from lakeside_spark.operators.behavior import funnel

        rows = [
            # u1 completes all three in order inside the window
            (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
            # u2: click BEFORE view — step 2 must not count it
            (2, 100, "click"), (2, 200, "view"),
            # u3: click too late (window is 500ms)
            (3, 100, "view"), (3, 700, "click"),
            # u4: view only
            (4, 100, "view"),
            # u5: same-ts click must NOT complete step 2 (strictly after)
            (5, 100, "view"), (5, 100, "click"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long, name string")
        out = funnel(
            df, ["view", "click", "purchase"], window_ms=500,
            user_col="user_id", ts_col="ts", name_col="name",
        )
        got = {r["step"]: r["users"] for r in out.collect()}
        assert got == {1: 5, 2: 1, 3: 1}

    def test_funnel_window_anchors_on_previous_step(self, spark):
        from lakeside_spark.operators.behavior import funnel

        # purchase is 800ms after view but only 400ms after click —
        # cascading windows (anchor = previous step) must count it
        rows = [(1, 0, "view"), (1, 400, "click"), (1, 800, "purchase")]
        df = spark.createDataFrame(rows, "user_id long, ts long, name string")
        out = funnel(
            df, ["view", "click", "purchase"], window_ms=500,
            user_col="user_id", ts_col="ts", name_col="name",
        )
        got = {r["step"]: r["users"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_next_event_edges_counts_and_gaps(self, spark):
        from lakeside_spark.operators.behavior import next_event_edges

        rows = [
            (1, 100, "a", 1), (1, 200, "b", 2), (1, 400, "b", 3),
            (2, 100, "a", 4), (2, 150, "b", 5),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, name string, event_id long"
        )
        out = next_event_edges(
            df, user_col="user_id", ts_col="ts", name_col="name",
            tiebreak_col="event_id",
        )
        got = {(r["src"], r["dst"]): (r["n"], r["avg_gap_ms"]) for r in out.collect()}
        assert got == {("a", "b"): (2, 75.0), ("b", "b"): (1, 200.0)}

    def test_path_topk_requires_full_depth(self, spark):
        from lakeside_spark.operators.behavior import path_topk

        # u1 has 3 events → exactly one depth-3 path; u2 has 2 → none
        rows = [
            (1, 100, "a", 1), (1, 200, "b", 2), (1, 300, "c", 3),
            (2, 100, "a", 4), (2, 200, "b", 5),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, name string, event_id long"
        )
        out = path_topk(
            df, depth=3, k=5, user_col="user_id", ts_col="ts",
            name_col="name", tiebreak_col="event_id",
        ).collect()
        assert [(r["rank"], r["path"], r["n"]) for r in out] == [(1, "a > b > c", 1)]


class TestFreqItems:
    def test_mg_guarantees_on_skewed_stream(self, spark):
        """est ≤ true ≤ est + err_bound for every reported item, and the
        true heavy hitters (count > N/(capacity+1)) all appear."""
        import pandas as pd
        from lakeside_spark.operators.freqitems import freq_topk_sketch

        # zipf-ish: item i has ~3000/i occurrences, 200 distinct items
        rows = [(f"item{i:03d}",) for i in range(1, 201) for _ in range(3000 // i)]
        df = spark.createDataFrame(rows, "item string").repartition(8)
        n = len(rows)
        capacity = 32
        out = freq_topk_sketch(df, "item", k=20, capacity=capacity).collect()
        true = pd.DataFrame(rows, columns=["item"])["item"].value_counts()
        err = out[0]["err_bound"]
        assert err <= n // (capacity + 1) + 1
        for r in out:
            t = int(true[r["item"]])
            assert r["est_count"] <= t <= r["est_count"] + err, r
        got_items = {r["item"] for r in out}
        heavy = {i for i, c in true.items() if c > n / (capacity + 1)}
        # every true heavy hitter above the MG threshold must be reported
        # (k=20 leaves room: there are far fewer threshold-crossers)
        assert heavy <= got_items, heavy - got_items

    def test_mg_exact_when_under_capacity(self, spark):
        from lakeside_spark.operators.freqitems import freq_topk_sketch

        rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
        df = spark.createDataFrame(rows, "item string").coalesce(1)
        out = freq_topk_sketch(df, "item", k=3, capacity=16).collect()
        assert [(r["rank"], r["item"], r["est_count"], r["err_bound"]) for r in out] == [
            (1, "a", 5, 0), (2, "b", 3, 0), (3, "c", 1, 0)
        ]


class TestDownsample:
    def test_lttb_invariants(self, spark):
        from lakeside_spark.operators.downsample import lttb_downsample

        import math
        rows = [
            ("a", t * 1000, 50.0 + 40.0 * math.sin(t / 7.0) + (90.0 if t == 123 else 0.0))
            for t in range(400)
        ] + [("b", t * 1000, float(t)) for t in range(5)]
        df = spark.createDataFrame(rows, "name string, step_ts long, value double")
        out = lttb_downsample(df, n_out=50).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["name"], []).append((r["step_ts"], r["value"]))
        a = sorted(by_key["a"])
        # size cap, endpoints, subset-of-input
        assert len(a) == 50
        assert a[0] == (0, rows[0][2]) and a[-1] == (399_000, rows[399][2])
        src = {(t, v) for _, t, v in rows}
        assert set(a) <= src
        # the isolated spike at t=123 must survive (the whole point of LTTB)
        assert any(t == 123_000 for t, _ in a)
        # short series pass through whole
        assert sorted(by_key["b"]) == [(t * 1000, float(t)) for t in range(5)]

    def test_lttb_deterministic(self, spark):
        from lakeside_spark.operators.downsample import lttb_downsample

        rows = [("a", t, 1.0) for t in range(100)]  # all ties
        df = spark.createDataFrame(rows, "name string, step_ts long, value double")
        one = sorted((r["step_ts"]) for r in lttb_downsample(df, n_out=10).collect())
        two = sorted((r["step_ts"]) for r in lttb_downsample(df, n_out=10).collect())
        assert one == two and len(one) == 10


class TestCompressionRatio:
    def test_bounds_and_ordering(self, spark):
        from lakeside_spark.operators.textstats import compression_ratio

        rows = [
            (1, "spam " * 200),                      # highly repetitive
            (2, " ".join(f"w{i}x{i * 7 % 97}" for i in range(200))),  # diverse
            (3, ""),                                  # empty → null ratio
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
        assert out[1]["n_bytes"] == 1000 and out[2]["n_bytes"] > 0
        assert 0 < out[1]["zlib_ratio"] < out[2]["zlib_ratio"] <= 1.1
        assert out[3]["zlib_ratio"] is None and out[3]["n_bytes"] == 0

    def test_deterministic(self, spark, sf_dir):
        from lakeside_spark.operators.textstats import compression_ratio
        from lakeside_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        one = sorted(map(tuple, compression_ratio(docs).collect()))
        two = sorted(map(tuple, compression_ratio(docs).collect()))
        assert one == two and len(one) > 0


class TestAnnSq8:
    def test_recall_vs_exact(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from lakeside_spark.operators.similarity import ann_sq8, cosine_topk
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        qs = emb.filter(F.col("vec_id") < 10)
        exact = cosine_topk(emb, qs, k=5).collect()
        approx = ann_sq8(emb, qs, k=5).collect()
        want = {(r["q_id"], r["n_id"]) for r in exact}
        got = {(r["q_id"], r["n_id"]) for r in approx}
        assert len(got) == len(want)
        # SQ8 is near-exact: ≥90% of the true top-5 sets survive
        assert len(want & got) / len(want) >= 0.9
        # scores dequantize close to the true cosine
        exact_cos = {(r["q_id"], r["n_id"]): r["cos"] for r in exact}
        for r in approx:
            key = (r["q_id"], r["n_id"])
            if key in exact_cos:
                assert abs(r["cos_sq"] - exact_cos[key]) < 0.02

    def test_empty_corpus(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from lakeside_spark.operators.similarity import ann_sq8
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        out = ann_sq8(emb.filter("vec_id < 0"), emb.filter(F.col("vec_id") < 3))
        assert out.count() == 0


class TestEmbeddingClusterStats:
    def test_invariants(self, spark, sf_dir):
        from lakeside_spark.operators.similarity import embedding_cluster_stats
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        n_total = emb.count()
        rows = embedding_cluster_stats(emb, n_cells=8, target_per_cell=10).collect()
        # cells partition the corpus
        assert sum(r["n_vectors"] for r in rows) == n_total
        assert len(rows) <= 8 and len({r["cell"] for r in rows}) == len(rows)
        for r in rows:
            # cohesion bounds: every vector is at least as close to its own
            # centroid as min_cos; means sit inside [min_cos, 1]
            assert -1.0 <= r["min_cos"] <= r["mean_cos"] <= 1.0 + 1e-9
            # balanced rate: exact for small cells, capped for large ones
            if r["n_vectors"] <= 10:
                assert r["keep_rate"] == 1.0
            else:
                assert abs(r["keep_rate"] - 10 / r["n_vectors"]) < 1e-6
        # expected kept volume is ≤ target_per_cell per cell (+rounding)
        kept = sum(r["keep_rate"] * r["n_vectors"] for r in rows)
        assert kept <= 8 * 10 + 1

    def test_deterministic(self, spark, sf_dir):
        from lakeside_spark.operators.similarity import embedding_cluster_stats
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        one = sorted(map(tuple, embedding_cluster_stats(emb).collect()))
        two = sorted(map(tuple, embedding_cluster_stats(emb).collect()))
        assert one == two and len(one) > 0


class TestDsirBucket:
    def test_short_prefix_equals_full_prefix(self, spark, sf_dir):
        """The 2-hex-digit shortcut must equal the canonical 8-digit
        form for every word in the corpus (16^k ≡ 0 mod 256, k ≥ 2)."""
        from pyspark.sql import functions as F
        from lakeside_spark.functions.text import words
        from lakeside_spark.operators.dsir import _bucket
        from lakeside_spark.sources.tables import load_table

        w = (
            load_table(spark, sf_dir, "documents")
            .select(F.explode(words("text")).alias("w"))
            .filter(F.col("w") != "")
        )
        full = (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 256
        )
        n_bad = w.select(
            (_bucket("w", 256) != full).cast("int").alias("bad")
        ).agg(F.sum("bad")).collect()[0][0]
        assert n_bad == 0
        # non-divisor bucket counts use the full prefix unchanged
        full11 = (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 11
        )
        n_bad11 = w.select(
            (_bucket("w", 11) != full11).cast("int").alias("bad")
        ).agg(F.sum("bad")).collect()[0][0]
        assert n_bad11 == 0


class TestDsirFitScoreSplit:
    def test_precomputed_weights_match_inline_fit(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from lakeside_spark.operators.dsir import dsir_fit, dsir_scores
        from lakeside_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        tgt = F.col("lang") == "en"
        w = dsir_fit(docs, tgt)
        assert len(w) == 256 and any(v != 0 for v in w)
        inline = sorted(map(tuple, dsir_scores(docs, tgt).collect()))
        reused = sorted(map(tuple, dsir_scores(docs, tgt, weights=w).collect()))
        assert inline == reused and len(inline) > 0


class TestFunnelEdgeCases:
    def test_empty_step_still_emits_zero_row(self, spark):
        from lakeside_spark.operators.behavior import funnel

        rows = [(1, 1000, "view"), (1, 2000, "click"), (2, 1000, "view")]
        df = spark.createDataFrame(
            rows, "user_id long, timestamp_ms long, name string"
        )
        got = {
            (r["step"], r["step_name"]): r["users"]
            for r in funnel(df, ["view", "click", "purchase"], 10_000).collect()
        }
        assert got == {(1, "view"): 2, (2, "click"): 1, (3, "purchase"): 0}

    def test_duplicate_step_names_rejected(self, spark):
        import pytest as _pytest

        from lakeside_spark.operators.behavior import funnel

        df = spark.createDataFrame(
            [(1, 1000, "view")], "user_id long, timestamp_ms long, name string"
        )
        with _pytest.raises(ValueError, match="distinct"):
            funnel(df, ["view", "view", "purchase"], 10_000)


class TestLttbTinyBudget:
    def test_n_out_below_three_honors_cap(self, spark):
        from lakeside_spark.operators.downsample import lttb_downsample

        rows = [("a", t * 1000, float(t)) for t in range(50)]
        df = spark.createDataFrame(rows, "name string, step_ts long, value double")
        two = sorted(r["step_ts"] for r in lttb_downsample(df, n_out=2).collect())
        assert two == [0, 49_000]
        one = [r["step_ts"] for r in lttb_downsample(df, n_out=1).collect()]
        assert one == [0]


class TestEmbeddingWhitening:
    def test_whitened_covariance_is_identity(self, spark, sf_dir):
        import numpy as np

        from lakeside_spark.operators.similarity import embedding_whitening
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        out = embedding_whitening(emb).collect()
        assert len(out) == emb.count()
        m = np.array([r["embedding"] for r in out])
        cov = np.cov(m, rowvar=False, bias=True)
        d = cov.shape[0]
        # decorrelated and unit-variance (eps loosens exactness slightly)
        assert np.abs(cov - np.eye(d)).max() < 0.05
        # mean removed
        assert np.abs(m.mean(axis=0)).max() < 1e-9

    def test_empty_input(self, spark, sf_dir):
        from lakeside_spark.operators.similarity import embedding_whitening
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 0")
        assert embedding_whitening(emb).count() == 0

    def test_reduce_packed9_byte_gate_fallback_is_bit_identical(
        self, spark, sf_dir
    ):
        """The byte-bound collect gate (r13): the distributed
        decimal(38,0) fallback must produce the IDENTICAL integer moments
        as the driver-side Python-int collect — forced here by shrinking
        max_collect_bytes to 0 so any real packed row overflows the
        gate."""
        from pyspark.sql import functions as F

        from lakeside_spark.operators.similarity import (
            _parallelize,
            _reduce_packed9,
        )
        from lakeside_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 40")
        mapped = _parallelize(emb.select("embedding")).select(
            F.array(
                F.size("embedding").cast("long"),
                F.aggregate(
                    F.transform(
                        "embedding",
                        lambda x: F.round(x * 1e9).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                ),
            ).alias("p")
        )
        via_collect = _reduce_packed9(mapped, packed_len=2)
        # packed_len known and over budget -> distributed decimal path
        via_dist = _reduce_packed9(mapped, packed_len=2, max_collect_bytes=0)
        assert via_collect is not None and via_dist is not None
        assert via_collect == via_dist
        # parts-bound backstop still forces the fallback when length is
        # unknown
        via_parts = _reduce_packed9(mapped, max_collect_parts=0)
        assert via_parts == via_collect


class TestCollocations:
    def test_short_docs_and_pmi_ordering(self, spark):
        from lakeside_spark.operators.textstats import collocations

        rows = [
            (1, "san francisco is big"),
            (2, "san francisco is far"),
            (3, "big far big"),
            (4, "solo"),          # <2 words: no pairs, must not error
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = collocations(df, min_count=2, k=10).collect()
        pairs = [(r["a"], r["b"]) for r in out]
        assert ("san", "francisco") in pairs and ("francisco", "is") in pairs
        # both have c_ab=2, c_a=2, c_b=2 -> equal (maximal) PMI; ties
        # break lexicographically, so "francisco is" leads
        assert pairs[:2] == [("francisco", "is"), ("san", "francisco")]
        assert out[0]["c_ab"] == 2 and out[0]["pmi"] == out[1]["pmi"]
        pmis = [r["pmi"] for r in out]
        assert pmis == sorted(pmis, reverse=True)


class TestAnnRecallReport:
    def test_report_shape_and_known_ordering(self, spark):
        from lakeside_spark.registry import QUERIES

        rows = {
            r["method"]: r
            for r in QUERIES["ann_recall_report"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert set(rows) == {"lsh", "ivf", "ivf_ma", "pq", "pq_opq", "sq8"}
        for r in rows.values():
            assert 0.0 <= r["recall_at_5"] <= 1.0
            assert r["mean_cos_err"] >= 0.0
        assert rows["sq8"]["mean_cos_err"] < 0.01
        # round-6 floors on the worst-case isotropic panel: multi-probe/
        # multi-table LSH and ADC+exact-refine PQ must not regress to the
        # round-5 defaults (lsh 0.03, pq 0.23)
        assert rows["lsh"]["recall_at_5"] >= 0.3
        assert rows["pq"]["recall_at_5"] >= 0.5
        # boundary replication must not lose recall vs single assignment
        assert rows["ivf_ma"]["recall_at_5"] >= rows["ivf"]["recall_at_5"]


class TestDsirCrossShard:
    def test_score_unlabeled_shard_with_prefit_weights(self, spark, sf_dir):
        """The amortization recipe: fit on shard A, score shard B that
        (a) lacks the target column entirely and (b) contains words
        hashing to buckets A never saw — both must work, with unseen
        buckets carrying the smoothed base weight, not 0."""
        from pyspark.sql import functions as F
        from lakeside_spark.operators.dsir import dsir_fit, dsir_scores
        from lakeside_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        w = dsir_fit(docs, F.col("lang") == "en", n_buckets=256)
        # unseen buckets share one smoothed base weight; with a target
        # subset smaller than the corpus it must be nonzero
        from collections import Counter

        base = Counter(w).most_common(1)[0][0]
        assert base != 0
        # shard with no lang column and out-of-vocab words
        shard = spark.createDataFrame(
            [(10_001, "zzqx wvut zzqx unseenword")], "doc_id long, text string"
        )
        out = dsir_scores(shard, None, weights=w).collect()
        assert len(out) == 1 and out[0]["n_words"] == 4
        # all-novel words -> the score is n_words x base / 1e9
        assert out[0]["dsir_score"] == round(4 * base / 1e9, 6)


def test_funnel_null_users_excluded_all_strategies(spark):
    """A NULL user id is not a user: without the up-front filter, the
    user-keyed aggregation pools NULL rows into one phantom group that
    completes steps."""
    from lakeside_spark.operators.behavior import funnel

    rows = [
        (None, 100, "view"), (None, 200, "click"), (None, 300, "purchase"),
        (7, 100, "view"), (7, 150, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, name string")
    expected = {1: 1, 2: 1, 3: 0}
    got = {
        r["step"]: r["users"]
        for r in funnel(
            df, ["view", "click", "purchase"], window_ms=500,
            user_col="user_id", ts_col="ts", name_col="name",
        ).collect()
    }
    assert got == expected


def test_stickiness_sketch_tracks_exact(spark, sf_dir):
    """The HLL sketch stickiness path (day-count-sized windowed merge)
    must track the exact user-day x30 path within HLL error (<5%)."""
    from lakeside_spark.registry import QUERIES

    ex = {
        r["day"]: (r["dau"], r["mau"])
        for r in QUERIES["stickiness_dau_mau"](spark, sf_dir).collect()
    }
    est = {
        r["day"]: (r["dau_est"], r["mau_est"])
        for r in QUERIES["stickiness_dau_mau_sketch"](spark, sf_dir).collect()
    }
    assert set(ex) == set(est)
    for d in ex:
        assert abs(est[d][0] - ex[d][0]) / max(ex[d][0], 1) < 0.05, d
        assert abs(est[d][1] - ex[d][1]) / max(ex[d][1], 1) < 0.05, d


def test_linear_probe_matches_closed_form(spark, sf_dir):
    """The deterministic fixed-point probe (snapped integer moments +
    no-pivot GE solve — the r8 oracle-exact path) must still track the
    numpy closed form computed on the collected data: this is the
    INDEPENDENT anchor the twin-oracle replay rests on. Snapped moments
    sit within ~1e-9 relative of the float ones, so predictions agree
    to ~1e-7; outputs are rounded to 6dp, hence the 1e-5 bound."""
    import numpy as np

    from lakeside_spark.operators.similarity import embedding_linear_probe

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding", "label").collect()
    X = np.hstack(
        [
            np.array([r["embedding"] for r in rows], dtype=np.float64),
            np.ones((len(rows), 1)),
        ]
    )
    y = np.array([r["label"] for r in rows], dtype=np.float64)
    reg = np.eye(X.shape[1]) * 1e-3
    reg[-1, -1] = 0.0
    w = np.linalg.solve(X.T @ X + reg, X.T @ y)
    ref_pred = {r["vec_id"]: float(X[i] @ w) for i, r in enumerate(rows)}
    sse = float(((y - X @ w) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    ref_r2 = 1.0 - sse / sst

    got = embedding_linear_probe(emb).collect()
    assert len(got) == len(rows)
    for r in got:
        assert abs(r["pred"] - ref_pred[r["vec_id"]]) < 1e-5, r["vec_id"]
        assert abs(r["resid"] - (r["label"] - r["pred"])) < 2e-6
        assert abs(r["r2"] - ref_r2) < 1e-5
    assert 0.0 <= got[0]["r2"] <= 1.0


def test_pca_reduce_invariants(spark, sf_dir):
    """PCA reduction: projections match the numpy closed form, the
    explained-variance ratio is the top-k eigenvalue share, and reducing
    to full dim preserves pairwise distances (orthogonal transform)."""
    import numpy as np

    from lakeside_spark.operators.similarity import embedding_pca_reduce

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mu = X.mean(axis=0)
    lam, u = np.linalg.eigh(np.cov(X.T, bias=True))
    order = np.argsort(-lam)
    lam, u = lam[order], u[:, order]

    got = {r["vec_id"]: r for r in embedding_pca_reduce(emb, out_dim=16).collect()}
    assert len(got) == len(rows)
    ref_evr = lam[:16].sum() / lam.sum()
    ref = {
        r["vec_id"]: (np.array(r["embedding"]) - mu) @ u[:, :16] for r in rows
    }
    for r in rows:
        g = np.array(got[r["vec_id"]]["embedding"])
        assert len(g) == 16
        # eigenvectors are sign-ambiguous: compare per-component magnitude.
        # tolerance 5e-6, not 1e-8: the r10 ORACLE-EXACT pipeline snaps
        # the covariance moments to 1e-9 fixed point, and that
        # perturbation amplifies by 1/eigengap (~2.5e-5 here) in the
        # eigenvectors — the price of a bit-replayable eigensolve
        assert np.allclose(np.abs(g), np.abs(ref[r["vec_id"]]), atol=5e-6)
        assert abs(got[r["vec_id"]]["evr"] - ref_evr) < 1e-8
    # full-dim reduction is an isometry up to centering: distances
    # preserved (out_dim derived from the fixture, not hardcoded)
    d_full = len(rows[0]["embedding"])
    full = {r["vec_id"]: np.array(r["embedding"])
            for r in embedding_pca_reduce(emb, out_dim=d_full).collect()}
    ids = [r["vec_id"] for r in rows[:10]]
    orig = {r["vec_id"]: np.array(r["embedding"]) for r in rows}
    for a in ids[:5]:
        for b in ids[5:]:
            d0 = np.linalg.norm(orig[a] - orig[b])
            d1 = np.linalg.norm(full[a] - full[b])
            assert abs(d0 - d1) < 1e-6


def test_connected_components_degraded_one_label_per_node(spark, monkeypatch):
    """If the star contraction is stopped before its fixed point
    (max_iter exhausted), the output must still be a FUNCTION: exactly
    one cluster_id per doc_id (a possibly-unmerged superset clustering,
    as the RuntimeWarning states) — never the same doc under two
    conflicting labels."""
    import warnings

    from lakeside_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = dedup.connected_components(df, max_iter=1).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids)) == 64
    assert all(r["cluster_id"] <= r["doc_id"] for r in out)


def test_winnow_overlap_guarantee_and_bounds(spark):
    """Winnowing (Schleimer 2003): any shared substring of >= w+k-1
    normalized chars leaves >= 1 common fingerprint; unrelated random
    texts share none; short docs (< w k-grams) yield no fingerprints."""
    from lakeside_spark.operators.winnow import (
        _winnow_fingerprints_py,
        winnow_overlap,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, "intro text first " + shared + " trailing words here"),
        (2, "completely different opening " + shared + " and another end"),
        (3, "zebras wander across vast open plains seeking water holes"),
        (4, "short"),  # < w+k-1 chars -> no fingerprints at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap(df, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p and 4 not in p for p in pairs)
    # density: selected prints ~ 2/(w+1) of the gram stream, never more
    # than the window count
    fps = _winnow_fingerprints_py(rows[0][1], k=8, w=4)
    n_grams = len(rows[0][1].replace(" ", "")) - 8 + 1
    assert 0 < len(fps) <= n_grams - 4 + 1
    assert _winnow_fingerprints_py("short", 8, 4) == []
    # rightmost-min tie-break: a repeated text block selects the SAME
    # hash set regardless of absolute position (positional robustness)
    a = set(_winnow_fingerprints_py("xxxxxxxxxx " + shared, 8, 4))
    b = set(_winnow_fingerprints_py("yyyyyyyyyyyyyyyyy " + shared, 8, 4))
    assert a & b


def test_ts_threshold_alert_hand_computed(spark, sf_dir):
    """Gaps-and-islands alert rule on a planted series: a 4-day breach
    run fires once (fire at day 3 of the run, resolve the day after it
    ends); a 2-day run never fires; a grid GAP splits an otherwise long
    run (absence breaks firing, as in Prometheus)."""
    from datetime import datetime, timezone

    from lakeside_spark.registry import QUERIES

    DAY = 86_400_000
    # build synthetic events: name 'm' with daily counts
    # days 0-9 counts: [10,10,10, 20,20,20,20, 10, 20,20] and a gap at
    # day 10, then days 11-13: [20,20,20] -> median 20? median of
    # [10,10,10,20,20,20,20,10,20,20,20,20,20] = 20 -> thr 21 -> nothing
    # fires. Use counts relative to a LOW median instead:
    counts = {0: 5, 1: 5, 2: 5, 3: 5, 4: 5, 5: 9, 6: 9, 7: 9, 8: 9,
              9: 5, 11: 9, 12: 9, 13: 5}
    rows = []
    eid = 0
    for d, c in counts.items():
        for _ in range(c):
            rows.append((
                eid,
                datetime.fromtimestamp(d * 86_400, tz=timezone.utc)
                .replace(tzinfo=None),
                1, "m", 1.0, "",
            ))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import os, tempfile, shutil
    tmp = tempfile.mkdtemp(prefix="alert_t_")
    try:
        for t in ("region nation customer supplier part orders lineitem "
                  "documents embeddings").split():
            os.symlink(f"{sf_dir}/{t}.parquet", f"{tmp}/{t}.parquet")
        df.coalesce(1).write.parquet(f"{tmp}/events.parquet")
        out = {
            (r["name"], r["fire_ts"]): (
                r["resolve_ts"], r["breach_steps"], r["peak_value"]
            )
            for r in QUERIES["ts_threshold_alert"](spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # median count = 5 -> thr 5.25; breaches: days 5-8 (run of 4) and
    # days 11-12 (run of 2, killed by the day-10 gap + day-13 drop)
    assert out == {("m", 7 * DAY): (9 * DAY, 4, 9.0)}


def test_containment_catches_doc_inside_doc(spark):
    """A short doc quoted wholesale in a long one: containment ~1 while
    Jaccard stays below any dedup threshold — the asymmetric case the
    resemblance measure structurally misses (Broder 1997)."""
    from lakeside_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} item{i} thing{i}" for i in range(40))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler.replace("word", "tail")),
        (3, "unrelated content entirely different tokens throughout"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.9
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0001).collect()
    }
    assert jac.get((1, 2), 0.0) < 0.12  # below the dedup threshold


def test_ts_autocorrelation_matches_pandas(spark, sf_dir):
    """ACF rows must equal pandas' Series.autocorr semantics (Pearson of
    grid-aligned lag pairs) recomputed from the same hourly series —
    the independent anchor for the integer-sum formula."""
    import numpy as np
    import pandas as pd

    from lakeside_spark.registry import QUERIES

    HOUR = 3_600_000
    got = {
        (r["name"], r["lag"]): (r["n"], r["acf"])
        for r in QUERIES["ts_autocorrelation"](spark, sf_dir).collect()
    }
    assert got, "no ACF rows at this SF"
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("name"),
            (F.unix_millis("ts") - F.unix_millis("ts") % HOUR).alias("step"),
        )
        .groupBy("name", "step")
        .count()
        .collect()
    )
    series: dict[str, dict[int, int]] = {}
    for r in ev:
        series.setdefault(r["name"], {})[r["step"]] = r["count"]
    checked = 0
    for (name, lag), (n, acf) in got.items():
        s = series[name]
        pairs = [
            (v, s[t + lag * HOUR]) for t, v in s.items() if t + lag * HOUR in s
        ]
        assert len(pairs) == n, (name, lag)
        x = pd.Series([p[0] for p in pairs], dtype=float)
        y = pd.Series([p[1] for p in pairs], dtype=float)
        ref = x.corr(y)
        assert abs(acf - ref) < 1e-6, (name, lag, acf, ref)
        checked += 1
    assert checked == len(got)
    # every series with enough overlap and variance must be present
    for name, s in series.items():
        pairs = [(v, s[t + HOUR]) for t, v in s.items() if t + HOUR in s]
        if len(pairs) >= 3:
            x = np.array([p[0] for p in pairs], dtype=float)
            y = np.array([p[1] for p in pairs], dtype=float)
            if x.var() > 0 and y.var() > 0:
                assert (name, 1) in got, name


def test_log_template_drift_hand_computed(spark, sf_dir):
    """Drift rows must equal a direct pandas recomputation: digit-masked
    templates, midpoint split, add-one-smoothed lift, 2x2 chi-square."""
    import re

    from lakeside_spark.registry import QUERIES

    got = {
        (r["name"], r["template"]): r
        for r in QUERIES["log_template_drift"](spark, sf_dir).collect()
    }
    assert got
    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("name"),
            F.col("props").alias("message"),
            F.unix_millis("ts").alias("ts"),
        )
        .filter(F.col("message").isNotNull())
        .collect()
    )
    mid = (min(r["ts"] for r in rows) + max(r["ts"] for r in rows)) // 2
    cnt: dict[tuple, list[int]] = {}
    for r in rows:
        key = (r["name"], re.sub(r"[0-9]+", "#", r["message"]))
        c = cnt.setdefault(key, [0, 0])
        c[0 if r["ts"] <= mid else 1] += 1
    te = sum(c[0] for c in cnt.values())
    tl = sum(c[1] for c in cnt.values())
    assert set(got) == set(cnt)
    for key, (a, b) in cnt.items():
        g = got[key]
        assert (g["cnt_early"], g["cnt_late"]) == (a, b), key
        lift = ((b + 1.0) / (tl + 2.0)) / ((a + 1.0) / (te + 2.0))
        assert abs(g["lift"] - lift) < 1e-6, key
        c, d = te - a, tl - b
        denom = float((a + b) * (c + d) * (a + c) * (b + d))
        if denom > 0:
            chi2 = (a * d - b * c) ** 2 * (te + tl) / denom
            assert abs(g["chi2"] - chi2) < max(1e-6, abs(chi2) * 1e-9), key
        else:
            assert g["chi2"] is None, key


def test_text_msttr_hand_computed(spark, sf_dir):
    """TTR / MSTTR must equal a direct Python recomputation with the
    corpus word convention (lower, collapse whitespace, split) —
    including the invariant that MSTTR only covers complete 100-word
    segments and is NULL below one segment."""
    import re

    from lakeside_spark.registry import QUERIES

    got = {r["doc_id"]: r for r in QUERIES["text_msttr"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = 0
    for r in docs:
        if r["text"] is None:
            assert r["doc_id"] not in got
            continue
        w = [
            t
            for t in re.sub(r"\s+", " ", r["text"].lower().strip()).split(" ")
            if t
        ]
        if not w:
            assert r["doc_id"] not in got
            continue
        expected += 1
        g = got[r["doc_id"]]
        assert g["n_words"] == len(w)
        assert abs(g["ttr"] - len(set(w)) / len(w)) < 1e-6
        k = len(w) // 100
        assert g["n_segments"] == k
        if k == 0:
            assert g["msttr"] is None
        else:
            segs = [len(set(w[i * 100 : (i + 1) * 100])) for i in range(k)]
            assert abs(g["msttr"] - sum(segs) / (k * 100)) < 1e-6
    assert len(got) == expected


def test_containment_recalls_extreme_size_ratio_on_both_sides(spark, gate_sides):
    """The headline case the one-row-band MinHash candidates missed: a
    paragraph contained in a ~100x larger document (size ratio ρ≈0.01,
    where band-collision recall was ~15%). Both sides of the pair
    counter are exact at ANY ratio — the planted pair must surface, and
    the self-join must return the kernel's pairs and values."""
    from lakeside_spark.operators import dedup

    para = " ".join(f"needle{i} token{i}" for i in range(15))  # ~28 shingles
    book = " ".join(f"page{i} word{i} body{i}" for i in range(1000))
    rows = [
        (1, para),
        (2, book[: len(book) // 2] + " " + para + " " + book[len(book) // 2 :]),
        (3, " ".join(f"other{i} stuff{i}" for i in range(500))),
        (4, " ".join(f"decoy{i} filler{i}" for i in range(400))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    join, kernel = gate_sides(
        dedup,
        "GRAM_KERNEL_MAX_NNZ",
        lambda: {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.ngram_containment_pairs(df, 0.8).collect()
        },
    )
    assert (1, 2) in kernel and kernel[(1, 2)] >= 0.9  # the planted pair
    assert join == kernel  # identical pairs AND values


def test_jacobi_eigh_snapped_accuracy_and_schedule():
    """The replayable eigensolve: tournament schedule covers every pair
    exactly once per 63 rounds with disjoint pairs per round; 8 snapped
    sweeps reconstruct a random SPD matrix to ~1e-9 and agree with
    np.linalg.eigh's spectrum; negative .5 ties snap away from zero
    (the DuckDB round() convention — a half-even tie here would diverge
    the two engines' replays)."""
    import numpy as np

    from lakeside_spark.operators.eigh_replay import (
        D,
        _schedule,
        _snap12_arr,
        jacobi_eigh_snapped,
    )

    seen = set()
    for r in range(D - 1):
        m, _ = _schedule(r)
        assert all(m[m[i]] == i and m[i] != i for i in range(D))
        seen |= {(i, int(m[i])) for i in range(D) if i < m[i]}
    assert len(seen) == D * (D - 1) // 2

    rng = np.random.default_rng(7)
    X = rng.normal(size=(500, D)) @ np.diag(np.linspace(0.1, 3, D))
    A0 = np.round(np.cov(X.T) * 1e9) / 1e9
    diag, V = jacobi_eigh_snapped(A0)
    lam_np = np.linalg.eigh(A0)[0]
    assert np.abs(np.sort(diag) - lam_np).max() < 1e-8
    assert np.abs((V * diag) @ V.T - A0).max() < 1e-8
    assert np.abs(V.T @ V - np.eye(D)).max() < 1e-9

    snapped = _snap12_arr(np.array([2.5e-12, -2.5e-12, 1.49e-12]))
    assert snapped[0] == 3e-12 and snapped[1] == -3e-12 and snapped[2] == 1e-12


def test_attribution_max_touches_zero_raises(spark):
    """max_touches=0 must be a hard error: F.sequence(L+1, L) would step
    BACKWARD and credit a touch at/after the conversion (r10 review)."""
    import pytest

    from lakeside_spark.operators.behavior import attribution

    ev = spark.createDataFrame(
        [("u", 1, "view", 1), ("u", 5, "purchase", 2)],
        "user_id string, timestamp_ms long, name string, event_id long",
    )
    with pytest.raises(ValueError, match="max_touches"):
        attribution(ev, max_touches=0)


def test_exact_substr_spans_planted(spark):
    """ExactSubstr spans: a 10-word substring shared by two docs at
    DIFFERENT alignments is found in both (the case span_dedup's fixed
    tiles miss), a within-doc repeat merges into one span, unique and
    shorter-than-k docs emit nothing."""
    from lakeside_spark.operators.chunking import exact_substr_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five six"),
            (2, "seven eight " + shared),
            (3, "unique words only here nothing repeats at all in this doc"),
            (4, "rep one rep two x1 x2 x3 x4 x5 x6 x1 x2 x3 x4 x5 x6"),
            (5, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = exact_substr_spans(docs, k=6).collect()
    got = {
        r["doc_id"]: (r["start_pos"], r["end_pos"], r["n_tokens"], r["n_anchors"])
        for r in rows
    }
    assert len(rows) == 3  # one maximal span per affected doc
    # doc1: shared occupies word positions 3-12 -> anchors at 3..7
    assert got[1] == (3, 12, 10, 5)
    # doc2: shared at positions 2-11 (different alignment) -> anchors 2..6
    assert got[2] == (2, 11, 10, 5)
    # doc4: "x1..x6" repeats at pos 4 and 10; gap == k merges into ONE span
    assert got[4] == (4, 15, 12, 2)
    assert 3 not in got and 5 not in got
    # empty corpus probe
    assert exact_substr_spans(docs.filter("doc_id < 0"), k=6).count() == 0


def test_exact_substr_scrub_planted(spark):
    """The removal action on the planted corpus of
    test_exact_substr_spans_planted: covered tokens vanish from EVERY
    occurrence, survivors reassemble in order, untouched and
    shorter-than-k docs pass through verbatim."""
    from lakeside_spark.operators.chunking import exact_substr_scrub

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five six"),
            (2, "seven eight " + shared),
            (3, "unique words only here nothing repeats at all in this doc"),
            (4, "rep one rep two x1 x2 x3 x4 x5 x6 x1 x2 x3 x4 x5 x6"),
            (5, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in exact_substr_scrub(docs, k=6).collect()
    }
    assert got[1] == ("one two three four five six", 16, 10)
    assert got[2] == ("seven eight", 12, 10)
    assert got[3] == (
        "unique words only here nothing repeats at all in this doc", 11, 0,
    )
    assert got[4] == ("rep one rep two", 16, 12)
    assert got[5] == ("tiny doc", 2, 0)


def test_parallelize_size_cap(spark, sf_dir):
    """_parallelize(bytes_per_task=...) caps fan-out by the input files'
    on-disk bytes for light kernels (a tiny input must not pay core-count
    Python dispatches) and NEVER raises the target above
    defaultParallelism; without the cap the under-parallel input is
    still blown up to full parallelism (heavy kernels want every core).
    """
    from lakeside_spark.operators.similarity import _parallelize

    emb = load_table(spark, sf_dir, "embeddings")  # ~KBs at sf0.01
    capped = _parallelize(emb, bytes_per_task=8 << 20)
    full = _parallelize(emb)
    dp = spark.sparkContext.defaultParallelism
    assert capped.rdd.getNumPartitions() < dp
    assert full.rdd.getNumPartitions() >= min(
        dp, spark.sparkContext.defaultParallelism
    )


def test_video_phash_dedup_recovers_planted_variants(spark, sf_dir):
    """Video near-dup (r12): brightness-perturbed copies of synthesized
    AVIs land within the banded hamming budget of their originals —
    ≥80% recall on the planted pairs and ZERO false pairs between
    unrelated noise videos (63-bit signatures of independent videos sit
    ~31 bits apart; P(≤6) per pair ≈ 1e-11)."""
    from lakeside_spark import materialize
    from lakeside_spark.operators.dedup import hamming_pairs
    from lakeside_spark.operators.multimodal import (
        perturb_videos,
        synthesize_videos,
        video_phash,
    )

    docs = load_table(spark, sf_dir, "documents").limit(30)
    with materialize.held(synthesize_videos(docs, n_frames=6)) as base:
        planted = perturb_videos(base.filter(F.col("doc_id") % 5 == 0))
        n_planted = planted.count()
        assert n_planted >= 3
        pairs = hamming_pairs(
            video_phash(base.unionByName(planted)), max_hamming=6, bits=63,
            hash_col="phash",
        ).collect()
    # every found pair must be a planted (x, x+1e6) pair — no cross talk
    assert all(r["id_b"] == r["id_a"] + 1_000_000 for r in pairs), pairs
    assert len(pairs) >= 0.8 * n_planted, (len(pairs), n_planted)


def test_avi_frames_extracts_mjpeg_chunks():
    """The RIFF walker's '00dc' (compressed/MJPEG) branch: frame chunk
    payloads come back verbatim with dims from strf even when the codec
    can't pixel-decode them — the contract MJPEG sampling relies on."""
    import struct

    import numpy as np

    from lakeside_spark.operators.codecs import avi_encode, avi_frames

    base = avi_encode([np.zeros((4, 4, 3), dtype=np.uint8)])
    # rewrite the single '00db' chunk to '00dc' with opaque JPEG-ish bytes
    idx = base.index(b"00db")
    (size,) = struct.unpack_from("<I", base, idx + 4)
    payload = b"\xff\xd8\xff\xe0" + b"\x00" * (size - 4)
    patched = base[:idx] + b"00dc" + struct.pack("<I", size) + payload + base[idx + 8 + size + (size & 1):]
    w, h, bpp, frames = avi_frames(patched)
    assert (w, h, bpp) == (4, 4, 24)
    assert len(frames) == 1 and frames[0][0] == b"00dc"
    assert frames[0][1] == payload


def test_jaccard_sparse_kernel_parity_and_products_cap(spark, gate_sides, monkeypatch):
    """r12 sparse Gram kernel: (a) kernel and join sides agree exactly on
    pairs AND jaccard values, (b) the kernel computes exact Σf²
    driver-side and declines (returns None → the kernel side falls back
    to the join) when a hot shingle blows the products cap, still
    producing identical results."""
    import lakeside_spark.operators.dedup as _D
    from lakeside_spark.operators.dedup import (
        _gram_pair_counts,
        _shingled_rows,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "alpha beta gamma unrelated words here now kappa"),
        (4, "totally different text with no overlap at all"),
        (5, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    def jac():
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, 0.1).collect()
        }

    j, k = gate_sides(_D, "GRAM_KERNEL_MAX_NNZ", jac)
    assert k == j and (1, 5) in k and k[(1, 5)] == 1.0
    # hot-shingle corpus: every doc shares one shingle -> Σf² = n² blows
    # a tiny cap; the kernel must decline rather than absorb the blow-up
    ex = _shingled_rows(df, "text", "doc_id", 3)
    with monkeypatch.context() as mp:
        mp.setattr(_D, "GRAM_KERNEL_MAX_PRODUCTS", 1)
        assert _gram_pair_counts(ex, 0.1, "jaccard") is None
        # and when the kernel declines, the kernel side of the public path
        # falls back to the join and still answers identically
        via_fallback = jac()
    assert via_fallback == j
    # containment measure: kernel path (exact, small corpus) vs the
    # forced explode-join produce identical (n_common, containment)
    from lakeside_spark.operators.dedup import ngram_containment_pairs
    from lakeside_spark.operators.winnow import winnow_overlap

    def cont():
        return {
            (r["id_a"], r["id_b"]): (r["n_common"], r["containment"])
            for r in ngram_containment_pairs(df, 0.5).collect()
        }

    # count measure + max_df: the winnow routing — shared-print counts
    # with hot prints dropped on the driver's run-length array must
    # equal the distributed df-cut join
    def winnow():
        return {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in winnow_overlap(df, max_df=2).collect()
        }

    ck, wk = cont(), winnow()
    with monkeypatch.context() as mp:
        mp.setattr(_D, "_gram_pair_counts", lambda *a, **kw: None)
        cj, wj = cont(), winnow()
    assert ck == cj and (1, 5) in ck
    assert wk == wj


def test_jaccard_sparse_kernel_mass_balanced_blocks(spark, monkeypatch):
    """r13 (ADVICE): kernel block boundaries follow cumulative per-doc
    PRODUCT MASS, not equal doc counts. A corpus where the low-id docs
    carry all the hot-shingle mass and the high-id docs are near-unique
    must still produce join-identical pairs — the boundary math (prefix
    sum + searchsorted, empty-block skip) is what this pins, with
    GRAM_KERNEL_PRODUCTS_PER_TASK shrunk so the boundaries really cut
    many blocks."""
    from lakeside_spark.operators import dedup
    from lakeside_spark.operators.dedup import (
        _gram_pair_counts,
        _jaccard_from_counts,
        _shingled_rows,
        ngram_jaccard_pairs,
    )

    hot = "alpha beta gamma delta epsilon zeta"
    rows = [(i, hot + f" tail{i % 3}") for i in range(12)] + [
        (100 + i, f"unique{i} solitary{i} words{i} never{i} shared{i} once{i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ex = _shingled_rows(df, "text", "doc_id", 3)
    monkeypatch.setattr(dedup, "GRAM_KERNEL_PRODUCTS_PER_TASK", 20)
    counts = _gram_pair_counts(ex, 0.2, "jaccard")
    assert counts is not None
    k = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _jaccard_from_counts(counts).collect()
    }
    monkeypatch.setattr(dedup, "GRAM_KERNEL_MAX_NNZ", 0)  # the join side
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, 0.2).collect()
    }
    assert k == j and len(k) > 0
