"""Every auto-gate gives the same answer whichever side it takes.

Each gate decides from its own input probe against a module constant.
This table forces each side by setting that constant to 0 (the scale
side) and then very large (the small side) on a small input. Exact gates
must return equal rows; the approximate scale sides must stay inside
what the exact side returns."""

import random

import pytest

from lakeside_spark.operators import bm25, chunking, dedup, graph, similarity, textstats, winnow
from lakeside_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _jaccard(spark, sf_dir):
    return lambda: _rows(dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), 0.12))


def _containment(spark, sf_dir):
    filler = " ".join(f"word{i} item{i} thing{i}" for i in range(40))
    short = " ".join(f"quote{i} body{i}" for i in range(25))
    df = spark.createDataFrame(
        [
            (1, short),
            (2, filler + " " + short),
            (3, "unrelated stuff entirely different tokens throughout here"),
            (4, " ".join(f"decoy{i} filler{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    return lambda: {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(df, threshold=0.5).collect()
    }


def _winnow(spark, sf_dir):
    # a low max_df so the hot-print cut drops prints on both sides
    docs = _docs(spark, sf_dir)
    return lambda: _rows(winnow.winnow_overlap(docs, max_df=8))


def _bm25(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    c, q = docs.filter("doc_id >= 5"), docs.filter("doc_id < 5")
    return lambda: _rows(bm25.bm25_topk(c, q, k=10))


def _pagerank(spark, sf_dir):
    rng = random.Random(11)
    edges = [
        ("n%d" % rng.randint(0, 9), "n%d" % rng.randint(0, 9), rng.randint(1, 20))
        for _ in range(60)
    ]
    # zero/NULL-weight edges are dropped identically on both sides
    edges += [("n1", "z", 0), ("z", "n2", None)]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    return lambda: _rows(graph.pagerank(df))


def _components(spark, sf_dir):
    # disjoint id ranges: a 300-node chain (diameter 299, past any
    # diameter-bound propagation in 25 rounds), self-pairs (singletons on
    # both sides) and three random sparse graphs
    edges = [(i, i + 1) for i in range(299)]
    edges += [(1005, 1005), (1001, 1002), (1002, 1003), (1009, 1009)]
    for seed in range(3):
        rng = random.Random(seed)
        base = 2000 + 1000 * seed
        edges += [
            tuple(base + v for v in rng.sample(range(120), 2))
            for _ in range(rng.randint(30, 90))
        ]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    return lambda: _rows(dedup.connected_components(df))


def _collocations(spark, sf_dir):
    # the (pmi desc, a, b) order is part of the answer: compare as lists
    docs = _docs(spark, sf_dir)
    return lambda: [
        tuple(r) for r in textstats.collocations(docs, min_count=2, k=50).collect()
    ]


def _span_dedup(spark, sf_dir):
    # auto-broadcast off on both sides: AQE would otherwise broadcast the
    # ~200-doc span table on the scale side too, and the row would compare
    # a broadcast anti-join with itself instead of the shuffled one
    docs = _docs(spark, sf_dir).limit(200)
    key = "spark.sql.autoBroadcastJoinThreshold"

    def run():
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "-1")
        try:
            df = chunking.span_dedup(docs)
            plan = df._jdf.queryExecution().executedPlan().toString()
            broadcast = chunking.SPAN_BROADCAST_LIMIT > 0
            assert ("BroadcastHashJoin" in plan) == broadcast, plan[:1500]
            return _rows(df)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    return run


def _embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _embedding_pairs(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    return lambda: {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.embedding_dup_pairs(emb, 0.3).collect()
    }


def _self_knn(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    return lambda: {
        r["q_id"]: r["cos"]
        for r in similarity.self_knn(emb, k=3).collect()
        if r["rank"] == 1
    }


def _equal(scale, small):
    assert scale and scale == small


def _lsh_subset(scale, small):
    # exact verify: LSH candidates never add a pair or move a value
    assert small and set(scale) <= set(small)
    assert all(abs(v - small[p]) <= 1e-6 for p, v in scale.items())


def _knn_top1_bounded(scale, small):
    # a bucket holds a subset of the corpus: its best neighbor is never
    # better than the exact one
    assert scale and set(scale) <= set(small)
    assert all(v <= small[q] + 1e-9 for q, v in scale.items())


# name: (module, gate constant, extra constants held fixed, input, relation)
GATES = {
    "pair_counter_jaccard": (dedup, "GRAM_KERNEL_MAX_NNZ", {}, _jaccard, _equal),
    "pair_counter_containment": (
        dedup, "GRAM_KERNEL_MAX_NNZ", {}, _containment, _equal,
    ),
    "pair_counter_winnow_count": (dedup, "GRAM_KERNEL_MAX_NNZ", {}, _winnow, _equal),
    "bm25_full_matched": (bm25, "SCALE_THRESHOLD", {}, _bm25, _equal),
    "bm25_qterm_inline": (
        bm25, "QTERM_INLINE_LIMIT", {"SCALE_THRESHOLD": 0}, _bm25, _equal,
    ),
    "pagerank_local_distributed": (graph, "LOCAL_EDGE_GATE", {}, _pagerank, _equal),
    "components_local_distributed": (
        dedup, "CC_LOCAL_MAX_EDGES", {}, _components, _equal,
    ),
    "collocations_driver_distributed": (
        textstats, "COLLOCATION_DRIVER_GATE", {}, _collocations, _equal,
    ),
    "span_dedup_broadcast_join": (
        chunking, "SPAN_BROADCAST_LIMIT", {}, _span_dedup, _equal,
    ),
    "embedding_pairs_broadcast_lsh": (
        similarity, "BROADCAST_LIMIT", {}, _embedding_pairs, _lsh_subset,
    ),
    "self_knn_exact_bucket": (
        similarity, "BROADCAST_LIMIT", {}, _self_knn, _knn_top1_bounded,
    ),
}


@pytest.mark.parametrize("name", sorted(GATES))
def test_gate_sides_agree(spark, sf_dir, monkeypatch, gate_sides, name):
    module, const, fixed, build, relation = GATES[name]
    for k, v in fixed.items():
        monkeypatch.setattr(module, k, v)
    scale, small = gate_sides(module, const, build(spark, sf_dir))
    relation(scale, small)
