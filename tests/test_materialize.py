"""Materialization lifetimes: only lakeside_spark.materialize persists or
checkpoints, no module-level memo survives a call, and every call that
holds a frame releases it when it raises. Alongside, the same call and
parameter rules for the media kernels: one mapInPandas, no settings."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from lakeside_spark.sources.tables import load_table

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "lakeside_spark"

#: plan-forcing parameter names no production function may take: every
#: auto-gate decides from its own input probe against a module constant
PLAN_FORCING_PARAMS = {
    "strategy", "salt_partitions", "order_by_step", "fake",
    "kernel_max_docs", "kernel_max_nnz", "exact_max_docs", "scale_threshold",
    "qterm_inline_limit", "broadcast_limit", "local_max_edges", "driver_gate",
    "products_cap", "products_per_task", "candidates",
}

#: the media kernel modules: their one mapInPandas is the row runner
MEDIA = [PKG / "operators" / "multimodal.py", PKG / "operators" / "audiofp.py"]
#: settings the media kernels keep as module constants; only frame
#: sampling takes ``every_n``/``max_frames``, because its callers vary them
MEDIA_KNOBS = {
    "brightness", "rows_frac", "id_offset", "gain", "noise", "rate",
    "seconds", "size", "every_n", "max_frames",
}
MEDIA_KNOBS_KEPT = {
    "sample_frames": {"every_n", "max_frames"},
    "_frame_indices": {"every_n", "max_frames"},
}


def _sources():
    return sorted(PKG.rglob("*.py"))


def test_only_materialize_module_persists_or_checkpoints():
    scanned = _sources() + [
        p for d in ("tools", "tests") for p in sorted((ROOT / d).rglob("*.py"))
    ]
    offenders = [
        f"{p.relative_to(ROOT)}:{node.lineno}"
        for p in scanned
        if p != PKG / "materialize.py"
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "localCheckpoint", "cache")
    ]
    assert not offenders, offenders
    # a media kernel is a row function handed to multimodal._map_rows
    runner_calls = [
        (getattr(owner, "name", "<module>"), f"{p.relative_to(ROOT)}:{node.lineno}")
        for p in MEDIA
        for owner in ast.parse(p.read_text()).body
        for node in ast.walk(owner)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    ]
    assert [name for name, _ in runner_calls] == ["_map_rows"], runner_calls


def test_no_eager_or_cache_key_parameters_and_no_memos():
    params, memos = [], []
    for p in _sources():
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg in ("eager", "cache_key"):
                        params.append(f"{p.relative_to(PKG)}:{node.name}({arg.arg})")
            elif isinstance(node, ast.Name) and node.id in (
                "_CODEBOOK_CACHE", "_GATE_COUNTS", "_S_COUNT",
            ):
                memos.append(f"{p.relative_to(PKG)}:{node.lineno}:{node.id}")
    assert not params, params
    assert not memos, memos


def test_no_plan_forcing_parameters():
    from lakeside_spark.engine import QueryEngine

    params = [
        f"{p.relative_to(PKG)}:{node.name}({arg.arg})"
        for p in _sources()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for arg in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
        if arg.arg in PLAN_FORCING_PARAMS
    ]
    assert not params, params
    assert not hasattr(QueryEngine, "SALT_CONF")
    knobs = [
        f"{p.relative_to(PKG)}:{getattr(node, 'name', 'lambda')}({arg.arg})"
        for p in MEDIA
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        for arg in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
        if arg.arg in MEDIA_KNOBS - MEDIA_KNOBS_KEPT.get(getattr(node, "name", ""), set())
    ]
    assert not knobs, knobs


class Boom(RuntimeError):
    pass


def _raise_on(spark, monkeypatch, method: str, nth: int = 1):
    """Make the ``nth`` call of DataFrame.<method> in this test raise."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    real = getattr(cls, method)
    calls = [0]

    def wrapper(self, *a, **kw):
        calls[0] += 1
        if calls[0] == nth:
            raise Boom(f"DataFrame.{method} call {nth}")
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, method, wrapper)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _jaccard(spark, sf_dir):
    from lakeside_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), 0.12)


def _lsh_pairs(spark, sf_dir):
    from lakeside_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), 0.12)


def _lsh_match(spark, sf_dir):
    from lakeside_spark.operators.dedup import minhash_lsh_match

    docs = _docs(spark, sf_dir)
    return minhash_lsh_match(
        docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0), 0.12
    )


def _containment(spark, sf_dir):
    from lakeside_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(_docs(spark, sf_dir), 0.5)


def _components(spark, sf_dir):
    from lakeside_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 9)], "id_a bigint, id_b bigint"
    )
    return connected_components(pairs)


def _pagerank(spark, sf_dir):
    from lakeside_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("c", "a", 1), ("c", "d", 1)],
        "src string, dst string, n long",
    )
    return pagerank(edges, iterations=3)


def _pmi(spark, sf_dir):
    from lakeside_spark.operators.textstats import collocations

    return collocations(_docs(spark, sf_dir))


def _curate(spark, sf_dir):
    from lakeside_spark.registry.text import corpus_curate

    return corpus_curate(spark, sf_dir)


# (call, DataFrame method that raises, which call of it, gate constant
# forced to 0): each raise lands while the call holds at least one frame
RAISING = {
    "ngram_jaccard_pairs": (_jaccard, "localCheckpoint", 1, None),
    "minhash_lsh_pairs": (_lsh_pairs, "localCheckpoint", 1, None),
    "minhash_lsh_match": (_lsh_match, "localCheckpoint", 1, None),
    "ngram_containment_pairs": (_containment, "localCheckpoint", 1, None),
    # the distributed star rounds
    "connected_components": (
        _components, "localCheckpoint", 1, ("dedup", "CC_LOCAL_MAX_EDGES"),
    ),
    # take 1 is the gate's edge probe, take 2 the held dangling probe
    "pagerank_distributed": (_pagerank, "take", 2, ("graph", "LOCAL_EDGE_GATE")),
    "collocations_pmi": (_pmi, "take", 1, None),
    # the 3rd checkpoint is the jaccard pair result, inside its shingle hold
    "corpus_curate": (_curate, "localCheckpoint", 3, None),
}


@pytest.mark.parametrize("name", sorted(RAISING))
def test_raising_call_leaves_no_cached_frame(spark, sf_dir, monkeypatch, name):
    import importlib

    call, method, nth, gate = RAISING[name]
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    if gate:
        module = importlib.import_module(f"lakeside_spark.operators.{gate[0]}")
        monkeypatch.setattr(module, gate[1], 0)
    _raise_on(spark, monkeypatch, method, nth)
    with pytest.raises(Boom):
        call(spark, sf_dir)
    monkeypatch.undo()
    assert cache.isEmpty(), name


def test_supplier_count_runs_no_spark_job(spark, sf_dir):
    from lakeside_spark.sources.partsupp import _supplier_count

    want = load_table(spark, sf_dir, "supplier").count()
    sc = spark.sparkContext
    sc.setJobGroup("supplier-count", "footer row count")
    try:
        got = _supplier_count(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    assert got == want > 0
    assert list(sc.statusTracker().getJobIdsForGroup("supplier-count")) == []


def test_null_first_vector_leaves_collect_gate_unbounded(spark, monkeypatch):
    """With ANSI off, size(NULL) is -1: a null first vector must not turn
    into a packed length of 3 (or 1), which would make the byte-bound
    collect gate pass whatever the real dimension."""
    from lakeside_spark.operators import similarity as sim

    seen = []

    def spy(mapped, packed_len=None, **kw):
        seen.append(packed_len)
        return None  # the reduce itself is not under test

    monkeypatch.setattr(sim, "_reduce_packed9", spy)
    df = spark.createDataFrame(
        [(0, None, 1.0), (1, [1.0, 2.0], 0.0), (2, [0.5, -1.0], 1.0)],
        "id int, v array<double>, y double",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert sim._moment_pass9(df, "v", "y") is None
        assert sim._cov_moments9(df, "v") is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert seen == [None, None], seen
