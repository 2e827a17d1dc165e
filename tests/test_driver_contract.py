"""Driver-parity gate: the round-1 killer was that the driver supplies its
own *vanilla* SparkSession (no confs from lakeside_spark.session.get_spark),
and the testdata parquet encodes TIMESTAMP(NANOS) which a vanilla session
refuses to read. This test reproduces the driver exactly: a bare
``SparkSession.builder.getOrCreate()`` in a fresh subprocess (so no conf
leaks from the pytest session) running registry queries end-to-end.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: formatted with the checkout root and the testdata dir
_SCRIPT = r"""
import sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession

# exactly what the driver does: its own session, none of our confs
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

qs = e.queries()
# one query per table family that carries timestamp columns, plus one per
# round-4 operator family (curation, codec, LM, seasonal) — new code paths
# must also survive a conf-less session
for key in [
    "ts_count", "tpch_q1", "asof_join", "exemplars", "ema_smooth",
    "text_pii_scrub", "corpus_span_dedup", "multimodal_decode",
    "text_perplexity", "ts_seasonal", "text_bpe_tokens",
    "multimodal_phash_dedup", "multimodal_audio_dedup",
    # round-5 families: traces mapping, behavior windows, MG sketch,
    # fixed-point embedding stats, CUSUM, kNN labels
    "traces_span_stats", "trace_service_graph", "funnel_conversion",
    "freq_topk_sketch", "embedding_dim_stats", "ts_step_change",
    "embedding_knn_mislabel",
    # round-5 third wave: md5-bucketed importance weights, zlib kernel,
    # Holt recursion, SQ8 byte codes, kmeans cell stats
    "dsir_select", "text_compression", "ts_holt_winters", "ann_sq8",
    "embedding_cluster_stats",
    # round-7: eager leg collects + local-relation results must survive
    # a conf-less session too (bm25 gate count, pool cache, driver fuse)
    "text_bm25_topk", "hybrid_rrf_topk", "retrieval_eval",
    "event_attribution", "ngram_lm_score", "corpus_ngram_novelty",
    "rfm_segmentation", "text_char_entropy", "trace_concurrency",
    "service_pagerank", "funnel_time_to_convert", "ts_gap_report",
]:
    df = qs[key](spark, %r)
    n = df.count()
    assert n >= 0, key
    print(key, "OK", n)

# entry() contract itself
out = e.entry(spark)
assert out.count() > 0
print("entry OK")
spark.stop()
"""


def test_vanilla_session_reads_nanos_parquet(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT % (str(ROOT), sf_dir)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "entry OK" in proc.stdout

