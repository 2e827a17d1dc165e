"""Constant-density scale probe for ngram_containment_pairs.

The shared replica builder (tools/scale_probe.py) salts only the TAIL of
each document, so every replica stays containment≈1 with its N-1
siblings — true pair volume grows quadratically in N and a probe there
measures output size, not plan shape (the round-8 OOM). This probe
salts EVERY WORD per replica instead: cross-replica shingle overlap is
zero, true pair volume grows linearly, and wall-clock growth isolates
the candidate/verify plan.

Usage: python tools/containment_probe.py [N ...]   # default 10 100
Prints per-N wall seconds + output rows + growth vs 1x with the size gate
forced to the prefix-filtering side (the 100 TB path). Replicas build under
/tmp/lakeside_containment_sf<N>x and are reused.
"""
from __future__ import annotations

import os
import sys
import time

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build(spark, n: int, out: str) -> None:
    from pyspark.sql import functions as F

    from lakeside_spark.sources.tables import load_table

    docs = load_table(spark, SRC, "documents")
    n_docs = docs.count()
    rep = spark.range(n).select(F.col("id").alias("__rep"))
    salt = F.concat(F.lit("x"), F.col("__rep").cast("string"))
    salted = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, salt),
        ),
        " ",
    )
    (
        docs.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("__rep") * n_docs).alias("doc_id"),
            salted.alias("text"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    with open(f"{out}/_BUILD_DONE", "w") as fh:
        fh.write(f"n={n} src={SRC} salt=per-word\n")


def main() -> int:
    sys.path.insert(0, ".")
    ns = [int(a) for a in sys.argv[1:]] or [10, 100]

    from pyspark.sql import functions as F

    from lakeside_spark.operators import dedup
    from lakeside_spark.session import get_spark
    from lakeside_spark.sources.tables import load_table

    # every corpus size takes the prefix side
    dedup.CONTAINMENT_EXACT_MAX_DOCS = 0
    spark = get_spark("containment-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (p for p in it), schema="id long"
    ).count()

    def run(docs) -> tuple[float, int]:
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            rows = dedup.ngram_containment_pairs(docs, threshold=0.5).count()
            best = min(best, time.perf_counter() - t0)
        return best, rows

    base_docs = load_table(spark, SRC, "documents").select("doc_id", "text")
    t1, r1 = run(base_docs)
    print(f"{'1x':>6s} {t1:8.2f}s {r1:10d} rows", flush=True)
    for n in ns:
        out = f"/tmp/lakeside_containment_sf{n}x"
        if not os.path.exists(f"{out}/_BUILD_DONE"):
            print(f"# building constant-density {n}x at {out}", flush=True)
            b0 = time.time()
            build(spark, n, out)
            print(f"# built in {time.time() - b0:.0f}s", flush=True)
        docs = spark.read.parquet(f"{out}/documents.parquet")
        tn, rn = run(docs)
        print(
            f"{n}x".rjust(6)
            + f" {tn:8.2f}s {rn:10d} rows  wall {tn / t1:5.1f}x"
            + f"  output {rn / max(r1, 1):5.1f}x",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
