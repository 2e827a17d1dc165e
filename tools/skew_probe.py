"""Hot-band skew probe for the banded LSH joins.

A pathological corpus — a large fraction of documents being the SAME
boilerplate text — collapses every MinHash band of those docs onto ONE
band key, the worst case for a banded equi-join (the hot bucket's
candidate count is quadratic in the boilerplate fraction). This probe
measures dedup_minhash_lsh (corpus self-join) and minhash_lsh_match
(incoming-vs-index, the dedup_incremental shape) on sf0.1 documents with
0% / 10% / 30% boilerplate, and reports wall-clock plus emitted rows.

Usage: python tools/skew_probe.py [boilerplate_fraction ...]
"""
from __future__ import annotations

import sys
import time

BOILER = (
    "subscribe to our newsletter for updates terms of service apply "
    "copyright all rights reserved contact us privacy policy cookie "
    "settings follow us on social media read more about our company"
)


def main() -> int:
    sys.path.insert(0, ".")
    from pyspark.sql import functions as F

    from lakeside_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_match,
    )
    from lakeside_spark.session import get_spark
    from lakeside_spark.sources.tables import load_table

    fracs = [float(a) for a in sys.argv[1:]] or [0.0, 0.1, 0.3]
    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (p for p in it), schema="id long"
    ).count()

    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    for frac in fracs:
        skewed = docs.withColumn(
            "text",
            F.when(
                F.pmod(F.col("doc_id"), 100) < int(frac * 100), F.lit(BOILER)
            ).otherwise(F.col("text")),
        )
        # corpus self-join (dedup_minhash_lsh shape)
        t0 = time.time()
        n_pairs = minhash_lsh_pairs(skewed, threshold=0.5).count()
        t_pairs = time.time() - t0
        # incoming-vs-index (dedup_incremental shape): 20% shard vs 80% index
        incoming = skewed.filter(F.pmod(F.col("doc_id"), 5) == 0)
        index = skewed.filter(F.pmod(F.col("doc_id"), 5) != 0)
        t0 = time.time()
        n_match = minhash_lsh_match(index, incoming, threshold=0.5).count()
        t_match = time.time() - t0
        print(
            f"boiler={frac:.0%}  self-join {t_pairs:6.2f}s ({n_pairs} pairs)"
            f"   incremental {t_match:6.2f}s ({n_match} matches)",
            flush=True,
        )
    return 0


def behavior_skew(src: str) -> int:
    """Hot-key skew probe for event_attribution and trace_concurrency:
    95% of events collapsed onto ONE user (the power-user worst case for
    the user-keyed range join) / ONE span name (the hot-service worst
    case for the chunked sweep's (service, day) windows). Times the
    uniform vs skewed shape on the same row count.

    Usage: python tools/skew_probe.py --behavior [sf_dir]
    """
    from pyspark.sql import functions as F

    from lakeside_spark import materialize as M
    from lakeside_spark.operators.behavior import (
        attribution,
        interval_concurrency,
    )
    from lakeside_spark.session import get_spark
    from lakeside_spark.sources.tables import load_table

    spark = get_spark("behavior-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = (
        load_table(spark, src, "events")
        .select(
            "event_id",
            F.unix_millis("ts").alias("timestamp_ms"),
            "user_id",
            F.col("event_type").alias("name"),
            "value",
        )
    )
    with M.held(events) as ev:
        n = ev.count()
        hot_user = ev.withColumn(
            "user_id",
            F.when(F.pmod(F.col("event_id"), 100) < 95, F.lit(1)).otherwise(
                F.col("user_id")
            ),
        )
        hot_span = ev.withColumn(
            "name",
            F.when(F.pmod(F.col("event_id"), 100) < 95, F.lit("hotsvc")).otherwise(
                F.col("name")
            ),
        )
        # a hot span name alone doesn't stress attribution (it keys on user),
        # and a hot user doesn't stress concurrency (it keys on span name) —
        # probe each operator under ITS hot key
        for label, frame, op in (
            ("uniform", ev, "attribution"),
            ("hot-user 95%", hot_user, "attribution"),
            ("hot-user cap5", hot_user, "attribution-capped"),
            ("uniform", ev, "concurrency"),
            ("hot-span 95%", hot_span, "concurrency"),
        ):
            t0 = time.time()
            if op == "attribution-capped":
                # max_touches=5: the touch-per-conversion cap — post-join
                # volume bounded at 5 rows/conversion regardless of how hot
                # the user is; the remaining cost is the range join itself
                cnt = attribution(
                    frame, lookback_ms=3_600_000, max_touches=5
                ).count()
            elif op == "attribution":
                # 1h lookback: a 95%-hot user with the default 7-day window is
                # SEMANTICALLY quadratic (every conversion × every in-window
                # touch is real output the linear model must credit) — the
                # probe isolates reducer skew, not that fan-out; the fan-out
                # mitigation is a touch cap, measured/discussed in SURVEY §6
                cnt = attribution(frame, lookback_ms=3_600_000).count()
            else:
                cnt = interval_concurrency(
                    frame, key_col="name", ts_col="timestamp_ms", dur_col="value"
                ).count()
            print(
                f"{op:12s} {label:14s} {time.time() - t0:6.2f}s"
                f" ({cnt} rows, {n} events)",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    if "--behavior" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        sys.path.insert(0, ".")
        raise SystemExit(
            behavior_skew(args[0] if args else "/root/testdata/sf0.1")
        )
    raise SystemExit(main())
