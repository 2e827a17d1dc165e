"""Profile registry keys: each key's wall time split into driver time and
Spark execution time, with the counts Spark's status store keeps.

    python tools/profile.py KEY... [--sf DIR] [--runs N] [--scale N] [--plans DIR]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``. Each key runs once to warm up
(counting its result ``rows``), then ``--runs`` times (default 2) through
the noop sink under ``setJobDescription(KEY)``; the fastest run is printed:

- ``wall_s``; ``executions``, the SQL executions the run started, and
  ``exec_union_s``, the union of their time windows; ``driver_s`` = wall
  minus that union (plan building, driver-side numpy, collected rows);
- ``jobs``, ``tasks``, ``scan_rows``, ``scan_bytes``, ``shuffle_bytes``,
  ``spill_bytes`` and ``sched_delay_ms``, summed over the run's jobs;
- for streaming keys, ``triggers`` and ``trigger_detail``: each trigger's
  ``durationMs`` breakdown and state-operator metrics. Micro-batch
  executions carry their stream's description (``runId = ...``), not the
  key's, so they are matched by the run ids of the queries the run started.

``--scale N`` writes an N-fold replica of the sf dir once (reused while its
``_BUILD_DONE`` marker exists): id columns shift by the observed maximum + 1
per replica, and every word of document text gets a fixed-width replica
salt, so no text overlaps across replicas and each has the same text
statistics (output that selects by hash value, like winnowing's, still
varies with the salt). The growth baseline is a 1x replica salted the same
way (``x000``): salting alone moves text keys' output. The line reports the
N-fold run plus ``base_wall_s``, ``base_rows``, ``wall_growth``,
``rows_growth``, and ``duckdb_s`` and ``ratio`` for keys with an oracle.
``--plans DIR`` writes the executed (post-AQE) plan of each execution of
the fastest run to ``DIR/KEY.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, sys.path[0] is tools/, where this file shadows the stdlib
# ``profile`` module that cProfile (imported by pyspark) imports
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from lakeside_spark.registry import ORACLES, QUERIES  # noqa: E402
from lakeside_spark.sources.tables import ALL_TABLES  # noqa: E402
from perfbench.spans import JOB_COUNTS, SparkStatus  # noqa: E402

#: tables ``--scale`` replicates, each id column with the key domain it
#: shifts in (one shift per domain keeps joins on it intact); the other
#: tables are shared dimensions
REPLICATED = {
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "orders": {"o_orderkey": "order"},
    "lineitem": {"l_orderkey": "order"},
}
#: digits of the per-word replica salt: every salted word grows by the
#: same 1 + SALT_WIDTH characters, whatever the replica count
SALT_WIDTH = 3
#: DuckDB runs in this process next to the Spark driver. Its defaults (80%
#: of RAM, then spilling) let one 10x oracle exhaust a shared 16 GB host's
#: memory, and then 17 GB of disk despite max_temp_directory_size
DUCKDB_LIMITS = {"memory_limit": "2GB", "temp_directory": ""}


class _Streams(StreamingQueryListener):
    """Run ids of the streaming queries started, and their progress."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: list = []

    def onQueryStarted(self, event):
        self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryTerminated(self, event):
        pass


def _union(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one window."""
    total, cursor = 0.0, lo
    for s, e in sorted(windows):
        s, e = max(s, cursor), min(e, hi)
        if e > s:
            total += e - s
            cursor = e
    return total


def _trigger(p) -> dict:
    state = [{"op": s.operatorName, "rows_total": s.numRowsTotal,
              "updates_ms": s.allUpdatesTimeMs, "commit_ms": s.commitTimeMs,
              "memory_bytes": s.memoryUsedBytes, "shuffle_partitions": s.numShufflePartitions,
              "store_instances": s.numStateStoreInstances} for s in p.stateOperators]
    return {"batch": p.batchId, "rows": p.numInputRows, "duration_ms": dict(p.durationMs),
            "state": state}


def _run(spark, key: str, sf: str, listener: _Streams, obs: Observation | None = None) -> dict:
    """One noop-sink run of ``key`` under its job description."""
    n0 = len(listener.started)
    sc = spark.sparkContext
    sc.setJobDescription(key)
    try:
        t0 = time.time()
        df = QUERIES[key](spark, sf)
        if obs is not None:
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.format("noop").mode("overwrite").save()
        t1 = time.time()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the run's stream events are in
    return {"t0": t0, "t1": t1, "key": key, "streams": set(listener.started[n0:])}


def _mine(run: dict, desc: str | None, start: float) -> bool:
    """An execution or job started by ``run``: inside its window, and
    described by its key or by one of the streams it started."""
    if not run["t0"] - 0.001 <= start <= run["t1"]:  # store times are whole ms
        return False
    return desc == run["key"] or any(f"runId = {r}" in (desc or "") for r in run["streams"])


def profile(spark, key: str, sf: str, runs: int = 2, scale: int | None = None,
            root: str | None = None, plans: str | None = None) -> dict:
    """Profile one registry key (see the module docstring); ``root`` is where
    ``scale`` builds its replicas (default: the temp dir)."""
    if scale:
        name = os.path.basename(os.path.normpath(sf))
        root = root or os.path.join(tempfile.gettempdir(), f"lakeside_profile_{name}")
        big = replica(spark, sf, scale, root)
        base = profile(spark, key, replica(spark, sf, 1, root), runs)
        out = profile(spark, key, big, runs, plans=plans)
        out.update(scale=scale, base_wall_s=base["wall_s"], base_rows=base["rows"],
                   wall_growth=round(out["wall_s"] / base["wall_s"], 2),
                   rows_growth=round(out["rows"] / max(base["rows"], 1), 2))
        if key in ORACLES:
            duck = out["duckdb_s"] = _duckdb_s(key, big, runs)
            out["ratio"] = round(out["wall_s"] / max(duck, 1e-6), 2) if duck else None
        return out

    listener = _Streams()
    spark.streams.addListener(listener)
    try:
        obs = Observation("rows")
        _run(spark, key, sf, listener, obs)
        rows = obs.get["rows"]
        timed = [_run(spark, key, sf, listener) for _ in range(runs)]
    finally:
        spark.streams.removeListener(listener)
    best = min(timed, key=lambda r: r["t1"] - r["t0"])
    wall = best["t1"] - best["t0"]
    _await_completions(spark, best)
    status = SparkStatus(spark)
    execs, jobs = status.executions(), status.jobs()
    mine = [e for e in execs if _mine(best, e["desc"], e["start"])]
    union = _union([(e["start"], e["end"]) for e in mine], best["t0"], best["t1"])
    my_jobs = [j for j in jobs if _mine(best, j["desc"], j["start"])]
    out = {"key": key, "sf": sf, "wall_s": round(wall, 3), "rows": rows,
           "executions": len(mine), "exec_union_s": round(union, 3),
           "driver_s": round(wall - union, 3), "jobs": len(my_jobs),
           **{k: sum(j[k] for j in my_jobs) for k in JOB_COUNTS}}
    triggers = [_trigger(p) for p in listener.progress if str(p.runId) in best["streams"]]
    if triggers:
        out.update(triggers=len(triggers), trigger_detail=triggers)
    if plans:
        _write_plans(spark, best, os.path.join(plans, f"{key}.txt"))
    return out


def _run_executions(spark, run: dict) -> list:
    """The run's executions as the SQL status store holds them."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return [ui for ui in conv.asJava(store.executionsList())
            if _mine(run, ui.description(), ui.submissionTime() / 1000.0)]


def _await_completions(spark, run: dict, timeout_s: float = 60.0) -> None:
    """Wait until the store holds each execution's completion time: it writes
    one after aggregating metrics off the listener bus, so a long execution
    can read as unfinished (zero length) just after the bus drains."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(
            not ui.completionTime().isDefined() for ui in _run_executions(spark, run)):
        time.sleep(0.2)


def _write_plans(spark, run: dict, path: str) -> None:
    """The executed formatted plan of each of the run's executions (the
    store's copy is updated as AQE re-plans)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        for ui in _run_executions(spark, run):
            fh.write(f"== execution {ui.executionId()}: {ui.description()}\n")
            fh.write(f"{ui.physicalPlanDescription()}\n\n")


def replica(spark, sf: str, n: int, root: str) -> str:
    """``root/x<n>``: the tables of ``sf`` with REPLICATED ones ``n``-fold
    (built once; the other tables are linked)."""
    out = os.path.join(root, f"x{n}")
    if os.path.exists(os.path.join(out, "_BUILD_DONE")):
        return out
    if not 1 <= n <= 10**SALT_WIDTH:
        raise ValueError(f"--scale must be in 1..{10**SALT_WIDTH}, got {n}")
    raw = {t: spark.read.parquet(f"{sf}/{t}.parquet") for t in REPLICATED}
    shift: dict[str, int] = {}
    for t, ids in REPLICATED.items():
        top = raw[t].agg(*[F.max(c).alias(c) for c in ids]).first()
        for c, domain in ids.items():
            shift[domain] = max(shift.get(domain, 0), (top[c] or 0) + 1)
    rep = spark.range(n).select(F.col("id").alias("__rep"))
    salt = F.concat(F.lit("x"), F.lpad(F.col("__rep").cast("string"), SALT_WIDTH, "0"))
    text = F.array_join(F.transform(F.split(F.col("text"), " "), lambda w: F.concat(w, salt)), " ")
    for t, ids in REPLICATED.items():
        cols = {c: F.col(c) for c in raw[t].columns}
        cols.update({c: F.col(c) + F.col("__rep") * F.lit(shift[d]) for c, d in ids.items()})
        if "text" in cols:
            cols["text"] = text
            if "n_chars" in cols:
                cols["n_chars"] = F.length(text).cast("long")
        (raw[t].crossJoin(rep).select(*[e.alias(c) for c, e in cols.items()])
         .write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
    for t in ALL_TABLES:
        src, dst = os.path.abspath(f"{sf}/{t}.parquet"), f"{out}/{t}.parquet"
        if t not in REPLICATED and os.path.exists(src) and not os.path.lexists(dst):
            os.symlink(src, dst)
    # written last: an interrupted build must not look complete
    with open(os.path.join(out, "_BUILD_DONE"), "w") as fh:
        fh.write(f"n={n} sf={sf}\n")
    return out


def _duckdb_s(key: str, d: str, runs: int) -> float | None:
    """Fastest of ``runs`` DuckDB runs of the key's oracle over ``d``, after
    one warm-up; None if it does not fit in DUCKDB_LIMITS."""
    import duckdb

    with duckdb.connect(config=DUCKDB_LIMITS) as con:
        for t in ALL_TABLES:
            p = f"{d}/{t}.parquet"
            if os.path.isdir(p):  # Spark writes a directory of part files
                p += "/*.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        best = float("inf")
        for i in range(runs + 1):
            t0 = time.perf_counter()
            try:
                con.sql(ORACLES[key]).fetchall()
            except duckdb.OutOfMemoryException:
                return None
            if i:
                best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="+", metavar="KEY", choices=sorted(QUERIES))
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="testdata dir (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=2,
                    help="timed runs per key; the fastest is reported")
    ap.add_argument("--scale", type=int, help="also run on an N-fold replica and report growth")
    ap.add_argument("--plans", help="write each key's executed plans to DIR/KEY.txt")
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")
    # Python workers start with the JVM's environment, not this sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from lakeside_spark.session import get_spark

    spark = get_spark("lakeside-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for key in args.keys:
        line = profile(spark, key, args.sf, args.runs, args.scale, plans=args.plans)
        print(json.dumps(line), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
