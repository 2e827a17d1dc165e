"""The two workloads. Each drives the program's public API from outside,
in closed loops from a single process, and fills a Run: per-operation
latencies, the answers to check, and the per-layer numbers a traced run
reports. Each runs whole rounds, a round being the same mix of operations
in every run, until ``--seconds`` have passed at a round boundary.

Why these two (see WORKLOADS.md for sizes and predictions):

- dashboard_ingest: small recent windows, so per-request fixed cost
  dominates; half the requests repeat a fixed 8-panel dashboard, so a
  cache or reuse change shows here and nowhere else. Between the reads it
  runs the write path (ingest_files, write_segments, compact_segments),
  which the other workload does not reach.
- batch: heavy whole-range lake requests, where executor work dominates,
  so a scan or aggregation change shows here and a fixed-cost change
  much less; and registry keys (operators, registry, streaming layers),
  where driver time and execution count per key dominate.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import check
from spans import Tracer

#: content dimension the trigram index covers; needle searches probe it
INDEXED = ("message",)
LAKE_SCAN_DAYS = 7
DASHBOARD_DAYS = 2
LAKE_ROWS_PER_HOUR = 1000
DASHBOARD_CLIENTS = 2
INGEST_HOURS_PER_BATCH = 2
#: ingest cycles per dashboard_ingest round; two, so that a run's medians
#: rest on 36 operations and outlast a short slow spell of the host
CYCLES_PER_ROUND = 2
#: a run stops after this many rounds even if its time is not up (one
#: pre-generated JSONL batch per dashboard_ingest cycle)
MAX_ROUNDS = 8
#: registry keys of one pipeline pass, in order: one of each of ROADMAP's
#: fixed-cost targets (driver k-means, streaming replay, dedup_containment,
#: multimodal_video_frames) and a cheap key of the other families. A warm
#: pass takes about 6 s on 4 cores, which bounds how many keys fit in a run.
PIPELINE_KEYS = (
    "funnel_conversion", "tpch_q1", "streaming_replay_late_data", "dedup_containment",
    "ann_ivf", "multimodal_video_frames",
)
#: lake requests of each kind in a batch round. Two, so that the round's
#: median falls among the lake requests, which lie close together, and not
#: in a gap between one kind or key and the next: with one of each, the
#: median of 13 operations moved between request kinds from run to run
SCANS_PER_KIND = 2
#: keys with no oracle SQL: checked by row count
ROWS_ONLY = {
    # two sampled frames (every 3rd of 6) per document with doc_id % 20 = 0
    "multimodal_video_frames": "SELECT 2 * count(*) FROM documents WHERE doc_id % 20 = 0",
}


class Run:
    """What one workload run measured."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}
        self.first_op_at: float | None = None
        self.measured_s = 0.0
        #: timestamps of the generated lake rows, for rows-per-request counts
        self.lake_ts = None
        self._lock = threading.Lock()

    def traced(self, i: int) -> bool:
        """Warm-up operations (negative ids) are never traced."""
        return self.tracer.enabled and i >= 0

    def record(self, op: dict) -> None:
        with self._lock:
            self.ops.append(op)

    def add(self, key: str, v: float) -> None:
        with self._lock:
            self.layer[key] = self.layer.get(key, 0.0) + v


def _timed(run: Run, i: int, span: str, call, collect=None):
    """Run operation ``i``: its id as the Spark job description, a root span
    and a ``span`` around ``call``, then ``collect`` on the result under a
    ``spark.collect`` span. Returns (result, op record)."""
    tr, on, op = run.tracer, run.traced(i), f"op-{i}"
    run.spark.sparkContext.setJobDescription(op)
    t0 = time.perf_counter()
    with tr.span("bench.op", op=op, on=on):
        with tr.span(span, on=on):
            out = call()
        if collect is not None:
            with tr.span("spark.collect", on=on):
                out = collect(out)
    latency = time.perf_counter() - t0
    run.spark.sparkContext.setJobDescription(None)
    return out, {"i": i, "op": op, "latency": latency, "traced": on}


# ---------------------------------------------------------------------------
# one lake request


def _files_in_window(lake: str, start: int, end: int) -> int:
    n, t = 0, start - start % gen.HOUR_MS
    while t < end:
        d = gen.partition_dir(lake, t)
        if os.path.isdir(d):
            n += sum(f.endswith(".parquet") for f in os.listdir(d))
        t += gen.HOUR_MS
    return n


def _lake_files(lake: str) -> tuple[int, int]:
    """(data files, data bytes) under the lake root."""
    files = size = 0
    for dp, _, fs in os.walk(os.path.join(lake, f"dataset={gen.DATASET}")):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def lake_request(run: Run, req: dict, lake: str, i: int) -> dict:
    """Parse, plan, run and collect one request; returns the op record."""
    from lakeside_spark.ast.model import ast_input_from_json, base_expr_from_json
    from lakeside_spark.engine import QueryEngine
    from lakeside_spark.sources.segments import read_segments
    from lakeside_spark.sources.trigram_index import read_segments_indexed

    tr, spark, kind = run.tracer, run.spark, req["kind"]
    on = run.traced(i)
    op = f"op-{i}"
    spark.sparkContext.setJobDescription(op)
    t0 = time.perf_counter()
    with tr.span("bench.op", op=op, on=on):
        with tr.span("ast.parse", on=on):
            if kind == "graph":
                exprs, formulae = ast_input_from_json(req["body"])
            else:
                expr = base_expr_from_json(req["body"])
        if kind.startswith("needle"):
            with tr.span("trigram.read", on=on):
                df = read_segments_indexed(spark, lake, expr.filter, INDEXED)
        else:
            with tr.span("segments.read", on=on):
                df = read_segments(spark, lake, gen.DATASET, req["start"], req["end"])
        with tr.span("engine.build", on=on):
            engine = QueryEngine(spark, step_ms=req["step"])
            if kind == "graph":
                frames = engine.run_graph(exprs, formulae, df, req["start"], req["end"])
            elif kind == "tag_values":
                frames = {"_": engine.tag_values(expr, df, req["tag"])}
            elif kind == "multi_agg":
                frames = {"_": engine.multi_agg(expr, df, tuple(req["aggs"]))}
            elif kind == "cardinality":
                frames = {"_": engine.query_cardinality(expr, df)}
            elif kind == "exemplar":
                frames = {"_": engine.run(expr, df, req["start"], req["end"])}
            else:
                frames = {"_": engine.run(expr, df)}
        with tr.span("spark.collect", on=on):
            result = {k: (f.columns, [tuple(r) for r in f.collect()]) for k, f in frames.items()}
    latency = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    rec = {"i": i, "op": op, "kind": kind, "latency": latency, "traced": on,
           "repeat": req.get("repeat", False), "req": req, "result": result,
           "existing": set(df.columns), "lake": lake}
    if on:
        b0 = time.perf_counter()
        live = _lake_files(lake)[0]
        if kind.startswith("needle"):
            run.add("trigram.kept", len(df.inputFiles()))
            run.add("trigram.live", live)
        else:
            run.add("segments.files_live", live)
            run.add("segments.files_read", _files_in_window(lake, req["start"], req["end"]))
            run.add("segments.reads", 1)
        run.add("trace.outside_s", time.perf_counter() - b0)
    return rec


def check_requests(run: Run, con, recs: list[dict]) -> None:
    for rec in recs:
        try:
            rec["ok"] = check.request_ok(con, rec["req"], rec["lake"], rec["existing"],
                                         rec["result"])
        except Exception as exc:  # a query the twin rejects is a failed answer
            rec["ok"] = False
            rec["error"] = repr(exc)
        rec.pop("result")


# ---------------------------------------------------------------------------
# shared by dashboard_ingest and batch


def build_lake(run: Run, days: int) -> str:
    lake = os.path.join(run.work, "lake")
    with run.tracer.span("bench.setup_lake", op="setup"):
        table = gen.lake_table(run.seed, days, LAKE_ROWS_PER_HOUR)
        gen.write_lake(table, lake)
    run.lake_ts = table.column("timestamp_ms").to_numpy()
    return lake


def _send_all(run: Run, reqs: list[dict], lake: str, clients: int, ids) -> list[dict]:
    """Send ``reqs`` from ``clients`` threads in a closed loop: each thread
    takes the next request as soon as its previous one returned. Request
    ``j`` gets operation id ``ids[j]``; negative ids are warm-up requests.
    Returns the op records in request order."""
    with ThreadPoolExecutor(clients) as pool:
        return list(pool.map(lambda j: lake_request(run, reqs[j], lake, ids[j]),
                             range(len(reqs))))


def warm_up(run: Run, lake: str, reqs: list[dict], clients: int = 1) -> None:
    """Untimed requests first: JIT compilation and code generation are then
    warm, as in a long-running server."""
    _send_all(run, reqs, lake, clients, range(-1, -1 - len(reqs), -1))


def _rounds(run: Run, one_round) -> None:
    """Call ``one_round(r)`` for r = 0, 1, ... until ``run.seconds`` of
    measured time have passed at a round boundary, or MAX_ROUNDS ran.
    ``one_round`` returns the seconds it spent on answer checks, which are
    not measured."""
    run.first_op_at = time.time()
    t0 = time.perf_counter()
    paused, r = 0.0, 0
    while r == 0 or (r < MAX_ROUNDS and time.perf_counter() - t0 - paused < run.seconds):
        paused += one_round(r)
        r += 1
    run.measured_s = time.perf_counter() - t0 - paused


# ---------------------------------------------------------------------------
# dashboard_ingest


def dashboard_ingest(run: Run) -> None:
    """One single-process loop of rounds of CYCLES_PER_ROUND cycles. A
    cycle ingests one JSONL batch, then two dashboard clients refresh every
    panel and send one ad-hoc request of each shape at the newest data,
    then compacts the lake. Writes and compaction never overlap reads: the directory-rename swap in
    compact_segments is not safe under live readers. Answers and
    read-your-writes row counts are checked after every cycle with the
    clock stopped, because the next cycle changes the lake."""
    from lakeside_spark.sources.ingest import ingest_files
    from lakeside_spark.sources.segments import compact_segments, read_segments

    spark, tr = run.spark, run.tracer
    lake = build_lake(run, DASHBOARD_DAYS)
    base_end = gen.lake_end_ms(DASHBOARD_DAYS)
    # one batch more than the cycles can use, for the warm-up
    batches = gen.jsonl_batches(run.seed, base_end, MAX_ROUNDS * CYCLES_PER_ROUND + 1,
                                INGEST_HOURS_PER_BATCH, LAKE_ROWS_PER_HOUR)
    paths = []
    for b, text in enumerate(batches):
        p = os.path.join(run.work, "jsonl", f"batch-{b:03d}.jsonl")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write(text)
        paths.append((p, text.count("\n")))
    # the write path warms up on a throwaway lake; the dashboard was opened
    # once before its timed refreshes. Panels end inside the base lake, so
    # ingested rows never change a panel's answer.
    scratch = os.path.join(run.work, "warm_lake")
    ingest_files(spark, paths.pop()[0], scratch, "jsonl", gen.DATASET, ("user_id",))
    compact_segments(spark, scratch)
    panels = gen.dashboard_panels(base_end)
    warm_up(run, lake, panels, DASHBOARD_CLIENTS)

    con = check.connect(run.work)
    params = gen.np.random.default_rng([run.seed, 5])
    state = {"rows": len(run.lake_ts), "written": 0}
    per_cycle = 2 * len(panels) + 2  # an ingest, the reads and a compaction

    def one_cycle(c: int) -> float:
        path, n_rows = paths[c]
        i = c * per_cycle
        got, rec = _timed(run, i, "ingest.call",
                          lambda: ingest_files(spark, path, lake, "jsonl", gen.DATASET,
                                               ("user_id",)))
        run.record(dict(rec, kind="ingest", rows=n_rows, ok=got == n_rows))
        state["rows"] += n_rows
        end = base_end + (c + 1) * INGEST_HOURS_PER_BATCH * gen.HOUR_MS
        if tr.enabled:
            b0 = time.perf_counter()
            state["written"] += _bytes_of_new_files(
                lake, end - INGEST_HOURS_PER_BATCH * gen.HOUR_MS, end)
            run.add("segments.files_written", INGEST_HOURS_PER_BATCH)
            run.add("trace.outside_s", time.perf_counter() - b0)

        reqs = gen.dashboard_round(params, base_end, end)
        recs = _send_all(run, reqs, lake, DASHBOARD_CLIENTS, range(i + 1, i + 1 + len(reqs)))

        _, rec = _timed(run, i + per_cycle - 1, "segments.compact",
                        lambda: compact_segments(spark, lake))
        run.record(dict(rec, kind="compact", ok=True))
        if tr.enabled:
            b0 = time.perf_counter()
            files, size = _lake_files(lake)
            state["written"] += size
            run.add("segments.files_written", files)
            run.add("trace.outside_s", time.perf_counter() - b0)

        # checks, with the clock stopped
        c0 = time.perf_counter()
        spark.sparkContext.setJobDescription("check")
        spark_rows = read_segments(spark, lake).count()
        spark.sparkContext.setJobDescription(None)
        duck_rows = con.execute(f"SELECT count(*) FROM {check.lake_scan_sql(lake)}").fetchone()[0]
        check_requests(run, con, recs)
        for rec in recs:
            rec["ok"] = rec["ok"] and spark_rows == state["rows"] == duck_rows
            run.record(rec)
        return time.perf_counter() - c0

    _rounds(run, lambda r: sum(one_cycle(r * CYCLES_PER_ROUND + k)
                               for k in range(CYCLES_PER_ROUND)))
    run.add("segments.final_bytes", _lake_files(lake)[1])
    run.add("segments.final_rows", state["rows"])
    run.add("segments.bytes_written", state["written"])


def _bytes_of_new_files(lake: str, start: int, end: int) -> int:
    size, t = 0, start
    while t < end:
        d = gen.partition_dir(lake, t)
        if os.path.isdir(d):
            size += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                        if f.endswith(".parquet"))
        t += gen.HOUR_MS
    return size


# ---------------------------------------------------------------------------
# batch


def batch(run: Run) -> None:
    """One client, rounds of batch work: SCANS_PER_KIND heavy whole-range
    lake requests of every SCAN_KINDS kind, then one pass over
    PIPELINE_KEYS (a round). Scan answers and pipeline outputs are checked
    after the timed part."""
    from lakeside_spark.registry import QUERIES
    from lakeside_spark.sources.trigram_index import build_trigram_index

    spark, tr = run.spark, run.tracer
    lake = build_lake(run, LAKE_SCAN_DAYS)
    t0 = time.perf_counter()
    with tr.span("trigram.build", op="setup"):
        build_trigram_index(spark, lake, indexed_dims=INDEXED)
    run.add("trigram.build_s", time.perf_counter() - t0)
    sf_dir = os.path.join(run.work, "tables")
    with tr.span("bench.setup_tables", op="setup"):
        gen.write_tables(run.seed, sf_dir)
    end = gen.lake_end_ms(LAKE_SCAN_DAYS)
    n_scans, n_keys = SCANS_PER_KIND * len(gen.SCAN_KINDS), len(PIPELINE_KEYS)
    per_round = n_scans + n_keys
    stream = gen.scan_stream(run.seed, gen.ANCHOR_MS, end, MAX_ROUNDS * n_scans)

    def run_key(i: int, key: str):
        return _timed(run, i, "registry.build", lambda: QUERIES[key](spark, sf_dir),
                      collect=lambda df: df.toPandas())

    # one untimed round first, with other request parameters than the timed
    # ones, which stay distinct: the first run of a request kind or key in a
    # session compiles its plans' code (and the first mapInPandas starts
    # the Python workers), and ran up to twice as long as the next one
    n_kinds = len(gen.SCAN_KINDS)
    warm_up(run, lake, gen.scan_stream(run.seed, gen.ANCHOR_MS, end, n_kinds, stream=7))
    for k, key in enumerate(PIPELINE_KEYS):
        run_key(-1 - n_kinds - k, key)
    listener = _streaming_listener(run) if tr.enabled else None

    def one_round(r: int) -> float:
        i0 = r * per_round
        for j in range(n_scans):
            run.record(lake_request(run, stream[r * n_scans + j], lake, i0 + j))
        p0 = time.perf_counter()
        for k, key in enumerate(PIPELINE_KEYS):
            pdf, rec = run_key(i0 + n_scans + k, key)
            family = QUERIES[key].__module__.rsplit(".", 1)[-1]
            run.record(dict(rec, kind=key, family=family, output=pdf))
        run.add("pipeline.passes", 1)
        run.add("pipeline.pass_s", time.perf_counter() - p0)
        return 0.0

    _rounds(run, one_round)
    if listener is not None:
        spark.streams.removeListener(listener)

    con = check.connect(run.work)
    check_requests(run, con, [o for o in run.ops if "req" in o])
    _check_pipeline(con, sf_dir, [o for o in run.ops if "family" in o])


def _check_pipeline(con, sf_dir: str, recs: list[dict]) -> None:
    """Each key's output against its ORACLES SQL in DuckDB over the same
    tables (row count for ROWS_ONLY keys)."""
    from lakeside_spark.registry import ORACLES

    for t in gen.PIPELINE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = {key: con.execute(ROWS_ONLY[key]).fetchone()[0] if key in ROWS_ONLY
            else check.frame_rows(con.execute(ORACLES[key]).df()) for key in PIPELINE_KEYS}
    for rec in recs:
        k, pdf = rec["kind"], rec.pop("output")
        rec["ok"] = (len(pdf) == want[k] if k in ROWS_ONLY
                     else check.same_rows(*check.frame_rows(pdf), *want[k]))


def _streaming_listener(run: Run):
    from pyspark.sql.streaming import StreamingQueryListener

    class Triggers(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            run.add("streaming.triggers", 1)
            run.add("streaming.trigger_ms", float(event.progress.batchDuration))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Triggers()
    run.spark.streams.addListener(listener)
    return listener


WORKLOADS = {"dashboard_ingest": dashboard_ingest, "batch": batch}
