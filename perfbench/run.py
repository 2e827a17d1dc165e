"""Run one benchmark workload against the lakeside_spark checkout this file
sits in, and print its metrics.

    python3 perfbench/run.py --workload dashboard_ingest --seed 1 --seconds 10 --trace 0

Runs from the checkout root. Spark runs ``local[4]`` through the program's
own ``get_spark``; everything the run writes (lake, JSONL, Spark scratch,
DuckDB spill) lives in a fresh directory under ``.perfbench_work/`` that is
removed at the end. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
#: driver heap, also the initial heap, so peak RSS does not hang on when
#: the JVM chose to grow it
HEAP = "1g"
#: the tail is the mean latency of the slowest TAIL_SHARE of a run's
#: operations; a one-round run holds 20 to 36 operations, too few for a
#: high percentile, and a mean over several is steadier than one rank
#: (see WORKLOADS.md)
TAIL_SHARE = 0.25
FAMILIES = ("telemetry", "tpch", "text", "embedding", "behavior")


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, the JVM and Python workers inside the run directory, and
    let executor-side Python import the program."""
    for d in ("tmp", "spark-local", "warehouse", "duckdb"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # the JVM that spark-submit starts to build the driver's command
        # line would otherwise write its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))}",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData -Xms{HEAP}"),
            "pyspark-shell",
        ]),
    })


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(xs: list[float]) -> float:
    """Mean of the slowest TAIL_SHARE of ``xs``, at least one value."""
    xs = sorted(xs, reverse=True)[:max(1, round(TAIL_SHARE * len(xs)))]
    return sum(xs) / len(xs)


def end_to_end(run, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = [o["latency"] for o in run.ops]
    return {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * statistics.median(lat),
        "latency_tail_ms": 1000 * _tail(lat),
        "throughput_ops": len(run.ops) / run.measured_s,
        "peak_rss_mb": rss_mb,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, e2e: dict[str, float], spans: list[dict]) -> dict[str, float]:
    from spans import self_times

    L = run.layer
    ops = [s for s in spans if s["name"] == "bench.op"]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def mean_ms(name: str) -> float:
        return 1000 * _mean(s["end"] - s["start"] for s in by_name.get(name, ()))

    m: dict[str, float] = {
        "ast.parse_ms": mean_ms("ast.parse"),
        "segments.read_plan_ms": mean_ms("segments.read"),
        "segments.files_live": L.get("segments.files_live", 0) / max(L.get("segments.reads", 0), 1),
        "segments.files_read": L.get("segments.files_read", 0) / max(L.get("segments.reads", 0), 1),
        "segments.prune_frac": 1 - L["segments.files_read"] / L["segments.files_live"]
        if L.get("segments.files_live") else 0.0,
        "trigram.probe_ms": mean_ms("trigram.read"),
        "trigram.kept_frac": L["trigram.kept"] / L["trigram.live"] if L.get("trigram.live") else 0.0,
        "trigram.build_s": L.get("trigram.build_s", 0.0),
        "ingest.call_ms": mean_ms("ingest.call"),
        "segments.compact_ms": mean_ms("segments.compact"),
        "segments.files_written": L.get("segments.files_written", 0),
        "segments.bytes_per_row": L["segments.final_bytes"] / L["segments.final_rows"]
        if L.get("segments.final_rows") else 0.0,
        "segments.write_amp": L["segments.bytes_written"] / L["segments.final_bytes"]
        if L.get("segments.final_bytes") else 0.0,
        "engine.build_ms": mean_ms("engine.build"),
        "engine.eager_executions": _mean(s["executions"] for s in by_name.get("engine.build", ())),
        "spark.collect_ms": mean_ms("spark.collect"),
        "spark.driver_ms": _mean(1000 * (s["end"] - s["start"]) - s["exec_ms"] for s in ops),
    }
    for k in ("executions", "jobs", "tasks", "exec_ms", "sched_delay_ms", "scan_rows",
              "scan_bytes", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{k}"] = _mean(s[k] for s in ops)

    # registry families: totals per pass
    passes = max(L.get("pipeline.passes", 0), 1)
    op_rec = {o["op"]: o for o in run.ops}
    for fam in FAMILIES:
        mine = [s for s in ops if op_rec.get(s["op"], {}).get("family") == fam]
        builds = [s for s in by_name.get("registry.build", ())
                  if op_rec.get(s["op"], {}).get("family") == fam]
        wall = sum(s["end"] - s["start"] for s in mine)
        m[f"registry.{fam}.wall_s"] = wall / passes
        m[f"registry.{fam}.build_ms"] = 1000 * sum(s["end"] - s["start"] for s in builds) / passes
        m[f"registry.{fam}.driver_s"] = (wall - sum(s["exec_ms"] for s in mine) / 1000) / passes
        m[f"registry.{fam}.executions"] = sum(s["executions"] for s in mine) / passes
        m[f"registry.{fam}.failed"] = sum(
            not o["ok"] for o in run.ops if o.get("family") == fam) / passes
    streaming = [s for s in ops if op_rec[s["op"]]["kind"].startswith("streaming_")]
    m["streaming.triggers"] = L.get("streaming.triggers", 0) / passes
    m["streaming.trigger_ms"] = L.get("streaming.trigger_ms", 0.0) / passes
    m["streaming.wall_s"] = sum(s["end"] - s["start"] for s in streaming) / passes

    # workload-specific rates and costs
    writes = [o for o in run.ops if o["kind"] == "ingest"]
    compacts = [o["latency"] for o in run.ops if o["kind"] == "compact"]
    m["ingest_rows_per_s"] = (sum(o["rows"] for o in writes) / sum(o["latency"] for o in writes)
                              if writes else 0.0)
    m["compact_s"] = statistics.median(compacts) if compacts else 0.0
    m["pass_s"] = L.get("pipeline.pass_s", 0.0) / passes if "pipeline.passes" in L else 0.0
    m["scan_rows_per_s"] = _scan_rows_per_s(run)
    m["failed_frac"] = sum(not o["ok"] for o in run.ops) / max(len(run.ops), 1)

    selfs = self_times([s for s in spans if s["op"] != "setup"])
    for layer in ("bench", "ast", "segments", "trigram", "ingest", "engine", "spark",
                  "registry"):
        m[f"self.{layer}_ms"] = 1000 * selfs.get(layer, 0.0) / max(len(ops), 1)

    # tracing overhead: the traced number minus the number with the
    # tracer's own measured cost taken out
    cost = run.tracer.cost
    bare = [o["latency"] - cost.get(o["op"], 0.0) for o in run.ops]
    inside = sum(cost.get(o["op"], 0.0) for o in run.ops)
    bare_wall = run.measured_s - inside - L.get("trace.outside_s", 0.0)
    m["trace.overhead_setup_s"] = cost.get("setup", 0.0)
    m["trace.overhead_p50_ms"] = e2e["latency_p50_ms"] - 1000 * statistics.median(bare)
    m["trace.overhead_tail_ms"] = e2e["latency_tail_ms"] - 1000 * _tail(bare)
    m["trace.overhead_throughput_ops"] = e2e["throughput_ops"] * (1 - run.measured_s / bare_wall)
    m["trace.spans"] = len(spans)
    return m


def _scan_rows_per_s(run) -> float:
    """Lake rows inside the requested time ranges per second of request
    wall time (the lake as generated; ingested rows are not counted)."""
    import numpy as np

    ts = run.lake_ts
    reqs = [o for o in run.ops if "req" in o]
    if ts is None or not reqs:
        return 0.0
    rows = 0
    for o in reqs:
        r = o["req"]
        if r["kind"].startswith("needle"):
            rows += len(ts)
        else:
            rows += int(np.searchsorted(ts, r["end"]) - np.searchsorted(ts, r["start"]))
    return rows / sum(o["latency"] for o in reqs)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, "lakeside_spark", "__init__.py")):
        print(f"perfbench: no lakeside_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        line = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(line))
    return 0


def _run(args: argparse.Namespace, work: str) -> dict:
    from lakeside_spark.session import get_spark

    from spans import SparkStatus, Tracer, attach_counts
    from workloads import WORKLOADS, Run

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # get_spark keeps Spark's STATIC overwrite mode, under which every
        # ingest into an existing lake first deletes the whole lake
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        tracer = Tracer(enabled=bool(args.trace))
        run = Run(spark, tracer, work, args.seed, args.seconds)
        WORKLOADS[args.workload](run)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        e2e = end_to_end(run, run.first_op_at - T0, rss)
        spans = tracer.spans
        if tracer.enabled:
            status = SparkStatus(spark)
            executions, jobs = status.executions(), status.jobs()
            attach_counts(spans, executions, jobs)
    finally:
        _stop(spark)

    failed = sum(not o["ok"] for o in run.ops)
    for o in run.ops:
        if not o["ok"]:
            print(f"perfbench: wrong answer: op {o['op']} {o['kind']} {o.get('error', '')}",
                  file=sys.stderr)
    metrics = e2e
    units = E2E_UNITS
    if tracer.enabled:
        metrics = per_layer(run, e2e, spans)
        units = {k: LAYER_UNITS.get(k, _unit_of(k)) for k in metrics}
        _write_trace(args, spans, executions, jobs, metrics)
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    return {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
             "throughput_ops": "1/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {"segments.prune_frac": "frac", "trigram.kept_frac": "frac",
               "segments.bytes_per_row": "B", "segments.write_amp": "ratio",
               "ingest_rows_per_s": "1/s", "scan_rows_per_s": "1/s", "failed_frac": "frac",
               "trace.overhead_throughput_ops": "1/s", "trace.spans": "count"}


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


def _write_trace(args, spans, executions, jobs, metrics) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                   "spans": spans, "executions": executions, "jobs": jobs}, fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
