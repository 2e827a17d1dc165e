"""Engine correctness against DuckDB on sf0.001 (fast local oracle)."""

import dataclasses

import duckdb
import pytest
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BaseExpr, BinaryClause, ChartOptions, Filter
from lakeside_spark.engine import QueryEngine
from lakeside_spark.schema import load_telemetry


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return con


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_ts_count(spark, sf_dir, ddb):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=Filter(k=S.NAME, op=S.EXISTS),
        chart=ChartOptions(aggregation="count", group_bys=()),
    )
    got = QueryEngine(spark).run(expr, tele)
    exp = ddb.sql(
        """
        SELECT epoch_ms(ts) - epoch_ms(ts) % 10000 AS step_ts,
               event_type AS name, CAST(count(value) AS DOUBLE) AS value
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    assert rows_set(got.select("step_ts", "name", "value")) == {tuple(r) for r in exp}


def test_filter_and_sum(spark, sf_dir, ddb):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=BinaryClause(
            Filter(k=S.NAME, v=("error", "purchase"), op=S.IN),
            Filter(k=S.VALUE, v=("10",), op=S.GT, data_type=S.NUMBER_TYPE),
            "and",
        ),
        chart=ChartOptions(aggregation="sum", group_bys=(S.NAME,)),
    )
    got = QueryEngine(spark).run(expr, tele).withColumn("value", F.round("value", 4))
    exp = ddb.sql(
        """
        SELECT epoch_ms(ts) - epoch_ms(ts) % 10000 AS step_ts, event_type AS name,
               ROUND(SUM(value), 4) AS value
        FROM events
        WHERE event_type IN ('error','purchase') AND value > 10
        GROUP BY 1, 2
        """
    ).fetchall()
    assert rows_set(got.select("step_ts", "name", "name", "value")) == {
        (r[0], r[1], r[1], r[2]) for r in exp
    }


def test_percentile_exact_matches_duckdb(spark, sf_dir, ddb):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=Filter(k=S.NAME, v=("click",), op=S.EQ),
        chart=ChartOptions(aggregation="p95"),
    )
    got = QueryEngine(spark, step_ms=60000).run(expr, tele)
    got = got.withColumn("value", F.round("value", 6))
    exp = ddb.sql(
        """
        SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS step_ts, event_type AS name,
               ROUND(quantile_cont(value, 0.95), 6) AS value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
        """
    ).fetchall()
    assert rows_set(got.select("step_ts", "name", "value")) == {tuple(r) for r in exp}


def test_exemplars_limit_and_order(spark, sf_dir):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(filter=Filter(k=S.NAME, v=("error",), op=S.EQ), limit=10)
    rows = QueryEngine(spark).run(expr, tele).collect()
    assert len(rows) == 10
    ts = [r[S.TIMESTAMP] for r in rows]
    assert ts == sorted(ts, reverse=True)
    assert all(r[S.NAME] == "error" for r in rows)


def test_chart_count_one_exchange_over_partial_count(spark, sf_dir):
    """A chart count is one Exchange over a map-side partial_count: each
    input partition ships at most one row per (step, name) key, so a hot
    key needs no salting. The plan stays sort-free (no rangepartitioning
    Exchange on every chart query); ordering is a consumer concern."""
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=Filter(k=S.NAME, op=S.EXISTS),
        chart=ChartOptions(aggregation="count"),
    )
    plan = (
        QueryEngine(spark, step_ms=86_400_000)
        .run(expr, tele)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
    )
    exchanges = [i for i, line in enumerate(plan) if "Exchange" in line]
    assert len(exchanges) == 1, plan
    partial = [i for i, line in enumerate(plan) if "partial_count(" in line]
    assert partial and all(i > exchanges[0] for i in partial), plan
    assert not any("Sort" in line for line in plan), plan


def test_traces_dataset_projection_and_dispatch(spark, sf_dir):
    """dataset=traces raw-row output leads with the SPANS projection
    (timestamp, value, span.name, span.kind — BaseExpr.scala:44-45,212);
    unknown datasets raise like the reference's dispatch."""
    import pytest

    from lakeside_spark.schema import load_traces

    tr = load_traces(spark, sf_dir)
    assert {S.SPAN_NAME, S.SPAN_KIND, S.TIMESTAMP, S.VALUE} <= set(tr.columns)
    expr = BaseExpr(
        dataset=S.DATASET_TRACES,
        filter=Filter(k=S.SPAN_NAME, op=S.EXISTS),
        limit=10,
    )
    out = QueryEngine(spark).run(expr, tr)
    # canonical projection columns lead, in reference order
    assert out.columns[:4] == [S.TIMESTAMP, S.VALUE, S.SPAN_NAME, S.SPAN_KIND]
    rows = out.collect()
    assert len(rows) == 10
    kinds = {r[S.SPAN_KIND] for r in rows}
    assert kinds <= {"SERVER", "CLIENT", "INTERNAL"}
    with pytest.raises(ValueError, match="Invalid dataset"):
        S.dataset_projection_columns("spans")


def test_missing_column_filter_is_false(spark, sf_dir):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(filter=Filter(k="no_such_tag", v=("x",), op=S.EQ), limit=10)
    assert QueryEngine(spark).run(expr, tele).count() == 0


def test_tag_values(spark, sf_dir, ddb):
    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(filter=Filter(k=S.NAME, op=S.EXISTS))
    got = QueryEngine(spark).tag_values(expr, tele, S.NAME)
    exp = ddb.sql("SELECT event_type, count(*) FROM events GROUP BY 1").fetchall()
    assert rows_set(got) == {tuple(r) for r in exp}


def test_cardinality_sketch_rollup_accuracy(spark, sf_dir):
    """HLL sketch-merge rollup (hour sketches -> day union) stays within
    5% of the exact per-day distinct count — merging sketches must NOT
    double-count users appearing in many hours."""
    from lakeside_spark import schema as S
    from lakeside_spark.ast.model import BaseExpr, ChartOptions, Filter
    from lakeside_spark.engine import QueryEngine
    from lakeside_spark.schema import load_telemetry

    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=Filter(k=S.NAME, op=S.EXISTS),
        chart=ChartOptions(aggregation="ces", group_bys=("user_id",)),
    )
    est = {
        r[S.STEP_TS]: r[S.VALUE]
        for r in QueryEngine(spark).cardinality_sketch_rollup(
            expr, tele, ingest_step_ms=3_600_000, query_step_ms=86_400_000
        ).collect()
    }
    exact = {
        r[S.STEP_TS]: r[S.VALUE]
        for r in QueryEngine(spark, step_ms=86_400_000).run(expr, tele).collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) / max(v, 1.0) < 0.05, (k, est[k], v)


def test_percentile_sketch_rollup_accuracy(spark, sf_dir):
    """KLL sketch-merge p95 (hour sketches -> day merge) tracks the exact
    per-day p95 within KLL rank error (k=200 -> ~1.65% rank error; on a
    smooth value distribution that lands within a few percent in value)."""
    from pyspark.sql import functions as F

    from lakeside_spark import schema as S
    from lakeside_spark.ast.model import BaseExpr, ChartOptions, Filter
    from lakeside_spark.engine import QueryEngine
    from lakeside_spark.schema import load_telemetry

    tele = load_telemetry(spark, sf_dir)
    expr = BaseExpr(
        filter=Filter(k=S.NAME, v=("view", "click"), op=S.IN),
        chart=ChartOptions(aggregation="p95"),
    )
    est = {
        (r[S.STEP_TS], r[S.NAME]): r[S.VALUE]
        for r in QueryEngine(spark).percentile_sketch_rollup(
            expr, tele, ingest_step_ms=3_600_000, query_step_ms=86_400_000
        ).collect()
    }
    # KLL guarantees RANK error, not value error: assert the estimate's
    # rank inside each group's exact value set is ~0.95 (small groups make
    # rank granular, so the tolerance includes one order statistic)
    groups = {}
    rows = (
        tele.filter(F.col(S.NAME).isin("view", "click"))
        .select(
            (F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(86_400_000)).alias(S.STEP_TS),
            S.NAME,
            S.VALUE,
        )
        .collect()
    )
    for r in rows:
        groups.setdefault((r[S.STEP_TS], r[S.NAME]), []).append(r[S.VALUE])
    assert set(est) == set(groups)
    for k, vals in groups.items():
        rank = sum(1 for v in vals if v <= est[k]) / len(vals)
        tol = 0.05 + 1.5 / len(vals)
        assert abs(rank - 0.95) <= tol or rank == 1.0, (k, est[k], rank, len(vals))


def test_retention_sketch_tracks_exact(spark, sf_dir):
    from lakeside_spark.registry import QUERIES

    ex = {r["step_ts"]: r["retained"] for r in QUERIES["user_retention"](spark, sf_dir).collect()}
    sk = {r["step_ts"]: r["retained"] for r in QUERIES["user_retention_sketch"](spark, sf_dir).collect()}
    assert set(ex) == set(sk)
    for k, v in ex.items():
        assert abs(sk[k] - v) / max(v, 1.0) < 0.05, (k, sk[k], v)


def test_ddsketch_relative_error_contract(spark, sf_dir):
    """DDSketch guarantee: |est - true_q| <= alpha * |true_q| for the
    nearest-rank item — the reference's accuracy model (relative error),
    strictly stronger at the tails than KLL's rank-error bound."""
    import math

    import numpy as np
    from lakeside_spark.operators.ddsketch import ddsketch_buckets, ddsketch_quantile
    from lakeside_spark.schema import load_telemetry

    alpha = 0.01
    q = 0.95
    tele = load_telemetry(spark, sf_dir).filter(F.col(S.NAME).isNotNull())
    DAY = 86_400_000
    sketch = ddsketch_quantile(
        ddsketch_buckets(tele, step_ms=DAY, alpha=alpha), q=q, alpha=alpha
    )
    got = {(r[S.STEP_TS], r[S.NAME]): r[S.VALUE] for r in sketch.collect()}
    pdf = tele.select(S.TIMESTAMP, S.NAME, S.VALUE).toPandas()
    pdf["day"] = pdf[S.TIMESTAMP] - pdf[S.TIMESTAMP] % DAY
    assert got
    for (day, name), grp in pdf.groupby(["day", S.NAME]):
        vals = np.sort(grp[S.VALUE].to_numpy())
        true = vals[max(0, math.ceil(q * len(vals)) - 1)]
        est = got[(day, name)]
        assert abs(est - true) <= alpha * abs(true) + 1e-12, (day, name, est, true)


def test_ddsketch_merge_is_lossless(spark, sf_dir):
    """The sealed-segment rollup property: hourly sketches merged to daily
    equal sketches built at daily grain directly — exactly (counts add)."""
    from lakeside_spark.operators.ddsketch import ddsketch_buckets, ddsketch_merge
    from lakeside_spark.schema import load_telemetry

    tele = load_telemetry(spark, sf_dir).filter(F.col(S.NAME).isNotNull())
    HOUR, DAY = 3_600_000, 86_400_000
    merged = ddsketch_merge(ddsketch_buckets(tele, step_ms=HOUR), step_ms=DAY)
    direct = ddsketch_buckets(tele, step_ms=DAY)
    key = lambda r: (r[S.STEP_TS], r[S.NAME], r["bucket"], r["cnt"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == sorted(map(key, direct.collect()))


def test_ddsketch_multi_quantile_single_pass(spark, sf_dir):
    """p50/p95/p99 from one window pass agree with per-q extraction."""
    from lakeside_spark.operators.ddsketch import (
        ddsketch_buckets,
        ddsketch_quantile,
        ddsketch_quantiles,
    )
    from lakeside_spark.schema import load_telemetry

    DAY = 86_400_000
    tele = load_telemetry(spark, sf_dir).filter(F.col(S.NAME).isNotNull())
    buckets = ddsketch_buckets(tele, step_ms=DAY)
    multi = {
        (r[S.STEP_TS], r[S.NAME]): (r["p50"], r["p95"], r["p99"])
        for r in ddsketch_quantiles(buckets, (0.5, 0.95, 0.99)).collect()
    }
    for q, idx in ((0.5, 0), (0.95, 1), (0.99, 2)):
        single = {
            (r[S.STEP_TS], r[S.NAME]): r[S.VALUE]
            for r in ddsketch_quantile(buckets, q).collect()
        }
        for k, v in single.items():
            assert multi[k][idx] == pytest.approx(v, abs=1e-12), (q, k)


def test_run_graph_fused_matches_unfused_exactly(spark):
    """The fused single-scan path must reproduce per-branch group
    presence exactly: a step where only the OTHER branch matched stays
    missing (not zero), and values/aggregations agree with separate
    run() calls for every fusable aggregation — over the value column, a
    metrics rollup column and a named field whose nulls drop rows."""
    rows = [
        (0, "error", 1.0, 10.0, 4.0), (0, "error", 3.0, 30.0, None),  # step 0: only error
        (10_000, "ok", 5.0, 50.0, None),                              # step 1: only ok
        (20_000, "error", 2.0, 20.0, 8.0), (20_000, "ok", 7.0, 70.0, 6.0),  # step 2: both
    ]
    tele = spark.createDataFrame(
        rows,
        f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, "
        "rollup_sum double, took double",
    )
    eng = QueryEngine(spark, step_ms=10_000)
    fused_batches = []
    run_fused = eng._run_chart_fused
    eng._run_chart_fused = lambda batch, *a: (
        fused_batches.append({label for label, _ in batch}) or run_fused(batch, *a)
    )
    pairs = {
        "value": (S.DATASET_LOGS, {}),
        "rollup": (S.DATASET_METRICS, {"rollup": "sum"}),
        "field": (S.DATASET_LOGS, {"field_name": "took"}),
    }
    for kind, (dataset, opts) in pairs.items():
        for agg in ("count", "sum", "min", "max", "avg"):
            exprs = {
                label: BaseExpr(
                    dataset=dataset,
                    filter=Filter(k=S.NAME, v=(name,), op=S.EQ),
                    chart=ChartOptions(aggregation=agg, **opts),
                )
                for label, name in (("a", "error"), ("b", "ok"))
            }
            fused_batches.clear()
            fused = eng.run_graph(exprs, [], tele)
            assert fused_batches == [{"a", "b"}], (kind, agg)
            for label, e in exprs.items():
                assert rows_set(fused[label]) == rows_set(eng.run(e, tele)), (
                    kind, agg, label,
                )
    # presence check made explicit: branch a has no step-1 row at all
    got_a = rows_set(eng.run_graph(
        {
            "a": BaseExpr(
                filter=Filter(k=S.NAME, v=("error",), op=S.EQ),
                chart=ChartOptions(aggregation="count"),
            ),
            "b": BaseExpr(
                filter=Filter(k=S.NAME, v=("ok",), op=S.EQ),
                chart=ChartOptions(aggregation="count"),
            ),
        },
        [],
        tele,
    )["a"])
    assert {r[0] for r in got_a} == {0, 20_000}
    # the field's NOT NULL guard joins the branch condition: b's only
    # step-1 row has a null field, so b has no step-1 row either
    got_b = rows_set(eng.run_graph(
        {
            label: BaseExpr(
                filter=Filter(k=S.NAME, v=(name,), op=S.EQ),
                chart=ChartOptions(aggregation="count", field_name="took"),
            )
            for label, name in (("a", "error"), ("b", "ok"))
        },
        [],
        tele,
    )["b"])
    assert got_b == {(20_000, "ok", 1.0)}


def _keyed(rows, measure_cols):
    """{chart key: {measure column: value}} of collected chart rows."""
    out = {}
    for r in rows:
        d = r.asDict()
        out[tuple(sorted((k, v) for k, v in d.items() if k not in measure_cols))] = {
            c: d[c] for c in measure_cols
        }
    return out


def _runs_merged(eng, expr, df, aggs):
    """run() once per aggregation, merged on the chart keys — multi_agg's
    definition (the benchmark twin builds it the same way)."""
    merged = {}
    for a in aggs:
        e = dataclasses.replace(expr, chart=dataclasses.replace(expr.chart, aggregation=a))
        for keys, m in _keyed(eng.run(e, df).collect(), [S.VALUE]).items():
            merged.setdefault(keys, {})[f"{a}_value"] = m[S.VALUE]
    return merged


_MULTI_AGG_CASES = {
    # metrics arrive pre-rolled-up: every measure aggregates rollup_sum
    "metrics_rollup": (
        [(0, "cpu", 1.0, 10.0, None), (1_000, "cpu", 2.0, 30.0, None)],
        BaseExpr(
            dataset=S.DATASET_METRICS,
            chart=ChartOptions(aggregation="sum", rollup="sum"),
        ),
    ),
    # a group whose field is null everywhere is not charted
    "field_with_nulls": (
        [(0, "a", 1.0, None, 5.0), (0, "b", 2.0, None, None)],
        BaseExpr(chart=ChartOptions(aggregation="sum", field_name="took")),
    ),
}


@pytest.mark.parametrize("case", sorted(_MULTI_AGG_CASES))
def test_multi_agg_equals_run_per_aggregation(spark, case):
    rows, expr = _MULTI_AGG_CASES[case]
    df = spark.createDataFrame(
        rows,
        f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, "
        "rollup_sum double, took double",
    )
    eng = QueryEngine(spark, step_ms=10_000)
    aggs = ("sum", "avg", "min", "max", "count")
    got = _keyed(eng.multi_agg(expr, df, aggs).collect(), [f"{a}_value" for a in aggs])
    assert got == _runs_merged(eng, expr, df, aggs)
    assert got, case


def test_multi_agg_ces_alone_equals_run_and_mixed_raises(spark):
    df = spark.createDataFrame(
        [(0, "a", 1.0, "u1"), (1_000, "b", 2.0, "u2")],
        f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, user_id string",
    )
    expr = BaseExpr(chart=ChartOptions(aggregation="ces", group_bys=("user_id",)))
    eng = QueryEngine(spark, step_ms=10_000)
    assert _keyed(eng.multi_agg(expr, df, ("ces",)).collect(), ["ces_value"]) == {
        k: {"ces_value": m[S.VALUE]}
        for k, m in _keyed(eng.run(expr, df).collect(), [S.VALUE]).items()
    } == {((S.STEP_TS, 0),): {"ces_value": 2.0}}
    with pytest.raises(ValueError, match="ces"):
        eng.multi_agg(expr, df, ("ces", "count"))


def test_multi_agg_is_one_scan_and_one_exchange(spark, sf_dir):
    """Four aggregations of one chart share one scan and one shuffle."""
    expr = BaseExpr(chart=ChartOptions(group_bys=("user_id",)))
    plan = (
        QueryEngine(spark)
        .multi_agg(expr, load_telemetry(spark, sf_dir), ("sum", "avg", "min", "max"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
    )
    assert sum("Scan " in line for line in plan) == 1, plan
    assert sum("Exchange" in line for line in plan) == 1, plan


def _graph_request():
    """Two labels (p95 + ces, neither fusable) and a formula over both."""
    exprs = {
        "a": BaseExpr(
            filter=Filter(k=S.NAME, v=("error",), op=S.EQ),
            chart=ChartOptions(aggregation="p95", group_bys=("user_id",)),
        ),
        "b": BaseExpr(
            filter=Filter(k=S.NAME, op=S.EXISTS),
            chart=ChartOptions(aggregation="ces", group_bys=("user_id",)),
        ),
    }
    return exprs, ["a / b", "a + b"]


def test_run_graph_label_frames_collect_without_jobs(spark, sf_dir):
    """run_graph computes each label once: collecting every label frame
    afterwards starts no Spark job (status-store count), and every output
    equals per-label run() and eval_formula over lazy frames."""
    from lakeside_spark.ast.formula import eval_formula, parse_formula

    tele = load_telemetry(spark, sf_dir)
    exprs, formulae = _graph_request()
    eng = QueryEngine(spark, step_ms=3_600_000)
    out = eng.run_graph(exprs, formulae, tele)
    sc = spark.sparkContext
    sc.setJobGroup("run_graph_labels", "collect label frames")
    try:
        labels = {label: out[label].collect() for label in exprs}
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("run_graph_labels")) == []
    lazy = {label: eng.run(e, tele) for label, e in exprs.items()}
    for label in exprs:
        assert labels[label], label
        assert {tuple(r) for r in labels[label]} == rows_set(lazy[label]), label
        assert out[label].schema == lazy[label].schema, label
    series = {
        label: s.groupBy(S.STEP_TS).agg(F.sum(S.VALUE).alias(S.VALUE))
        for label, s in lazy.items()
    }
    for f in formulae:
        assert rows_set(out[f]) == rows_set(eval_formula(parse_formula(f), series)), f


def test_run_graph_empty_window_keeps_columns(spark, sf_dir):
    """A window with no rows yields empty frames with the lazy plan's
    columns and types (the driver-held result round-trips zero rows)."""
    tele = load_telemetry(spark, sf_dir)
    exprs, formulae = _graph_request()
    exprs["c"] = BaseExpr(
        filter=Filter(k=S.NAME, v=("error",), op=S.EQ),
        chart=ChartOptions(aggregation="sum"),
    )
    exprs["d"] = BaseExpr(
        filter=Filter(k=S.NAME, v=("ok",), op=S.EQ),
        chart=ChartOptions(aggregation="count"),
    )
    eng = QueryEngine(spark, step_ms=3_600_000)
    out = eng.run_graph(exprs, formulae, tele, start_ts=0, end_ts=1)
    for label, e in exprs.items():
        lazy = eng.run(e, tele, start_ts=0, end_ts=1)
        assert out[label].collect() == [], label
        assert out[label].schema == lazy.schema, label
    for f in formulae:
        assert out[f].collect() == [] and S.VALUE in out[f].columns, f


# ---------------------------------------------------------------------------
# edge inputs: every entry point on zero rows, one row and all-null columns

_EDGE_SCHEMA = (
    f"{S.TIMESTAMP} long, {S.NAME} string, {S.VALUE} double, "
    f"{S.MESSAGE} string, user_id string"
)
_EDGE_ROWS = {
    "zero_rows": [],
    "one_row": [(0, "error", 1.0, "status=500", "u1")],
    "all_null": [(0, None, None, None, None), (10_000, None, None, None, None)],
}
_EVERY_ROW = Filter(k=S.TIMESTAMP, op=S.EXISTS)


def _chart(agg, group_bys=("user_id",)):
    return BaseExpr(filter=_EVERY_ROW, chart=ChartOptions(aggregation=agg, group_bys=group_bys))


_CHART = [S.STEP_TS, S.NAME, "user_id", S.VALUE]
_EDGE_CALLS = {
    "run_chart": (lambda eng, df: eng.run(_chart("avg"), df), _CHART),
    "run_exemplar": (
        lambda eng, df: eng.run(BaseExpr(filter=_EVERY_ROW, limit=5), df),
        [S.TIMESTAMP, S.VALUE, S.NAME, S.MESSAGE, "user_id"],
    ),
    "multi_agg": (
        lambda eng, df: eng.multi_agg(_chart("sum"), df, ("sum", "p95")),
        [S.STEP_TS, S.NAME, "user_id", "sum_value", "p95_value"],
    ),
    "run_graph_fused": (
        lambda eng, df: eng.run_graph({"a": _chart("sum"), "b": _chart("count")}, [], df)["b"],
        _CHART,
    ),
    "run_graph_solo": (
        lambda eng, df: eng.run_graph({"a": _chart("p95")}, [], df)["a"], _CHART,
    ),
    "run_graph_formula": (
        lambda eng, df: eng.run_graph(
            {"a": _chart("max"), "b": _chart("ces")}, ["a / b"], df
        )["a / b"],
        [S.STEP_TS, S.VALUE],
    ),
    "query_cardinality": (
        lambda eng, df: eng.query_cardinality(_chart("count"), df), [S.VALUE],
    ),
    "cardinality_sketch_rollup": (
        lambda eng, df: eng.cardinality_sketch_rollup(_chart("count"), df, 10_000, 20_000),
        [S.STEP_TS, S.VALUE],
    ),
    "percentile_sketch_rollup": (
        lambda eng, df: eng.percentile_sketch_rollup(_chart("count"), df, 10_000, 20_000),
        [S.STEP_TS, S.NAME, S.VALUE],
    ),
    "tag_names": (
        lambda eng, df: eng.tag_names(BaseExpr(filter=_EVERY_ROW), df), ["tag_name", "count"],
    ),
    "tag_values": (
        lambda eng, df: eng.tag_values(BaseExpr(filter=_EVERY_ROW), df, "user_id"),
        ["user_id", "count"],
    ),
    "scope_tags": (
        lambda eng, df: eng.scope_tags(df, ("user_id", "host")), ["tag_name", "n_values"],
    ),
}


@pytest.mark.parametrize("rows", sorted(_EDGE_ROWS))
@pytest.mark.parametrize("call", sorted(_EDGE_CALLS))
def test_entry_points_on_edge_inputs(spark, call, rows):
    """Every QueryEngine entry point returns its documented columns, and
    no rows where there is nothing to report, without raising."""
    build, columns = _EDGE_CALLS[call]
    df = spark.createDataFrame(_EDGE_ROWS[rows], _EDGE_SCHEMA)
    out = build(QueryEngine(spark, step_ms=10_000), df)
    assert out.columns == columns
    got = out.collect()
    if rows == "zero_rows" and call != "query_cardinality":
        assert got == []
    if call == "query_cardinality":
        assert len(got) == 1
