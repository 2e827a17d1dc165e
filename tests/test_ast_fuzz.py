"""Property-based AST→plan compiler fuzz (SURVEY §5).

The fixed registry keys pin hand-picked ASTs; this sweep generates
hundreds of random filter trees, compute DAGs and formula expressions,
compiles each BOTH ways — Spark DataFrame plan (ast/filters, ast/compute,
engine) and DuckDB SQL (ast/sqlgen, the getChartSql twin) — and requires
value-identical results, mirroring the reference's own JSON→SQL
generation tests (core/src/test/.../ast) at property-test scale.

Seeded RNG: every trial is reproducible; failures report the trial index
and the generated AST/SQL so a mismatch can be committed as a fixed
regression key.
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast import sqlgen
from lakeside_spark.ast.model import (
    BaseExpr,
    BinaryClause,
    ChartOptions,
    Compute,
    ExtractedField,
    Extractor,
    Filter,
    FunctionCall,
    Label,
    Literal,
    NotClause,
)
from lakeside_spark.engine import QueryEngine
from lakeside_spark.registry import DAY, load_telemetry

_T = (
    "(SELECT epoch_ms(ts) AS timestamp_ms, event_type AS name, value, "
    "props AS message, CAST(user_id AS VARCHAR) AS user_id, event_id "
    "FROM events)"
)
_EXISTING = {"timestamp_ms", "name", "value", "message", "user_id", "event_id"}

N_FILTER = 120
N_COMPUTE = 50
N_FORMULA = 50
N_EXTRACT = 40


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _key_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _assert_match(sdf, con, sql, ctx):
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(sql)
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns), (
        f"{ctx}\ncolumns: {sdf.columns} vs {rel.columns}"
    )
    assert len(srows) == len(drows), (
        f"{ctx}\nrow counts: {len(srows)} vs {len(drows)}\nSQL: {sql}"
    )
    assert _key_rows(sdf.columns, srows) == _key_rows(rel.columns, drows), (
        f"{ctx}\nvalues differ\nSQL: {sql}"
    )


# ---------------------------------------------------------------------------
# generators


_NAMES = ["purchase", "click", "view", "signup", "error", "nosuch"]
_USERS = [str(i) for i in range(0, 25)] + ["999"]
_FRAGMENTS = ['"k"', "1", "2", ": 1", "k", '"k": 4']
_REGEXES = ['"k": [0-9]+', "1[0-9]", "[0-9]+\\}$", "^\\{", "[02468]"]
_THRESHOLDS = ["0", "5", "50", "100", "250", "499.5", "123.25"]


def _leaf(rng: random.Random) -> Filter:
    kind = rng.random()
    if kind < 0.05:
        # filter on a column that does not exist anywhere → FALSE
        return Filter(k="no_such_tag", v=("x",), op=rng.choice((S.EQ, S.GT)))
    if kind < 0.30:
        col = rng.choice((S.NAME, "user_id"))
        pool = _NAMES if col == S.NAME else _USERS
        op = rng.choice((S.EQ, S.NOT_EQUALS, S.IN, S.NOT_IN, S.HAS))
        if op in (S.IN, S.NOT_IN):
            return Filter(k=col, v=tuple(rng.sample(pool, rng.randint(1, 3))), op=op)
        if op == S.HAS:
            return Filter(k=col, op=op)
        return Filter(k=col, v=(rng.choice(pool),), op=op)
    if kind < 0.55:
        op = rng.choice((S.CONTAINS, S.REGEX, S.EXISTS, S.EQ))
        if op == S.CONTAINS:
            return Filter(k=S.MESSAGE, v=(rng.choice(_FRAGMENTS),), op=op)
        if op == S.REGEX:
            return Filter(k=S.MESSAGE, v=(rng.choice(_REGEXES),), op=op)
        if op == S.EXISTS:
            return Filter(k=S.MESSAGE, op=op)
        return Filter(k=S.MESSAGE, v=('{"k": 7}',), op=op)
    if kind < 0.93:
        op = rng.choice((S.GT, S.GE, S.LT, S.LE))
        return Filter(
            k=S.VALUE, v=(rng.choice(_THRESHOLDS),), op=op,
            data_type=S.NUMBER_TYPE,
        )
    # quantity-normalized range: both engines compare the SAME
    # parse_quantity literal (duration → ns, datasize → bytes)
    dt = rng.choice((S.DURATION_TYPE, S.DATA_SIZE_TYPE))
    v = rng.choice(("5s", "2ms", "1m")) if dt == S.DURATION_TYPE else rng.choice(
        ("1kb", "200b", "3mb")
    )
    return Filter(k=S.VALUE, v=(v,), op=rng.choice((S.GT, S.LE)), data_type=dt)


def _clause(rng: random.Random, depth: int):
    if depth <= 0 or rng.random() < 0.35:
        return _leaf(rng)
    if rng.random() < 0.25:
        return NotClause(_clause(rng, depth - 1))
    return BinaryClause(
        _clause(rng, depth - 1), _clause(rng, depth - 1),
        rng.choice(("and", "or")),
    )


def _numeric_dag(rng: random.Random, depth: int):
    if depth <= 0 or rng.random() < 0.30:
        if rng.random() < 0.5:
            return Label(S.VALUE, S.NUMBER_TYPE)
        return Literal(rng.randint(1, 9), S.NUMBER_TYPE)
    name = rng.choice(("mul", "add", "sub", "div", "strpos"))
    if name in ("mul", "add"):
        return FunctionCall(
            name,
            tuple(_numeric_dag(rng, depth - 1) for _ in range(rng.randint(2, 3))),
        )
    if name == "sub":
        return FunctionCall(
            "sub", (_numeric_dag(rng, depth - 1), _numeric_dag(rng, depth - 1))
        )
    if name == "div":
        # literal non-zero denominator: compute-DAG division semantics
        # are IEEE in both engines, but a data-dependent zero denominator
        # belongs to the FORMULA engine's missing-row contract, not here
        return FunctionCall(
            "div", (_numeric_dag(rng, depth - 1), Literal(rng.randint(2, 9), S.NUMBER_TYPE))
        )
    return FunctionCall(
        "strpos",
        (Literal(rng.choice(("7", "1", "k", '"')), S.STRING_TYPE),
         _string_dag(rng, depth - 1)),
    )


def _string_dag(rng: random.Random, depth: int):
    if depth <= 0 or rng.random() < 0.5:
        return rng.choice(
            (Label(S.MESSAGE), Label(S.NAME), Literal("x7", S.STRING_TYPE))
        )
    return FunctionCall(
        "concat",
        tuple(_string_dag(rng, depth - 1) for _ in range(rng.randint(2, 3))),
    )


def _formula_str(rng: random.Random, depth: int) -> str:
    if depth <= 0 or rng.random() < 0.40:
        return rng.choice(("a", "b", "2", "100", "0", "0.5"))
    op = rng.choice("+-*/")
    left = _formula_str(rng, depth - 1)
    right = _formula_str(rng, depth - 1)
    if op == "/" and not any(c.isalpha() for c in left + right):
        right = "a"  # const/const division: keep a series in the tree
    return f"({left} {op} {right})"


# ---------------------------------------------------------------------------
# the three sweeps


def test_fuzz_filter_trees(spark, sf_dir, ddb):
    """Random eq/in/contains/regex/range/has trees nested under
    and/or/not to depth 4, run as exemplars AND as chart aggregations."""
    rng = random.Random(1083)
    tele = load_telemetry(spark, sf_dir)
    eng = QueryEngine(spark, step_ms=DAY)
    for i in range(N_FILTER):
        clause = _clause(rng, 4)
        if i % 2 == 0:
            expr = BaseExpr(
                filter=clause, limit=rng.choice((50, 200, 1000)),
                order=rng.choice(("DESC", "ASC")),
            )
            sdf = eng.run(expr, tele)
            sql = sqlgen.exemplar_sql(expr, _T, _EXISTING)
        else:
            expr = BaseExpr(
                filter=clause,
                chart=ChartOptions(
                    aggregation=rng.choice(
                        ("count", "sum", "avg", "min", "max", "p50", "p95")
                    ),
                    group_bys=rng.choice(((), ("user_id",))),
                    chart_type=rng.choice(("count", "count", "rate")),
                ),
            )
            sdf = eng.run(expr, tele).withColumn(
                S.VALUE, F.round(F.col(S.VALUE), 6)
            )
            sql = sqlgen.chart_sql(expr, _T, DAY, _EXISTING)
        _assert_match(sdf, ddb, sql, f"filter trial {i}: {expr.filter}")


def test_fuzz_compute_dags(spark, sf_dir, ddb):
    """Random mul/div/add/sub/concat/strpos DAGs as the computed chart
    field, with the per-label IS NOT NULL guards both engines share."""
    rng = random.Random(2083)
    tele = load_telemetry(spark, sf_dir)
    eng = QueryEngine(spark, step_ms=DAY)
    for i in range(N_COMPUTE):
        fc = _numeric_dag(rng, 3)
        if isinstance(fc, (Label, Literal)):  # degenerate roll: wrap it
            fc = FunctionCall("add", (fc, Literal(1, S.NUMBER_TYPE)))
        expr = BaseExpr(
            filter=Filter(k="score", op=S.EXISTS, computed=True),
            compute=Compute(label_name="score", function_call=fc),
            chart=ChartOptions(
                aggregation=rng.choice(("avg", "sum", "min", "max")),
                field_name="score",
                field_type=S.NUMBER_TYPE,
            ),
        )
        sdf = eng.run(expr, tele).withColumn(S.VALUE, F.round(F.col(S.VALUE), 6))
        sql = sqlgen.chart_sql(expr, _T, DAY, _EXISTING)
        _assert_match(sdf, ddb, sql, f"compute trial {i}: {fc}")


def test_fuzz_formula_expressions(spark, sf_dir, ddb):
    """Random formulae over two chart branches, including zero
    denominators (missing-row semantics) and constant folding."""
    rng = random.Random(3083)
    tele = load_telemetry(spark, sf_dir)
    eng = QueryEngine(spark, step_ms=DAY)
    from lakeside_spark.ast.formula import formula_labels, parse_formula

    for i in range(N_FORMULA):
        branches = {}
        branch_sql = {}
        for label in ("a", "b"):
            clause = _clause(rng, 2)
            agg = rng.choice(("count", "count", "sum"))
            branches[label] = BaseExpr(
                filter=clause, chart=ChartOptions(aggregation=agg)
            )
            w = sqlgen.clause_to_sql(clause, _EXISTING)
            fn = "COUNT" if agg == "count" else "SUM"
            # run_graph's formula input is the per-step global sum of the
            # chart series — for count/sum branches that equals the
            # direct per-step aggregate
            branch_sql[label] = (
                f"SELECT timestamp_ms - timestamp_ms % {DAY} AS step_ts, "
                f"CAST({fn}(value) AS DOUBLE) AS value FROM {_T} "
                f"WHERE {w} GROUP BY 1"
            )
        while True:
            fstr = _formula_str(rng, 3)
            if any(c in fstr for c in "ab"):
                break
        out = eng.run_graph(branches, [fstr], tele)[fstr].withColumn(
            S.VALUE, F.round(F.col(S.VALUE), 6)
        )
        sql = sqlgen.formula_sql(parse_formula(fstr), branch_sql)
        assert formula_labels(parse_formula(fstr)) <= {"a", "b"}
        _assert_match(out, ddb, sql, f"formula trial {i}: {fstr}")


def test_formula_constant_div_by_zero_raises_in_both_twins():
    """A constant-folded zero denominator must fail identically in the
    engine (eval_formula's Python fold) and the SQL emitter — the
    emitter used to fold it to NaN and emit invalid SQL
    (CAST(nan AS DOUBLE)), silently diverging on this branch."""
    import pytest

    from lakeside_spark.ast import sqlgen
    from lakeside_spark.ast.formula import eval_formula, parse_formula

    ast = parse_formula("(1 / (3 - 3)) + a")
    with pytest.raises(ZeroDivisionError):
        sqlgen.formula_sql(ast, {"a": "SELECT 1 AS step_ts, 1.0 AS value"})
    with pytest.raises(ZeroDivisionError):
        eval_formula(ast, {})


# ---------------------------------------------------------------------------
# extractor-stage sweep (the remaining AST surface: getExtractSql /
# RegexpStage parity — random named-group extractions feeding filters,
# aggregations and group-bys)

_EXTRACT_POOL = [
    ('"k": ([0-9]+)', (("kn", S.NUMBER_TYPE),)),
    ('"k": (1[0-9]+)', (("kn", S.NUMBER_TYPE),)),  # partial match: gate drops the rest
    ('([0-9]+)\\}$', (("kn", S.NUMBER_TYPE),)),
    ('"k": ([0-9])([0-9]+)', (("d1", S.STRING_TYPE), ("rest", S.NUMBER_TYPE))),
    ('\\{("k"): ([0-9]+)', (("tag", S.STRING_TYPE), ("kn", S.NUMBER_TYPE))),
    ('"k": ([02468]+)', (("kn", S.NUMBER_TYPE),)),
]


def test_fuzz_extract_stage(spark, sf_dir, ddb):
    """Random regex named-field extractions over the message column,
    used three ways — as the aggregated chart field, as a numeric range
    filter, and as a synthetic group-by tag — value-checked against the
    sqlgen staging emitter. Number-typed groups always use [0-9]+ (an
    empty match would CAST('' AS DOUBLE) = error in DuckDB vs NULL in
    Spark — a semantics hole, not an engine bug)."""
    rng = random.Random(3083)
    tele = load_telemetry(spark, sf_dir)
    eng = QueryEngine(spark, step_ms=DAY)
    for i in range(N_EXTRACT):
        regex, fields = rng.choice(_EXTRACT_POOL)
        ext = Extractor(
            regex=regex,
            fields=tuple(ExtractedField(n, t) for n, t in fields),
        )
        num_fields = [n for n, t in fields if t == S.NUMBER_TYPE]
        str_fields = [n for n, t in fields if t == S.STRING_TYPE]
        roll = rng.random()
        if roll < 0.4 and num_fields:
            fname = rng.choice(num_fields)
            flt = Filter(k=fname, op=S.EXISTS, extracted=True)
            chart = ChartOptions(
                aggregation=rng.choice(("avg", "sum", "min", "max")),
                field_name=fname, field_type=S.NUMBER_TYPE,
            )
        elif roll < 0.7 and num_fields:
            fname = rng.choice(num_fields)
            flt = Filter(
                k=fname, v=(rng.choice(("10", "50", "80")),),
                op=rng.choice((S.GT, S.LE)), extracted=True,
                data_type=S.NUMBER_TYPE,
            )
            chart = ChartOptions(aggregation="count")
        else:
            gname = rng.choice(str_fields or [n for n, _ in fields])
            flt = Filter(k=gname, op=S.EXISTS, extracted=True)
            chart = ChartOptions(aggregation="count", group_bys=(gname,))
        expr = BaseExpr(filter=flt, extractor=ext, chart=chart)
        sdf = eng.run(expr, tele).withColumn(S.VALUE, F.round(F.col(S.VALUE), 6))
        sql = sqlgen.chart_sql(expr, _T, DAY, _EXISTING)
        _assert_match(sdf, ddb, sql, f"extract trial {i}: {regex} {flt}")


# ---------------------------------------------------------------------------
# chart-surface sweep (the full getChartSql matrix: every aggregation ×
# group-by sets × step sizes × rate↔count transform ASTUtils.scala:190-219
# × metrics rollup re-aggregation BaseExpr.scala:376-395 — the one
# compiler path the filter/compute/extract sweeps reach only at fixed
# step/agg choices)

N_CHART_EVENTS = 150
N_CHART_METRICS = 60

_CHART_AGGS = (
    "count", "sum", "avg", "min", "max",
    "p10", "p25", "p50", "p75", "p90", "p95", "p99", "p99.9", "p0.5",
    "ces",
)
_CHART_STEPS = (3_600_000, 21_600_000, DAY, 97_000)

_HOUR = 3_600_000
_TM = (
    f"(SELECT timestamp_ms - timestamp_ms % {_HOUR} AS timestamp_ms, name, "
    f"SUM(value) AS rollup_sum, COUNT(value) AS rollup_count, "
    f"MIN(value) AS rollup_min, MAX(value) AS rollup_max "
    f"FROM {_T} GROUP BY 1, 2)"
)
_M_EXISTING = {
    "timestamp_ms", "name",
    "rollup_sum", "rollup_count", "rollup_min", "rollup_max",
}


def _assert_chart_match(sdf, con, sql, ctx):
    """Exact on keys; value matches to one ulp at the round(6) grain —
    the normalized-field ÷ rate-transform stack (user_id/1000/3600)
    lands true values ON rounding ties, where Spark's BigDecimal
    HALF_UP and DuckDB's ROUND legitimately split a last-digit ulp."""
    rel = con.sql(sql)
    assert sorted(sdf.columns) == sorted(rel.columns), (
        f"{ctx}\ncolumns: {sdf.columns} vs {rel.columns}"
    )

    def keyed(cols, rows):
        keycols = sorted(c for c in cols if c != S.VALUE)
        vi = cols.index(S.VALUE)
        return {
            tuple(_norm(r[cols.index(c)]) for c in keycols): r[vi] for r in rows
        }

    sv = keyed(sdf.columns, [tuple(r) for r in sdf.collect()])
    dv = keyed(list(rel.columns), rel.fetchall())
    assert set(sv) == set(dv), (
        f"{ctx}\nkey sets differ: {sorted(set(sv) ^ set(dv))[:5]}\nSQL: {sql}"
    )
    for k, s in sv.items():
        d = dv[k]
        if s is None or d is None:
            assert s is None and d is None, f"{ctx}\n{k}: {s} vs {d}\nSQL: {sql}"
        else:
            assert math.isclose(s, d, rel_tol=1e-12, abs_tol=1.5e-6), (
                f"{ctx}\n{k}: {s} vs {d}\nSQL: {sql}"
            )


def test_fuzz_chart_surface_events(spark, sf_dir, ddb):
    """Random chart ASTs over the raw-events dataset: aggregation pool
    including decimal percentiles and ces, optional normalized field
    target (duration ns→ms / datasize →KB), group-by sets, four step
    sizes and the count↔rate transform."""
    rng = random.Random(4083)
    tele = load_telemetry(spark, sf_dir)
    for i in range(N_CHART_EVENTS):
        step = rng.choice(_CHART_STEPS)
        rng.randrange(4)  # keeps seed 4083's trial sequence
        agg = rng.choice(_CHART_AGGS)
        roll = rng.random()
        if roll < 0.70:
            fname, ftype = None, None
        else:
            fname = "user_id"  # digit strings: casts cleanly to double
            ftype = rng.choice((S.NUMBER_TYPE, S.DURATION_TYPE, S.DATA_SIZE_TYPE))
        group_bys = rng.choice(((), (), ("user_id",)))
        if fname == "user_id" and group_bys:
            group_bys = ()  # grouping by the aggregated field is degenerate
        expr = BaseExpr(
            filter=_clause(rng, 2),
            chart=ChartOptions(
                aggregation=agg,
                group_bys=group_bys,
                chart_type=rng.choice(("count", "rate")),
                field_name=fname,
                field_type=ftype,
            ),
        )
        eng = QueryEngine(spark, step_ms=step)
        sdf = eng.run(expr, tele).withColumn(S.VALUE, F.round(F.col(S.VALUE), 6))
        sql = sqlgen.chart_sql(expr, _T, step, _EXISTING)
        _assert_chart_match(
            sdf, ddb, sql,
            f"chart trial {i}: agg={agg} step={step} "
            f"field={fname}/{ftype} groups={group_bys} "
            f"type={expr.chart.chart_type} filter={expr.filter}",
        )


def test_fuzz_chart_surface_metrics(spark, sf_dir, ddb):
    """Random chart ASTs over the METRICS dataset: ingest-side rollup_*
    columns re-aggregated at the query step, with the metrics-specific
    chart_type × metric_type rate↔count normalization matrix (the one
    transform branch the events sweep cannot reach)."""
    rng = random.Random(5083)
    tele = load_telemetry(spark, sf_dir)
    metrics = tele.groupBy(
        (F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(_HOUR)).alias(S.TIMESTAMP),
        F.col(S.NAME),
    ).agg(
        F.sum(S.VALUE).alias("rollup_sum"),
        F.count(S.VALUE).alias("rollup_count"),
        F.min(S.VALUE).alias("rollup_min"),
        F.max(S.VALUE).alias("rollup_max"),
    )
    for i in range(N_CHART_METRICS):
        step = rng.choice((DAY, 21_600_000))
        name_filter = rng.choice((
            Filter(k=S.NAME, op=S.EXISTS),
            Filter(k=S.NAME, v=("purchase", "click"), op=S.IN),
            Filter(k=S.NAME, v=("error",), op=S.NOT_EQUALS),
        ))
        # ~20% of trials ALSO set field_name alongside the rollup: the
        # engine filters the field NOT NULL even though the rollup column
        # stays the aggregation target — a twin-coverage hole caught in
        # the r10 review (engine 40.0 vs twin 60.0 on NULL-field rows)
        fname = rng.choice((None, None, None, None, "rollup_min"))
        expr = BaseExpr(
            dataset=S.DATASET_METRICS,
            filter=name_filter,
            metric_type=rng.choice(("rate", "count", "gauge")),
            chart=ChartOptions(
                aggregation=rng.choice(("sum", "avg", "min", "max", "count")),
                rollup=rng.choice(("sum", "count", "min", "max")),
                chart_type=rng.choice(("count", "rate")),
                field_name=fname,
                field_type=S.NUMBER_TYPE if fname else None,
            ),
        )
        rng.randrange(2)  # keeps seed 5083's trial sequence
        eng = QueryEngine(spark, step_ms=step)
        sdf = eng.run(expr, metrics).withColumn(S.VALUE, F.round(F.col(S.VALUE), 6))
        sql = sqlgen.chart_sql(expr, _TM, step, _M_EXISTING)
        _assert_chart_match(
            sdf, ddb, sql,
            f"metrics chart trial {i}: agg={expr.chart.aggregation} "
            f"rollup={expr.chart.rollup} ct={expr.chart.chart_type} "
            f"mt={expr.metric_type} step={step} filter={name_filter}",
        )


# ---------------------------------------------------------------------------
# sketch-path sweep (r10 verdict item 8): the chart sweep above fuzzes
# the EXACT aggregation matrix; this one drives the two approx rollup
# paths (HLL cardinality, KLL percentile — the reference's
# TimeGroupedSketchAggregator merge semantics) across randomized
# filters, ingest/query grains and quantiles, asserting each estimate
# within its declared error of the exact twin computed on the SAME
# filtered frame.

N_SKETCH = 6
_HOUR_MS = 3_600_000


def test_fuzz_chart_sketch_paths(spark, sf_dir):
    from lakeside_spark.ast.filters import filter_to_column

    rng = random.Random(6083)
    tele = load_telemetry(spark, sf_dir)
    filters = (
        Filter(k=S.NAME, op=S.EXISTS),
        Filter(k=S.NAME, v=("view", "click"), op=S.IN),
        Filter(k=S.NAME, v=("error",), op=S.NOT_EQUALS),
    )
    grains = ((_HOUR_MS, DAY), (2 * _HOUR_MS, DAY), (_HOUR_MS, 6 * _HOUR_MS))
    for i in range(N_SKETCH):
        flt = rng.choice(filters)
        ingest, query = rng.choice(grains)
        expr = BaseExpr(filter=flt, chart=ChartOptions(aggregation="count"))
        eng = QueryEngine(spark, step_ms=query)
        filtered = tele.filter(filter_to_column(flt, set(tele.columns)))
        step = (F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(query)).alias(
            S.STEP_TS
        )

        # HLL cardinality: ingest-grain sketches union-merged to query
        # grain must land within 5% of exact distinct names per step
        # (default lgConfigK=12 -> ~1.6% standard error; 5% = the bound
        # the ts_cardinality_sketch accuracy pytest declares)
        est = {
            r[S.STEP_TS]: r[S.VALUE]
            for r in eng.cardinality_sketch_rollup(
                expr, tele, ingest, query
            ).collect()
        }
        exact = {
            r[S.STEP_TS]: r["v"]
            for r in filtered.groupBy(step)
            .agg(F.count_distinct(S.NAME).alias("v"))
            .collect()
        }
        assert set(est) == set(exact), f"sketch trial {i}: step keys differ"
        for k, v in exact.items():
            assert abs(est[k] - v) <= max(0.05 * v, 1.0), (
                f"sketch trial {i} (card): step {k} est {est[k]} exact {v}"
            )

        # KLL percentile: the merged estimate's EMPIRICAL rank within its
        # (step, name) group must sit within ±6% of the requested rank
        # (default k=200 -> ~1.7% double-sided rank error, plus merge
        # slack). Rank, not value: KLL returns actual data values, so a
        # value-interval assertion breaks on small/discrete groups where
        # interpolated exact percentiles fall between data points.
        q = rng.choice((0.5, 0.9, 0.95))
        est_df = eng.percentile_sketch_rollup(
            expr, tele, ingest, query, quantile=q
        ).select(S.STEP_TS, S.NAME, F.col(S.VALUE).alias("est"))
        ranks = (
            filtered.select(
                step, S.NAME, F.col(S.VALUE).cast("double").alias("v")
            )
            .join(est_df, [S.STEP_TS, S.NAME])
            .groupBy(S.STEP_TS, S.NAME)
            .agg(
                (
                    F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
                    / F.count(F.lit(1))
                ).alias("r_le"),
                (
                    F.sum(F.when(F.col("v") < F.col("est"), 1).otherwise(0))
                    / F.count(F.lit(1))
                ).alias("r_lt"),
            )
            .collect()
        )
        assert ranks, f"sketch trial {i}: empty percentile join"
        for r in ranks:
            assert r["r_le"] >= q - 0.06 and r["r_lt"] <= q + 0.06, (
                f"sketch trial {i} (p{q}): key ({r[S.STEP_TS]}, {r[S.NAME]}) "
                f"rank window [{r['r_lt']}, {r['r_le']}] misses {q}"
            )


# ---------------------------------------------------------------------------
# tag/catalog surface sweep (r12, the round-11 verdict's fuzz item: the
# chart/extract/sketch surfaces were fuzzed; the tag catalog paths
# relied on fixed registry cases)

N_TAG = 110

_NOISY_COLS = [
    ("rollup_sum", "value * 2"),
    ("rollup_p95", "value + 1"),
    ("hour", "7"),
    ("sketch", "'0xdead'"),
    ("_cardinalhq_internal", "'x'"),
]


def test_fuzz_tag_surface(spark, sf_dir, ddb):
    """Randomized tag_values / tag_names / scope_tags catalog queries —
    random filter trees, synthetic (regex-extracted) tags with string
    AND number typing, noisy bookkeeping columns under drop_noisy, and
    the displayable-value filter — value-checked against the sqlgen
    tag twins (tag_values_sql / tag_names_sql / scope_tags_sql)."""
    from lakeside_spark.functions.noisytags import is_noisy_tag_name

    rng = random.Random(5083)
    eng = QueryEngine(spark, step_ms=DAY)
    tele_plain = load_telemetry(spark, sf_dir)
    for i in range(N_TAG):
        roll = rng.random()
        if roll < 0.45:
            # tag_values on a raw or extracted tag, random filter tree
            use_extract = rng.random() < 0.5
            if use_extract:
                regex, fields = rng.choice(_EXTRACT_POOL)
                ext = Extractor(
                    regex=regex,
                    fields=tuple(ExtractedField(n, t) for n, t in fields),
                )
                tag = rng.choice([n for n, _ in fields])
                expr = BaseExpr(
                    filter=Filter(k=fields[0][0], op=S.EXISTS, extracted=True),
                    extractor=ext,
                )
            else:
                tag = rng.choice(("name", "user_id", "event_id"))
                expr = BaseExpr(filter=_clause(rng, 3))
            drop_noisy = rng.random() < 0.4
            sdf = eng.tag_values(expr, tele_plain, tag, drop_noisy=drop_noisy)
            sql = sqlgen.tag_values_sql(
                expr, _T, _EXISTING, tag, drop_noisy=drop_noisy
            )
            _assert_match(sdf, ddb, sql, f"tag_values trial {i}: {tag} {expr.filter}")
        elif roll < 0.85:
            # tag_names: random filter + random noisy column stamping
            n_noisy = rng.randint(0, len(_NOISY_COLS))
            noisy = rng.sample(_NOISY_COLS, n_noisy)
            tele = tele_plain
            noisy_sql_cols = ""
            for cname, csql in noisy:
                tele = tele.withColumn(
                    cname, F.expr(csql.replace("value", S.VALUE))
                )
                noisy_sql_cols += f", {csql} AS {cname}"
            drop_noisy = rng.random() < 0.6
            expr = BaseExpr(filter=_clause(rng, 3))
            sdf = eng.tag_names(expr, tele, drop_noisy=drop_noisy)
            # candidate tags mirror the engine's df.columns derivation:
            # non-canonical telemetry columns + the stamped noisy ones
            tags = ["name", "user_id", "event_id"] + [c for c, _ in noisy]
            if drop_noisy:
                tags = [t for t in tags if not is_noisy_tag_name(t)]
            tbl = f"(SELECT *{noisy_sql_cols} FROM {_T} t)"
            sql = sqlgen.tag_names_sql(expr, tbl, _EXISTING, tags)
            _assert_match(
                sdf, ddb, sql,
                f"tag_names trial {i}: noisy={[c for c, _ in noisy]} "
                f"drop={drop_noisy} {expr.filter}",
            )
        else:
            # scope_tags: random dim subsets incl. absent dimensions
            dims = tuple(
                rng.sample(
                    ["user_id", "name", "event_id", "kube_namespace", "svc"],
                    rng.randint(1, 4),
                )
            )
            sdf = eng.scope_tags(tele_plain, scope_dims=dims)
            present = [d for d in dims if d in tele_plain.columns]
            if not present:
                assert sdf.count() == 0, f"scope trial {i}: {dims}"
                continue
            sql = sqlgen.scope_tags_sql(_T, present)
            _assert_match(sdf, ddb, sql, f"scope_tags trial {i}: {dims}")
