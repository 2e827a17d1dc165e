"""AST → DuckDB SQL emitter — the oracle twin of the Spark compiler.

The reference compiles its query AST to DuckDB SQL strings (core
BaseExpr.scala:181-317 ``getChartSql`` / ``filterSqlAndAccumulateFields``
BaseExpr.scala:433-513); this repo compiles the same AST to DataFrame
plans (ast/filters.py, ast/compute.py, engine.py). This module emits the
SQL form of any BaseExpr so *randomly generated* ASTs can be checked
Spark-vs-DuckDB hash-for-hash — the JSON→SQL generation parity the
reference's own test suite covers with fixed fixtures
(core/src/test/.../ast), extended here to a property-based sweep
(tests/test_ast_fuzz.py).

Every emission rule mirrors one Spark compilation rule:

- leaf predicates per ast/filters.filter_to_column (string compares,
  ``(?i)`` regex/contains, quantity-normalized numeric ranges via the
  SAME parse_quantity call — both engines see the identical literal,
  missing plain columns → FALSE);
- compute DAGs per ast/compute.function_call_to_column (left-folded
  arithmetic, ``||`` concatenation so NULL propagates like F.concat,
  ``position(needle IN haystack)`` = ``instr``);
- extract/compute staging per engine._apply_extract/_apply_compute
  (regexp_matches gate, per-referenced-label IS NOT NULL guards);
- chart aggregation per engine._run_chart (step snapping, implicit
  ``name`` key), its target per engine._chart_target (value
  normalization, rollup column, field NOT NULL guard) and its measure per
  engine._chart_measure (aggregation, rate↔count transform).
"""

from __future__ import annotations

import re

from lakeside_spark import schema as S
from lakeside_spark.ast.filters import _normalized_value
from lakeside_spark.ast.model import (
    BaseExpr,
    BinaryClause,
    Filter,
    FunctionCall,
    Label,
    Literal,
    NotClause,
    QueryClause,
)

_NORMALIZED_TYPES = {S.DURATION_TYPE, S.DATA_SIZE_TYPE, S.NUMBER_TYPE}


def _quote(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


# the single source of truth lives in engine (engine does not import
# sqlgen, so no cycle); re-exported under the local name the emitter uses
from lakeside_spark.engine import _PERCENTILE_RE as _ENGINE_PERCENTILE_RE


def _dbl(x: float) -> str:
    """A double literal DuckDB parses to the exact binary64 Spark uses —
    bare decimals are DECIMAL in DuckDB (the ::DOUBLE rule every
    hand-written oracle in registry.py pins)."""
    return f"CAST({x!r} AS DOUBLE)"


def clause_to_sql(
    clause: QueryClause,
    existing: set[str] | None = None,
    substitutions: dict[str, str] | None = None,
) -> str:
    """WHERE fragment for a QueryClause — semantics of
    ast/filters.filter_to_column. ``substitutions`` maps extracted/
    computed field names to their SQL expressions (there is no lateral
    column alias in the emitted form; the expression is inlined exactly
    like Spark's Column graph inlines it)."""
    subs = substitutions or {}
    if isinstance(clause, BinaryClause):
        left = clause_to_sql(clause.q1, existing, subs)
        right = clause_to_sql(clause.q2, existing, subs)
        op = "AND" if clause.op == "and" else "OR"
        return f"({left} {op} {right})"
    if isinstance(clause, NotClause):
        return f"(NOT {clause_to_sql(clause.clause, existing, subs)})"

    f: Filter = clause
    if (
        existing is not None
        and f.k not in existing
        and not f.extracted
        and not f.computed
    ):
        return "FALSE"
    col = subs.get(f.k, f.k)
    if f.op in (S.HAS, S.EXISTS):
        return f"({col} IS NOT NULL)"
    if f.op == S.EQ:
        return f"({col} = {_quote(f.v[0])})"
    if f.op == S.NOT_EQUALS:
        return f"({col} <> {_quote(f.v[0])})"
    if f.op == S.IN:
        return f"({col} IN ({', '.join(_quote(x) for x in f.v)}))"
    if f.op == S.NOT_IN:
        return f"({col} NOT IN ({', '.join(_quote(x) for x in f.v)}))"
    if f.op == S.REGEX:
        return f"regexp_matches({col}, {_quote('(?i)' + f.v[0])})"
    if f.op == S.CONTAINS:
        return f"regexp_matches({col}, {_quote('(?i).*' + f.v[0] + '.*')})"
    # range ops: normalized per dataType through the SAME parser the
    # Spark side uses, so both engines compare the identical double
    if f.data_type in _NORMALIZED_TYPES:
        lhs, lit = f"CAST({col} AS DOUBLE)", _dbl(_normalized_value(f))
    else:
        lhs, lit = col, _quote(f.v[0])
    sym = {S.GT: ">", S.GE: ">=", S.LT: "<", S.LE: "<="}[f.op]
    return f"({lhs} {sym} {lit})"


def function_call_to_sql(
    fc: FunctionCall, substitutions: dict[str, str] | None = None
) -> str:
    """Scalar fn-call DAG → SQL (semantics of
    ast/compute.function_call_to_column)."""
    subs = substitutions or {}

    def arg(a) -> str:
        if isinstance(a, Label):
            col = subs.get(a.name, a.name)
            return (
                f"CAST({col} AS DOUBLE)"
                if a.data_type == S.NUMBER_TYPE
                else col
            )
        if isinstance(a, Literal):
            return (
                _dbl(float(a.value))
                if a.data_type == S.NUMBER_TYPE
                else _quote(str(a.value))
            )
        return function_call_to_sql(a, subs)

    args = [arg(a) for a in fc.arguments]
    if fc.name in ("mul", "add"):
        sym = " * " if fc.name == "mul" else " + "
        return "(" + sym.join(args) + ")"
    if fc.name == "div":
        return f"({args[0]} / {args[1]})"
    if fc.name == "sub":
        return f"({args[0]} - {args[1]})"
    if fc.name == "concat":
        # `||` propagates NULL like F.concat; DuckDB's concat() ignores
        # NULL arguments and would diverge
        return "(" + " || ".join(args) + ")"
    if fc.name == "strpos":
        # (search_string, string) = position(search IN string) — 1-based,
        # 0 when absent, matching Spark instr
        return f"position({args[0]} in {args[1]})"
    raise ValueError(f"Unknown function {fc.name}!")


def _staging(
    expr: BaseExpr, existing: set[str]
) -> tuple[list[str], dict[str, str], set[str]]:
    """Pre-filter WHERE conjuncts + extracted/computed substitutions,
    mirroring engine._apply_extract / _apply_compute order."""
    conjuncts: list[str] = []
    subs: dict[str, str] = {}
    names = set(existing)
    if expr.extractor:
        ext = expr.extractor
        src = subs.get(ext.input_field, ext.input_field)
        conjuncts.append(
            f"regexp_matches({src}, {_quote(ext.regex)})"
        )
        for i, fld in enumerate(ext.fields, start=1):
            e = f"regexp_extract({src}, {_quote(ext.regex)}, {i})"
            if fld.data_type == S.NUMBER_TYPE:
                e = f"CAST({e} AS DOUBLE)"
            subs[fld.name] = e
            names.add(fld.name)
    if expr.compute:
        from lakeside_spark.ast.compute import compute_labels

        for lbl in compute_labels(expr.compute.function_call):
            if lbl.name in names:
                ref = subs.get(lbl.name, lbl.name)
                conjuncts.append(f"({ref} IS NOT NULL)")
        subs[expr.compute.label_name] = function_call_to_sql(
            expr.compute.function_call, subs
        )
        names.add(expr.compute.label_name)
    return conjuncts, subs, names


def exemplar_sql(expr: BaseExpr, table: str, existing: set[str]) -> str:
    """Raw-row query (reference BaseExpr.scala:237-239): ORDER BY
    timestamp/event_id with a deterministic LIMIT — the twin of
    engine._run_exemplars (column ORDER is projection-led Spark-side,
    but the driver compare sorts columns by name)."""
    conjuncts, subs, names = _staging(expr, existing)
    conjuncts.append(clause_to_sql(expr.filter, names, subs))
    direction = "DESC" if expr.order == "DESC" else "ASC"
    extras = "".join(
        f", {sql} AS {name}" for name, sql in subs.items()
    )
    return (
        f"SELECT *{extras} FROM {table} WHERE {' AND '.join(conjuncts)} "
        f"ORDER BY {S.TIMESTAMP} {direction}, event_id {direction} "
        f"LIMIT {expr.limit}"
    )


def chart_sql(
    expr: BaseExpr, table: str, step_ms: int, existing: set[str]
) -> str:
    """Chart aggregation (reference getChartSql, BaseExpr.scala:181-236):
    step-snapped, keyed on the implicit ``name`` plus group_bys, value
    ROUND(…, 6) like registry._rounded. The twin of engine._run_chart,
    _chart_target and _chart_measure (exact-aggregation mode)."""
    chart = expr.chart
    conjuncts, subs, names = _staging(expr, existing)
    conjuncts.append(clause_to_sql(expr.filter, names, subs))

    if expr.dataset == S.DATASET_METRICS and chart.rollup:
        # metrics arrive pre-rolled-up; the chart re-aggregates the
        # ingest-side rollup column (engine._chart_target metrics branch,
        # reference BaseExpr.scala:376-395)
        target = f"rollup_{chart.rollup}"
    elif chart.field_name and chart.field_name != S.VALUE:
        target = subs.get(chart.field_name, chart.field_name)
        target = f"CAST({target} AS DOUBLE)"
        if chart.field_type == S.DURATION_TYPE:
            target = f"({target} / {_dbl(1_000_000.0)})"
        elif chart.field_type == S.DATA_SIZE_TYPE:
            target = f"({target} / {_dbl(1000.0)})"
    else:
        target = S.VALUE
    if chart.field_name and chart.field_name != S.VALUE:
        # the engine filters the field NOT NULL unconditionally — even
        # when a rollup target overrides it (engine._chart_target returns
        # the guard with every target); keeping the conjunct outside the
        # target branch mirrors that exactly
        conjuncts.append(
            f"({subs.get(chart.field_name, chart.field_name)} IS NOT NULL)"
        )

    group_bys = tuple(g for g in chart.group_bys if g in names)
    agg = chart.aggregation
    if agg == S.COUNT:
        value = f"COUNT({target})"
    elif agg in (S.SUM, S.AVG, S.MIN, S.MAX):
        value = f"{agg.upper()}({target})"
    elif agg == S.CARDINALITY_ESTIMATE_AGGREGATION:
        # ces consumes the group_bys as the ':'-joined distinct key and
        # emits one global estimate per step (engine._chart_measure /
        # reference HLLAggregator); exact mode = COUNT(DISTINCT …).
        # concat_ws skips NULL arguments identically in both engines.
        if group_bys:
            key = "concat_ws(':', " + ", ".join(
                subs.get(g, g) for g in group_bys
            ) + ")"
        else:
            # distinct over per-engine string renderings of a double —
            # formats differ but both are injective, so the COUNT matches
            key = f"CAST({target} AS VARCHAR)"
        value = f"COUNT(DISTINCT {key})"
    elif _ENGINE_PERCENTILE_RE.match(agg):
        # same regex as engine._PERCENTILE_RE so the twin accepts every
        # aggregation the Spark side does (decimals like p99.9 included)
        q = float(_ENGINE_PERCENTILE_RE.match(agg).group(1)) / 100.0
        value = f"quantile_cont({target}, {_dbl(q)})"
    else:
        raise ValueError(f"Invalid aggregation {agg}")
    value = f"CAST({value} AS DOUBLE)"
    # rate↔count transform (engine._chart_measure / reference
    # getTransformerFunc ASTUtils.scala:190-219): metrics normalize the
    # stored metric_type to the requested chart_type; raw datasets only
    # divide counts down to a rate
    step_seconds = _dbl(step_ms / 1000.0)
    if expr.dataset == S.DATASET_METRICS:
        ct, mt = chart.chart_type, expr.metric_type
        if ct == "count" and mt == "rate":
            value = f"({value} * {step_seconds})"
        elif ct == "rate" and mt == "count":
            value = f"({value} / {step_seconds})"
    elif chart.chart_type == "rate":
        value = f"({value} / {step_seconds})"

    keys = [f"{S.TIMESTAMP} - {S.TIMESTAMP} % {step_ms} AS {S.STEP_TS}"]
    if agg == S.CARDINALITY_ESTIMATE_AGGREGATION:
        pass  # global per step: group_bys feed the key, not the grouping
    else:
        if S.NAME in existing:
            keys.append(S.NAME)
        keys += [f"{subs[g]} AS {g}" if g in subs else g for g in group_bys]
    group = ", ".join(str(i + 1) for i in range(len(keys)))
    # + 0.0 normalizes IEEE negative zero: Spark's round goes through
    # BigDecimal (which has no -0) while DuckDB's ROUND preserves -0.0 —
    # a genuine hash-divergence class the fuzz sweep caught
    return (
        f"SELECT {', '.join(keys)}, (ROUND({value}, 6) + {_dbl(0.0)}) "
        f"AS {S.VALUE} "
        f"FROM {table} WHERE {' AND '.join(conjuncts)} GROUP BY {group}"
    )


def formula_sql(ast, branches: dict[str, str]) -> str:
    """Formula tree → SQL over per-label series subqueries (each emitting
    ``(step_ts, value)``) with ast/formula.eval_formula's exact join
    semantics (Formula.scala:42-64): add = full outer join with the
    missing side zero-filled, sub/mul = inner join, div = inner join
    dropping zero denominators; scalar sides fold in place, and a
    literal division by the constant zero yields the empty series."""
    from lakeside_spark.ast.formula import Const, Node, Var

    sym = {"add": "+", "sub": "-", "mul": "*", "div": "/"}

    def rec(node):
        if isinstance(node, Const):
            return float(node.value)
        if isinstance(node, Var):
            return f"(SELECT {S.STEP_TS}, {S.VALUE} FROM ({branches[node.name]}))"
        left, right = rec(node.e1), rec(node.e2)
        if isinstance(left, float) and isinstance(right, float):
            # NB: constant/0 raises ZeroDivisionError here exactly like
            # eval_formula's Python fold — emitting NaN instead would
            # produce invalid SQL (CAST(nan AS DOUBLE)) and silently
            # diverge from the engine on this branch. Lambdas keep the
            # division lazy so folding sub(2, 0) etc. never divides.
            return {
                "add": lambda: left + right,
                "sub": lambda: left - right,
                "mul": lambda: left * right,
                "div": lambda: left / right,
            }[node.op]()
        if isinstance(right, float):
            if node.op == "div" and right == 0:
                return (
                    f"(SELECT {S.STEP_TS}, {S.VALUE} FROM {left} t0 WHERE FALSE)"
                )
            return (
                f"(SELECT {S.STEP_TS}, ({S.VALUE} {sym[node.op]} "
                f"{_dbl(right)}) AS {S.VALUE} FROM {left} t1)"
            )
        if isinstance(left, float):
            guard = f" WHERE {S.VALUE} <> 0" if node.op == "div" else ""
            return (
                f"(SELECT {S.STEP_TS}, ({_dbl(left)} {sym[node.op]} "
                f"{S.VALUE}) AS {S.VALUE} FROM {right} t2{guard})"
            )
        if node.op == "add":
            return (
                f"(SELECT COALESCE(l.{S.STEP_TS}, r.{S.STEP_TS}) AS {S.STEP_TS}, "
                f"(COALESCE(l.{S.VALUE}, {_dbl(0.0)}) + "
                f"COALESCE(r.{S.VALUE}, {_dbl(0.0)})) AS {S.VALUE} "
                f"FROM {left} l FULL OUTER JOIN {right} r "
                f"ON l.{S.STEP_TS} = r.{S.STEP_TS})"
            )
        guard = f" WHERE r.{S.VALUE} <> 0" if node.op == "div" else ""
        return (
            f"(SELECT l.{S.STEP_TS} AS {S.STEP_TS}, "
            f"(l.{S.VALUE} {sym[node.op]} r.{S.VALUE}) AS {S.VALUE} "
            f"FROM {left} l JOIN {right} r "
            f"ON l.{S.STEP_TS} = r.{S.STEP_TS}{guard})"
        )

    out = rec(ast)
    if isinstance(out, float):
        raise ValueError("Formula must reference at least one series")
    # + 0.0: negative-zero normalization, as in chart_sql
    return (
        f"SELECT {S.STEP_TS}, (ROUND({S.VALUE}, 6) + {_dbl(0.0)}) "
        f"AS {S.VALUE} FROM {out} f"
    )


def tag_values_sql(
    expr: BaseExpr,
    table: str,
    existing: set[str],
    tag_name: str,
    drop_noisy: bool = False,
) -> str:
    """Tag-value catalog query (reference: the generateSql isTagQuery
    path, BaseExpr.scala:127-143) — the DuckDB twin of
    engine.QueryEngine.tag_values: distinct values of one tag (raw,
    extracted, or computed) with row counts after the filter stack.
    drop_noisy mirrors functions.noisytags.displayable_value (non-null,
    non-empty, not the literal string 'null')."""
    conjuncts, subs, names = _staging(expr, existing)
    conjuncts.append(clause_to_sql(expr.filter, names, subs))
    ref = subs.get(tag_name, tag_name)
    if drop_noisy:
        s = f"CAST({ref} AS VARCHAR)"
        conjuncts.append(
            f"({s} IS NOT NULL AND {s} <> '' AND {s} <> 'null')"
        )
    return (
        f"SELECT {ref} AS {tag_name}, count(*) AS count FROM {table} "
        f"WHERE {' AND '.join(conjuncts)} GROUP BY 1"
    )


def tag_names_sql(
    expr: BaseExpr,
    table: str,
    existing: set[str],
    tags: list[str],
    drop_noisy: bool = False,
) -> str:
    """Tag-name catalog query (reference: /api/v1/tags/{dataset} with no
    tagName) — the DuckDB twin of engine.QueryEngine.tag_names: non-null
    counts per candidate tag after the filter stack, zero-count tags
    dropped. ``tags`` is the caller's non-canonical column list (the
    engine derives it from df.columns; SQL has no column reflection, so
    the twin takes it explicitly). drop_noisy mirrors
    functions.noisytags.is_noisy_tag_name and must be applied to
    ``tags`` by the caller — the twin just documents the contract."""
    if drop_noisy:
        from lakeside_spark.functions.noisytags import is_noisy_tag_name

        tags = [t for t in tags if not is_noisy_tag_name(t)]
    conjuncts, subs, names = _staging(expr, existing)
    conjuncts.append(clause_to_sql(expr.filter, names, subs))
    where = " AND ".join(conjuncts)
    unions = " UNION ALL ".join(
        f"SELECT '{t}' AS tag_name, count({subs.get(t, t)}) AS count FROM f"
        for t in tags
    )
    return (
        f"WITH f AS (SELECT * FROM {table} WHERE {where}) "
        f"SELECT tag_name, count FROM ({unions}) WHERE count > 0"
    )


def scope_tags_sql(table: str, dims: list[str]) -> str:
    """Scope-dimension catalog twin of engine.QueryEngine.scope_tags:
    distinct-value counts per present dimension, absent dimensions
    filtered by the caller (the engine checks df.columns)."""
    unions = " UNION ALL ".join(
        f"SELECT '{d}' AS tag_name, count(DISTINCT {d}) AS n_values "
        f"FROM {table}"
        for d in dims
    )
    return f"SELECT tag_name, n_values FROM ({unions}) WHERE n_values > 0"
