"""Answer checks against DuckDB, run outside the timed region.

Lake requests are compared with the SQL twin in ``lakeside_spark.ast.sqlgen``
evaluated by DuckDB over the same lake files; registry keys are compared
with their ``ORACLES`` SQL over the same generated tables. Both compare as
row multisets with columns matched by name and floats equal within 1e-6
(a round-to-6-places-then-hash compare flips on values that straddle the 6th
decimal, which random inputs hit).
"""

from __future__ import annotations

import dataclasses
import math
import os
from decimal import Decimal

import duckdb


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
    return con


def lake_scan_sql(lake: str) -> str:
    # data files only: the trigram sidecar lives under the same root
    glob = os.path.join(lake, "dataset=*", "*", "*", "*.parquet")
    return f"read_parquet('{glob}', hive_partitioning=true, union_by_name=true)"


def _value(v):
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):  # numpy scalar
        return v.item()
    return v


def _sort_key(row: tuple) -> tuple:
    exact = tuple((0, "") if v is None else (1, v) for v in row if not isinstance(v, float))
    approx = tuple(round(v, 6) if v == v else 0.0 for v in row if isinstance(v, float))
    return exact, approx


def _close(a, b, abs_tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=abs_tol)
    return a == b


def same_rows(cols_a: list[str], rows_a: list, cols_b: list[str], rows_b: list,
              abs_tol: float = 1e-6) -> bool:
    """Order-insensitive result equality with a float tolerance (Spark sums
    in another order than DuckDB, and the twin rounds to 6 places)."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    order = sorted(cols_a)
    ia = [cols_a.index(c) for c in order]
    ib = [cols_b.index(c) for c in order]
    a = sorted((tuple(_value(r[i]) for i in ia) for r in rows_a), key=_sort_key)
    b = sorted((tuple(_value(r[i]) for i in ib) for r in rows_b), key=_sort_key)
    return all(
        all(_close(x, y, abs_tol) for x, y in zip(ra, rb)) for ra, rb in zip(a, b)
    )


def _fetch(con, sql: str) -> tuple[list[str], list]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def expected(con, req: dict, lake: str, existing: set[str]) -> dict[str, tuple[list, list]]:
    """DuckDB's answer to one lake request, keyed like the Spark result."""
    from lakeside_spark.ast import sqlgen
    from lakeside_spark.ast.formula import parse_formula
    from lakeside_spark.ast.model import ast_input_from_json, base_expr_from_json

    kind, step = req["kind"], req["step"]
    table = lake_scan_sql(lake)
    if not kind.startswith("needle"):  # needle searches cover the whole lake
        table = (f"(SELECT * FROM {table} WHERE timestamp_ms >= {req['start']} "
                 f"AND timestamp_ms < {req['end']})")
    if kind == "extract":
        # DuckDB does not short-circuit AND, so the twin's numeric casts of
        # extracted fields would also see rows the regex gate drops; keep
        # only gated rows (the twin applies the same gate again)
        regex = req["body"]["extract"]["regex"].replace("'", "''")
        con.execute(f"CREATE OR REPLACE TEMP TABLE extract_rows AS SELECT * FROM {table} "
                    f"WHERE regexp_matches(message, '{regex}')")
        table = "extract_rows"
    if kind == "graph":
        exprs, formulae = ast_input_from_json(req["body"])
        out = {label: _fetch(con, sqlgen.chart_sql(e, table, step, existing))
               for label, e in exprs.items()}
        series = {
            label: f"SELECT step_ts, SUM(value) AS value FROM "
                   f"({sqlgen.chart_sql(e, table, step, existing)}) GROUP BY step_ts"
            for label, e in exprs.items()
        }
        for f in formulae:
            out[f] = _fetch(con, sqlgen.formula_sql(parse_formula(f), series))
        return out
    expr = base_expr_from_json(req["body"])
    if kind in ("exemplar", "needle_contains", "needle_regex"):
        return {"_": _fetch(con, sqlgen.exemplar_sql(expr, table, existing))}
    if kind == "tag_values":
        return {"_": _fetch(con, sqlgen.tag_values_sql(expr, table, existing, req["tag"]))}
    if kind == "multi_agg":
        merged: dict[tuple, dict] = {}
        keys: list[str] = []
        for agg in req["aggs"]:
            e = dataclasses.replace(expr, chart=dataclasses.replace(expr.chart, aggregation=agg))
            cols, rows = _fetch(con, sqlgen.chart_sql(e, table, step, existing))
            keys = [c for c in cols if c != "value"]
            vi = cols.index("value")
            for r in rows:
                k = tuple(r[cols.index(c)] for c in keys)
                merged.setdefault(k, dict(zip(keys, k)))[f"{agg}_value"] = r[vi]
        cols = keys + [f"{a}_value" for a in req["aggs"]]
        return {"_": (cols, [tuple(m.get(c) for c in cols) for m in merged.values()])}
    if kind == "cardinality":
        key = "concat_ws('|', " + ", ".join(expr.chart.group_bys) + ")"
        where = sqlgen.clause_to_sql(expr.filter, existing)
        return {"_": _fetch(con, f"SELECT CAST(COUNT(DISTINCT {key}) AS DOUBLE) AS value "
                                 f"FROM {table} WHERE {where}")}
    return {"_": _fetch(con, sqlgen.chart_sql(expr, table, step, existing))}


def request_ok(con, req: dict, lake: str, existing: set[str],
               got: dict[str, tuple[list, list]]) -> bool:
    want = expected(con, req, lake, existing)
    if set(want) != set(got):
        return False
    # formulae sum per-group values the twin has already rounded to 6 places
    formulae = set(req["body"].get("formulae", ())) if req["kind"] == "graph" else set()
    return all(same_rows(*got[k], *want[k], abs_tol=1e-3 if k in formulae else 1e-6)
               for k in want)


def frame_rows(pdf) -> tuple[list[str], list]:
    """A pandas result as (columns, rows) for same_rows; NaN reads as None
    so a SQL NULL and a Spark null compare equal."""
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.columns), list(pdf.itertuples(index=False, name=None))
