"""Compile the filter AST to a PySpark Column.

Reference semantics: BaseExpr.filterSqlAndAccumulateFields
(core BaseExpr.scala:433-513):

- eq/!=/in/not_in compare as strings
- contains → case-insensitive regex ``.*v.*``; regex → case-insensitive
- gt/ge/lt/le normalize the literal by dataType (duration→ns,
  datasize→bytes, number→double) and compare numerically
- has/exists → IS NOT NULL
- filters on columns that don't exist in the scanned segments are FALSE
  unless the field is produced by extract/compute (nonExistentFields logic)

Everything compiles to built-in Column expressions — Catalyst pushes the
resulting predicates into the parquet scan (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import BinaryClause, Filter, NotClause, QueryClause
from lakeside_spark.functions.quantity import parse_quantity

_NORMALIZED_TYPES = {S.DURATION_TYPE, S.DATA_SIZE_TYPE, S.NUMBER_TYPE}


def _normalized_value(f: Filter) -> float:
    if f.data_type == S.NUMBER_TYPE:
        return float(f.v[0])
    parsed = parse_quantity(f.v[0], f.data_type)
    return parsed if parsed is not None else 0.0


def _comparable(f: Filter) -> tuple[Column, object]:
    """Column/literal pair for range ops, normalized per dataType."""
    if f.data_type in _NORMALIZED_TYPES:
        if len(f.v) != 1:
            raise ValueError(f"filter value is a list of values for dataType: {f.data_type}")
        return F.col(f.k).cast("double"), _normalized_value(f)
    return F.col(f.k), f.v[0]


def filter_to_column(clause: QueryClause, existing: set[str] | None = None) -> Column:
    """Compile a QueryClause; ``existing`` = columns present in the input
    (plus extracted/computed names). Missing plain columns → FALSE, matching
    the reference's nonExistentFields handling (BaseExpr.scala:462-464)."""
    if isinstance(clause, BinaryClause):
        left = filter_to_column(clause.q1, existing)
        right = filter_to_column(clause.q2, existing)
        return (left & right) if clause.op == "and" else (left | right)
    if isinstance(clause, NotClause):
        return ~filter_to_column(clause.clause, existing)

    f: Filter = clause
    if (
        existing is not None
        and f.k not in existing
        and not f.extracted
        and not f.computed
    ):
        return F.lit(False)

    col = F.col(f.k)
    if f.op in (S.HAS, S.EXISTS):
        return col.isNotNull()
    if f.op == S.EQ:
        return col == F.lit(f.v[0])
    if f.op == S.NOT_EQUALS:
        return col != F.lit(f.v[0])
    if f.op == S.IN:
        return col.isin(list(f.v))
    if f.op == S.NOT_IN:
        return ~col.isin(list(f.v))
    if f.op == S.REGEX:
        return col.rlike(f"(?i){f.v[0]}")
    if f.op == S.CONTAINS:
        return col.rlike(f"(?i).*{f.v[0]}.*")
    c, v = _comparable(f)
    if f.op == S.GT:
        return c > v
    if f.op == S.GE:
        return c >= v
    if f.op == S.LT:
        return c < v
    if f.op == S.LE:
        return c <= v
    raise ValueError(f"Invalid operator {f.op}")
