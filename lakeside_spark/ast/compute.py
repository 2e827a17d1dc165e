"""Compile compute-stage FunctionCalls to PySpark Columns.

Reference registry (core ComputeFunction.scala:108-180): mul, div, add, sub,
concat, strpos. SQL semantics are followed (``strpos`` = 1-based ``position``
— ComputeFunction.scala:173 — 0 when absent). All built-in functions: the
compute stage stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.model import FUNCTION_SPECS, FunctionCall, Label, Literal


def function_specs() -> dict[str, dict]:
    """The compute-function catalog a UI requests before building queries."""
    return {k: dict(v) for k, v in FUNCTION_SPECS.items()}


def _arg_to_column(arg: Label | Literal | FunctionCall) -> Column:
    if isinstance(arg, Label):
        col = F.col(arg.name)
        return col.cast("double") if arg.data_type == S.NUMBER_TYPE else col
    if isinstance(arg, Literal):
        return F.lit(float(arg.value)) if arg.data_type == S.NUMBER_TYPE else F.lit(str(arg.value))
    return function_call_to_column(arg)


def function_call_to_column(fc: FunctionCall) -> Column:
    cols = [_arg_to_column(a) for a in fc.arguments]
    if fc.name == "mul":
        out = cols[0]
        for c in cols[1:]:
            out = out * c
        return out
    if fc.name == "div":
        return cols[0] / cols[1]
    if fc.name == "add":
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out
    if fc.name == "sub":
        return cols[0] - cols[1]
    if fc.name == "concat":
        return F.concat(*cols)
    if fc.name == "strpos":
        # position(search_string in string): args are (search, string);
        # 1-based, 0 when absent (SQL position semantics)
        return F.call_function("instr", cols[1], cols[0])
    raise ValueError(f"Unknown function {fc.name}!")


def compute_labels(fc: FunctionCall) -> list[Label]:
    """Labels referenced anywhere in the call DAG (reference:
    BaseExpr.captureComputeLabels) — used for the IS NOT NULL guard."""
    out: list[Label] = []
    for a in fc.arguments:
        if isinstance(a, Label):
            out.append(a)
        elif isinstance(a, FunctionCall):
            out.extend(compute_labels(a))
    return out
