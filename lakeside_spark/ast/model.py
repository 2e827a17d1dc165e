"""Query AST model — JSON-shape parity with the reference.

Mirrors the reference's AST node set (core ASTUtils.scala:102-137 Filter/
BinaryClause/NotClause; BaseExpr.scala:516-527; pipeline Compute.scala /
Extractor.scala; ChartOptions ASTUtils.scala:222-260) so the same request
JSON the reference accepts parses here, but compilation targets PySpark
DataFrames instead of DuckDB SQL strings.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Union

from lakeside_spark import schema as S

QueryClause = Union["Filter", "BinaryClause", "NotClause"]

_VALID_OPS = {
    S.EQ, S.NOT_EQUALS, S.IN, S.NOT_IN, S.GT, S.GE, S.LT, S.LE,
    S.CONTAINS, S.REGEX, S.HAS, S.EXISTS,
}


@dataclass(frozen=True)
class Filter:
    """Leaf predicate (reference: ASTUtils.scala:124-133)."""

    k: str
    v: tuple[str, ...] = ()
    op: str = S.EQ
    extracted: bool = False
    computed: bool = False
    data_type: str = S.STRING_TYPE

    def __post_init__(self) -> None:
        if self.op not in _VALID_OPS:
            raise ValueError(f"Invalid operator {self.op}")
        if not self.v and self.op not in (S.HAS, S.EXISTS):
            raise ValueError(f"No value for key = {self.k} provided in filter!")


@dataclass(frozen=True)
class BinaryClause:
    q1: "QueryClause"
    q2: "QueryClause"
    op: str  # "and" | "or"

    def __post_init__(self) -> None:
        if self.op not in ("and", "or"):
            raise ValueError(f"unknown binary op {self.op}")


@dataclass(frozen=True)
class NotClause:
    clause: "QueryClause"


# ---------------------------------------------------------------------------
# extract / compute pipeline stages


@dataclass(frozen=True)
class ExtractedField:
    name: str
    data_type: str = S.STRING_TYPE


@dataclass(frozen=True)
class Extractor:
    """Regex named-field extraction (reference: pipeline Extractor.scala)."""

    regex: str
    fields: tuple[ExtractedField, ...]
    input_field: str = S.MESSAGE


@dataclass(frozen=True)
class Label:
    name: str
    data_type: str = S.STRING_TYPE


@dataclass(frozen=True)
class Literal:
    value: object
    data_type: str = S.STRING_TYPE


#: The compute-function catalog, /api/v1/functionSpecs payload (reference:
#: ComputeFunction.getSpecs, ComputeFunction.scala:108-180). FunctionCall
#: validates names and arity against it; num_arguments None = variadic.
FUNCTION_SPECS: dict[str, dict] = {
    "mul": {"num_arguments": None, "return_type": S.NUMBER_TYPE,
            "arguments": [("multiplier", S.NUMBER_TYPE)]},
    "div": {"num_arguments": 2, "return_type": S.NUMBER_TYPE,
            "arguments": [("numerator", S.NUMBER_TYPE), ("denominator", S.NUMBER_TYPE)]},
    "add": {"num_arguments": None, "return_type": S.NUMBER_TYPE,
            "arguments": [("addend", S.NUMBER_TYPE)]},
    "sub": {"num_arguments": 2, "return_type": S.NUMBER_TYPE,
            "arguments": [("number1", S.NUMBER_TYPE), ("number2", S.NUMBER_TYPE)]},
    "concat": {"num_arguments": None, "return_type": S.STRING_TYPE,
               "arguments": [("string", S.STRING_TYPE)]},
    "strpos": {"num_arguments": 2, "return_type": S.NUMBER_TYPE,
               "arguments": [("search_string", S.STRING_TYPE), ("string", S.STRING_TYPE)]},
}


@dataclass(frozen=True)
class FunctionCall:
    """Scalar fn-call DAG (reference: pipeline ComputeFunction.scala:62-98).

    Registry: mul/add (n-ary), div/sub/strpos (binary), concat (n-ary).
    """

    name: str
    arguments: tuple[Union[Label, Literal, "FunctionCall"], ...]

    def __post_init__(self) -> None:
        if self.name not in FUNCTION_SPECS:
            raise ValueError(f"Unknown function {self.name}!")
        arity = FUNCTION_SPECS[self.name]["num_arguments"]
        if arity is not None and len(self.arguments) != arity:
            raise ValueError(
                f"Invalid number of arguments for function {self.name}, "
                f"passed {len(self.arguments)}, allowed {arity}"
            )


@dataclass(frozen=True)
class Compute:
    label_name: str
    function_call: FunctionCall


@dataclass(frozen=True)
class ChartOptions:
    """Charting options (reference: ASTUtils.scala:222-260).

    aggregation: min|max|sum|count|avg|p<NN>|ces. type: count|rate.
    """

    aggregation: str = S.SUM
    group_bys: tuple[str, ...] = ()
    chart_type: str = "count"
    rollup: str | None = None
    field_name: str | None = None
    field_type: str | None = None


@dataclass(frozen=True)
class BaseExpr:
    """One data expression (reference: BaseExpr.scala:516-527)."""

    id: str = "_"
    dataset: str = S.DATASET_LOGS
    filter: QueryClause = field(default_factory=lambda: Filter(k=S.NAME, op=S.EXISTS))
    extractor: Extractor | None = None
    compute: Compute | None = None
    chart: ChartOptions | None = None
    limit: int = 1000
    order: str = "DESC"
    metric_type: str = "gauge"


# ---------------------------------------------------------------------------
# JSON parsing (reference: ASTUtils.toBaseExpr / handleFilter)


def _clause_from_obj(obj: dict) -> QueryClause:
    if "not" in obj:
        return NotClause(_clause_from_obj(obj["not"]))
    if "k" in obj:
        return Filter(
            k=obj["k"],
            v=tuple(str(x) for x in obj.get("v", [])),
            op=obj.get("op", S.EQ),
            extracted=bool(obj.get("extracted", False)),
            computed=bool(obj.get("computed", False)),
            data_type=obj.get("dataType", S.STRING_TYPE),
        )
    op = obj.get("op")
    if op is None:
        raise ValueError("No `op` provided in binary query clause!")
    clauses = [_clause_from_obj(v) for key, v in sorted(obj.items()) if key.startswith("q")]
    if len(clauses) < 2:
        raise ValueError("Atleast two clauses required in a binary clause!")
    out = clauses[0]
    for c in clauses[1:]:
        out = BinaryClause(out, c, op)
    return out


def _function_call_from_obj(obj: dict) -> FunctionCall:
    args: list[Label | Literal | FunctionCall] = []
    for arg in obj.get("arguments", []):
        kind = arg.get("type")
        if kind == "label":
            args.append(Label(arg["name"], arg.get("dataType", S.STRING_TYPE)))
        elif kind == "literal":
            val = arg["value"]
            dtype = S.NUMBER_TYPE if isinstance(val, (int, float)) else S.STRING_TYPE
            args.append(Literal(val, arg.get("dataType", dtype)))
        elif kind == "functionCall":
            args.append(_function_call_from_obj(arg))
        else:
            raise ValueError(f"Unknown type: {kind}")
    return FunctionCall(name=obj["name"], arguments=tuple(args))


def ast_input_from_json(payload: str | dict) -> tuple[dict[str, "BaseExpr"], list[str]]:
    """Full graph-request payload → ({id: BaseExpr}, formulae)
    (reference: ASTUtils.ASTInput / toASTInput — the /api/v1/graph body
    carries a map of labeled base expressions plus formula strings that
    reference those labels)."""
    obj = json.loads(payload) if isinstance(payload, str) else payload
    exprs = {
        label: base_expr_from_json(node)
        for label, node in obj.get("baseExpressions", {}).items()
    }
    formulae = list(obj.get("formulae", []))
    return exprs, formulae


def base_expr_from_json(payload: str | dict) -> BaseExpr:
    obj = json.loads(payload) if isinstance(payload, str) else payload
    if "filter" not in obj:
        raise ValueError("No filter provided!")
    extractor = None
    if obj.get("extract"):
        ext = obj["extract"]
        extractor = Extractor(
            regex=ext["regex"],
            fields=tuple(
                ExtractedField(f["name"], f.get("type", S.STRING_TYPE))
                for f in ext.get("fields", [])
            ),
            input_field=ext.get("inputField", S.MESSAGE),
        )
    compute = None
    if obj.get("compute"):
        compute = Compute(
            label_name=obj["compute"]["labelName"],
            function_call=_function_call_from_obj(obj["compute"]["functionCall"]),
        )
    chart = None
    if obj.get("chart") is not None:
        c = obj["chart"]
        chart = ChartOptions(
            aggregation=c.get("aggregation", S.SUM),
            group_bys=tuple(c.get("groupBys", [])),
            chart_type=c.get("type", "count"),
            rollup=c.get("rollup"),
            field_name=c.get("fieldName"),
            field_type=c.get("fieldType"),
        )
    return BaseExpr(
        id=obj.get("id", "_"),
        dataset=obj.get("dataset", S.DATASET_METRICS),
        filter=_clause_from_obj(obj["filter"]),
        extractor=extractor,
        compute=compute,
        chart=chart,
        limit=obj.get("limit", 1000),
        order=obj.get("order", "DESC"),
        metric_type=obj.get("metricType", "gauge"),
    )
