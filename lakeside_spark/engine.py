"""Query engine: compile a BaseExpr into a PySpark DataFrame plan.

The reference builds a nested DuckDB SQL string per segment glob
(BaseExpr.getBaseQuery, core BaseExpr.scala:181-242):

    Chart-query( Compute-query( Extract-query( Projection + ts filter ) ) )

then merges per-segment datapoint/sketch streams (PushDownAggregatorStage,
TimeGroupedSketchAggregator). In Spark the same pipeline is one declarative
plan: Catalyst pushes the timestamp + tag predicates into the parquet scan
(replacing the trigram segment index), and the chart aggregation's partial
(map-side) aggregation replaces hand-rolled sketch merging across segments.

Scale notes: every stage is built-in Column expressions (whole-stage
codegen); the only shuffle is the chart groupBy on (step_ts, name, groups) —
the natural key, already well distributed because step_ts has high
cardinality. A hot (step, name) key needs no salting: count/sum/min/max/avg
aggregate partially map-side, so each input partition ships at most one
row per key into the one Exchange. Like the reference, which hands each
segment's SQL to DuckDB with no plan hints, the engine takes no plan
options: the only choice left to callers is answer semantics —
percentile/cardinality default to exact (for oracle parity) and switch to
sketch-based approx (``approx=True``) for the 100 TB path, which also
unlocks partial aggregation for them. Results come back unordered; the
reference's time-ordered delivery is a presentation concern (consumers
that need order sort within their own window specs).
"""

from __future__ import annotations

import functools
import operator
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeside_spark import materialize as M
from lakeside_spark import schema as S
from lakeside_spark.ast.compute import compute_labels, function_call_to_column
from lakeside_spark.ast.filters import filter_to_column
from lakeside_spark.ast.model import BaseExpr

_PERCENTILE_RE = re.compile(r"^p(\d{1,2}(\.\d+)?)$")


def _snap(ts: Column, step_ms: int) -> Column:
    """``ts`` floored to its ``step_ms`` grain."""
    return ts - ts % F.lit(step_ms)


class QueryEngine:
    """Runs BaseExprs / tag queries over a canonical telemetry DataFrame."""

    def __init__(
        self, spark, step_ms: int = S.DEFAULT_STEP_MS, approx: bool = False
    ):
        self.spark = spark
        self.step_ms = step_ms
        self.approx = approx

    # -- pipeline stages ----------------------------------------------------

    def _apply_extract(self, df: DataFrame, expr: BaseExpr) -> DataFrame:
        """Regex named-field extraction (reference: getExtractSql,
        BaseExpr.scala:244-265 — regexp_extract list + regexp_matches gate)."""
        ext = expr.extractor
        if not ext:
            return df
        src = F.col(ext.input_field)
        df = df.filter(src.rlike(ext.regex))
        for i, fld in enumerate(ext.fields, start=1):
            col = F.regexp_extract(src, ext.regex, i)
            if fld.data_type == S.NUMBER_TYPE:
                col = col.cast("double")
            df = df.withColumn(fld.name, col)
        return df

    def _apply_compute(self, df: DataFrame, expr: BaseExpr) -> DataFrame:
        """Computed column + IS NOT NULL guard on referenced labels
        (reference: getComputeSql, BaseExpr.scala:267-289)."""
        comp = expr.compute
        if not comp:
            return df
        for lbl in compute_labels(comp.function_call):
            if lbl.name in df.columns:
                df = df.filter(F.col(lbl.name).isNotNull())
        return df.withColumn(comp.label_name, function_call_to_column(comp.function_call))

    def _prepared(self, expr: BaseExpr, df: DataFrame) -> DataFrame:
        """Extract, compute, then the expr's filter — the shared prologue
        of every query shape. The filter may name extracted and computed
        columns, so the set it resolves against is taken up front."""
        existing = set(df.columns)
        if expr.extractor:
            existing |= {f.name for f in expr.extractor.fields}
        if expr.compute:
            existing.add(expr.compute.label_name)
        df = self._apply_compute(self._apply_extract(df, expr), expr)
        return df.filter(filter_to_column(expr.filter, existing))

    def _chart_target(self, expr: BaseExpr) -> tuple[Column, Column | None]:
        """The column a chart aggregates, and the NOT NULL guard its rows
        pass (reference: getChartSql calc, BaseExpr.scala:350-395). Metrics
        with a rollup arrive pre-rolled-up per ingest step (rollup_sum,
        rollup_avg, ...) and re-aggregate that column at the query step;
        else VALUE by default, or try_cast(field as double) with duration
        ns→ms (/1e6) and datasize →KB (/1000). A named field keeps only the
        rows where it is NOT NULL, under a rollup target too."""
        chart = expr.chart
        field = chart.field_name if chart.field_name != S.VALUE else None
        guard = F.col(field).isNotNull() if field else None
        if expr.dataset == S.DATASET_METRICS and chart.rollup:
            return F.col(f"rollup_{chart.rollup}"), guard
        if not field:
            return F.col(S.VALUE), guard
        target = F.col(field).cast("double")
        if chart.field_type == S.DURATION_TYPE:
            target = target / 1_000_000.0
        elif chart.field_type == S.DATA_SIZE_TYPE:
            target = target / 1000.0
        return target, guard

    def _chart_measure(
        self, expr: BaseExpr, aggregation: str, target: Column, group_bys: tuple, step_ms: int
    ) -> Column:
        """One chart measure: ``aggregation`` of ``target`` (reference:
        getChartSql + getFromSketch, BaseExpr.scala:47-95: min/max/sum/
        count/avg, pNN via DDSketch, ces via HLL; approx mode = the sketch
        path, exact mode = the oracle path) as a double, then the
        rate↔count normalization (getTransformerFunc, ASTUtils.scala:
        190-219): raw datasets only divide counts down to a rate."""
        m = _PERCENTILE_RE.match(aggregation)
        if m:
            q = float(m.group(1)) / 100.0
            agg = F.percentile_approx(target, q, 10_000) if self.approx else F.percentile(target, q)
        elif aggregation == S.CARDINALITY_ESTIMATE_AGGREGATION:
            # reference HLLAggregator keys on the ':'-joined groupBys values
            key = F.concat_ws(":", *map(F.col, group_bys)) if group_bys else target.cast("string")
            agg = F.approx_count_distinct(key) if self.approx else F.countDistinct(key)
        elif aggregation in (S.COUNT, S.SUM, S.AVG, S.MIN, S.MAX):
            agg = getattr(F, aggregation)(target)
        else:
            raise ValueError(f"Invalid aggregation {aggregation}")
        value, step_seconds = agg.cast("double"), step_ms / 1000.0
        ct = expr.chart.chart_type
        mt = expr.metric_type if expr.dataset == S.DATASET_METRICS else "count"
        if ct == "count" and mt == "rate":
            return value * step_seconds
        if ct == "rate" and mt == "count":
            return value / step_seconds
        return value

    @staticmethod
    def _windowed(
        df: DataFrame, start_ts: int | None, end_ts: int | None
    ) -> DataFrame:
        """The request's [start_ts, end_ts) timestamp window."""
        if start_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) >= F.lit(start_ts))
        if end_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) < F.lit(end_ts))
        return df

    @staticmethod
    def _chart_keys(
        df: DataFrame, group_bys: tuple[str, ...], step_ms: int
    ) -> tuple[tuple[str, ...], list[Column]]:
        """The chart groupBy keys (step_ts, name, *group_bys), with the
        group-bys cut to the columns ``df`` has."""
        group_bys = tuple(g for g in group_bys if g in df.columns)
        keys = [_snap(F.col(S.TIMESTAMP), step_ms).alias(S.STEP_TS)]
        if S.NAME in df.columns:
            keys.append(F.col(S.NAME))
        return group_bys, keys + [F.col(g) for g in group_bys]

    # -- public API ----------------------------------------------------------

    def run(
        self,
        expr: BaseExpr,
        df: DataFrame,
        start_ts: int | None = None,
        end_ts: int | None = None,
        step_ms: int | None = None,
    ) -> DataFrame:
        """BaseExpr → DataFrame. Chart exprs yield
        (step_ts, value, name, *group_bys); exemplar exprs yield ordered
        limited raw rows."""
        step_ms = step_ms or self.step_ms
        df = self._prepared(expr, self._windowed(df, start_ts, end_ts))

        if expr.chart:
            return self._run_chart(expr, df, step_ms, {S.VALUE: expr.chart.aggregation})
        return self._run_exemplars(expr, df)

    def _run_chart(
        self, expr: BaseExpr, df: DataFrame, step_ms: int, measures: dict[str, str]
    ) -> DataFrame:
        """The chart of ``expr`` as one groupBy with a ``{column:
        aggregation}`` measure per column (reference: getChartSql,
        BaseExpr.scala:181-236)."""
        target, guard = self._chart_target(expr)
        if guard is not None:
            df = df.filter(guard)
        group_bys, keys = self._chart_keys(df, expr.chart.group_bys, step_ms)
        ces = [a == S.CARDINALITY_ESTIMATE_AGGREGATION for a in measures.values()]
        if all(ces):
            # ces consumes the groupBys as the distinct key; the estimate is
            # global per step (reference: HLLAggregator emits empty tags,
            # PushDownAggregatorStage keys only on moduloTs)
            keys = keys[:1]
        elif any(ces):
            raise ValueError("ces is one estimate per step: it cannot share "
                             "a groupBy with aggregations keyed on the chart group")
        return df.groupBy(*keys).agg(
            *[self._chart_measure(expr, a, target, group_bys, step_ms).alias(c)
              for c, a in measures.items()]
        )

    def multi_agg(
        self,
        expr: BaseExpr,
        df: DataFrame,
        aggregations: tuple[str, ...] = (S.SUM, S.AVG, S.MIN, S.MAX),
        step_ms: int | None = None,
    ) -> DataFrame:
        """All requested aggregations of one chart expr in a SINGLE groupBy
        (one scan, one shuffle); each ``{agg}_value`` column equals
        :meth:`run` of the expr with that aggregation. The reference
        evaluates one aggregation per request (getChartSql); batching N
        panels over the same metric here collapses N scans into one — at
        100 TB that is the difference between one pass over the fact table
        and four. Partial aggregation computes every measure map-side in
        the same buffer. ``ces`` charts alone: mixed with keyed
        aggregations it raises ValueError."""
        measures = {f"{a}_value": a for a in aggregations}
        return self._run_chart(expr, self._prepared(expr, df), step_ms or self.step_ms, measures)

    _FUSABLE_AGGS = (S.COUNT, S.SUM, S.MIN, S.MAX, S.AVG)

    def _fusable(self, e: BaseExpr) -> bool:
        """A branch can join a single-scan fused aggregation when it is a
        simple-agg chart with no extractor or compute (their columns exist
        only in the branch's own plan)."""
        return (
            e.chart is not None
            and e.chart.aggregation in self._FUSABLE_AGGS
            and e.extractor is None
            and e.compute is None
        )

    def _run_chart_fused(
        self,
        branches: list[tuple[str, BaseExpr]],
        df: DataFrame,
        step_ms: int,
    ) -> dict[str, DataFrame]:
        """Evaluate N same-shaped chart branches in ONE scan + ONE shuffle.

        The unfused path scans the fact table once per labeled expression
        (the reference evaluates each BaseExpr's SQL separately) — at
        100 TB a two-branch formula is two full passes. Here each branch
        becomes a conditional measure ``measure(when(cond, target))`` over
        the OR of all branch conditions (its filter and its field's NOT
        NULL guard), plus a matched-row count whose ``> 0`` filter
        reconstructs exactly the per-branch group presence/absence the
        separate runs would produce (a step where only the other branch
        matched must stay missing, not zero)."""
        cols = set(df.columns)
        group_bys, keys = self._chart_keys(df, branches[0][1].chart.group_bys, step_ms)
        conds, aggs = [], []
        for i, (_, e) in enumerate(branches):
            target, guard = self._chart_target(e)
            cond = filter_to_column(e.filter, cols)
            if guard is not None:
                cond = cond & guard
            conds.append(cond)
            aggs.append(
                self._chart_measure(
                    e, e.chart.aggregation, F.when(cond, target), group_bys, step_ms
                ).alias(f"__v{i}")
            )
            aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"__n{i}"))
        # materialized once on the driver (M.on_driver): every label (and
        # each formula referencing it) consumes this frame, and exchange
        # reuse does not reliably dedupe the subtrees across union branches
        # — without it N consumers mean N scans of the fact table. The
        # frame is post-aggregation (steps × names rows, KBs), so the
        # per-label filter/select folds into the local relation and a
        # label's collect runs no job.
        combined = functools.reduce(operator.or_, conds)
        agged = M.on_driver(df.filter(combined).groupBy(*keys).agg(*aggs))
        sel_keys = agged.columns[: len(keys)]
        return {
            label: agged.filter(F.col(f"__n{i}") > 0).select(
                *sel_keys, F.col(f"__v{i}").alias(S.VALUE)
            )
            for i, (label, _) in enumerate(branches)
        }

    def _run_exemplars(self, expr: BaseExpr, df: DataFrame) -> DataFrame:
        """Raw-row query (reference: BaseExpr.scala:237-239): ORDER BY
        timestamp [DESC] LIMIT n, leading with the dataset's canonical
        projection (`SELECT $projectionSql, *` — logs lead with
        timestamp, value, name, message; traces swap in
        span.name/span.kind; BaseExpr.scala:42-45,210-214,238).
        event_id breaks ties so limits are deterministic across engines."""
        order = [
            F.col(S.TIMESTAMP).desc() if expr.order == "DESC" else F.col(S.TIMESTAMP).asc()
        ]
        if "event_id" in df.columns:
            order.append(F.col("event_id").desc() if expr.order == "DESC" else F.col("event_id").asc())
        proj = [c for c in S.dataset_projection_columns(expr.dataset) if c in df.columns]
        rest = [c for c in df.columns if c not in proj]
        return df.orderBy(*order).limit(expr.limit).select(*proj, *rest)

    def run_graph(
        self,
        exprs: dict[str, BaseExpr],
        formulae: list[str],
        df: DataFrame,
        start_ts: int | None = None,
        end_ts: int | None = None,
        step_ms: int | None = None,
    ) -> dict[str, DataFrame]:
        """Evaluate a full graph request (reference: /api/v1/graph with an
        ASTInput body — every labeled BaseExpr runs, then each formula
        combines the labeled results). Returns {label_or_formula: DataFrame};
        formula inputs are the per-step global aggregation of each labeled
        series (reference: globalAgg over per-tag datapoint streams before
        formula evaluation).

        Each label's result is computed here, once, and held on the driver
        (:func:`lakeside_spark.materialize.on_driver`), the way the
        reference's query-api node holds the per-label streams it serves:
        collecting a label frame runs no Spark job, and formulae evaluate
        over the held results instead of re-scanning the lake once per
        label they reference."""
        from lakeside_spark.ast.formula import (
            eval_formula,
            formula_labels,
            parse_formula,
        )

        step_ms = step_ms or self.step_ms
        scoped = self._windowed(df, start_ts, end_ts)

        # single-scan fusion: same-dataset same-group-by simple-agg branches
        # aggregate together (one pass over the fact table instead of one
        # per label); everything else runs through the general path
        groups: dict[tuple, list[tuple[str, BaseExpr]]] = {}
        solo: dict[str, BaseExpr] = {}
        for label, e in exprs.items():
            if self._fusable(e):
                groups.setdefault((e.dataset, e.chart.group_bys), []).append(
                    (label, e)
                )
            else:
                solo[label] = e
        out: dict[str, DataFrame] = {}
        for batch in groups.values():
            if len(batch) >= 2:
                out.update(self._run_chart_fused(batch, scoped, step_ms))
            else:
                solo[batch[0][0]] = batch[0][1]
        out.update(
            {
                label: M.on_driver(self.run(e, scoped, step_ms=step_ms))
                for label, e in solo.items()
            }
        )
        if formulae:
            global_series = {
                label: s.groupBy(S.STEP_TS).agg(F.sum(S.VALUE).alias(S.VALUE))
                for label, s in out.items()
            }
            for f in formulae:
                ast = parse_formula(f)
                missing = formula_labels(ast) - set(global_series)
                if missing:
                    raise ValueError(
                        f"formula `{f}` references unknown expression id(s): "
                        f"{sorted(missing)}"
                    )
                out[f] = eval_formula(ast, global_series)
        return out

    @staticmethod
    def _distinct_key(expr: BaseExpr, df: DataFrame) -> Column:
        """The tuple whose distinct count is a query's cardinality: the
        chart group-bys ``df`` has, '|'-joined, else the name."""
        chart_keys = expr.chart.group_bys if expr.chart else ()
        group_bys = [g for g in chart_keys if g in df.columns]
        return F.concat_ws("|", *map(F.col, group_bys)) if group_bys else F.col(S.NAME)

    def query_cardinality(
        self,
        expr: BaseExpr,
        df: DataFrame,
        start_ts: int | None = None,
        end_ts: int | None = None,
    ) -> DataFrame:
        """Whole-range cardinality of the chart group tuple for a filtered
        query (reference: QueryEngineV2.computeCardinality — per-segment HLL
        sketches union-merged into one running estimate; Spark: one
        approx_count_distinct aggregation, whose partial sketches merge
        map-side exactly like the reference's union, or exact countDistinct
        for the oracle gate). Output: a single (value) row."""
        df = self._prepared(expr, self._windowed(df, start_ts, end_ts))
        key = self._distinct_key(expr, df)
        agg = F.approx_count_distinct(key) if self.approx else F.countDistinct(key)
        return df.agg(agg.cast("double").alias(S.VALUE))

    @staticmethod
    def _sketch_rollup(
        df: DataFrame, keys: list[str], sketch: Column, read, ingest_ms: int, query_ms: int
    ) -> DataFrame:
        """Two-grain sketch rollup (reference: TimeGroupedSketchAggregator):
        one ``sketch`` per ingest step and ``keys`` group, then per query
        step ``read`` of those sketches merged, not recomputed. Sketch
        bytes, not raw values, cross the query-time shuffle. Output:
        (step_ts, *keys, value) ordered by step."""
        sealed = df.groupBy(_snap(F.col(S.TIMESTAMP), ingest_ms).alias("ingest_ts"), *keys)
        merged = sealed.agg(sketch.alias("sketch")).groupBy(
            _snap(F.col("ingest_ts"), query_ms).alias(S.STEP_TS), *keys
        )
        return merged.agg(read(F.col("sketch")).cast("double").alias(S.VALUE)).orderBy(S.STEP_TS)

    def cardinality_sketch_rollup(
        self,
        expr: BaseExpr,
        df: DataFrame,
        ingest_step_ms: int,
        query_step_ms: int,
    ) -> DataFrame:
        """The reference's actual sketch path, end-to-end: per-segment HLL
        sketches built at ingest grain, then UNION-merged (not recomputed)
        at query grain (TimeGroupedSketchAggregator + HllSketch.union,
        QueryEngineV2.computeCardinality). Spark 3.5+ Datasketches exprs
        make this native: hll_sketch_agg at ingest_step, hll_union_agg +
        hll_sketch_estimate at query_step. At 100 TB the ingest sketches
        are tiny pre-aggregated state (bytes per series-hour), so the
        query-time shuffle moves sketches, never raw rows."""
        df = self._prepared(expr, df)
        return self._sketch_rollup(
            df, [], F.hll_sketch_agg(self._distinct_key(expr, df)),
            lambda s: F.hll_sketch_estimate(F.hll_union_agg(s)), ingest_step_ms, query_step_ms,
        )

    def percentile_sketch_rollup(
        self,
        expr: BaseExpr,
        df: DataFrame,
        ingest_step_ms: int,
        query_step_ms: int,
        quantile: float = 0.95,
    ) -> DataFrame:
        """Mergeable quantile sketches across segments — the reference's
        DDSketch path (TimeGroupedSketchAggregator merges per-segment
        DDSketches per step; getFromSketch reads the quantile). Spark's
        Datasketches KLL aggregates give the same shape natively:
        kll_sketch_agg at ingest grain, kll_merge_agg at query grain, then
        one quantile read per step and name."""
        df = self._prepared(expr, df)

        def read(sketch: Column) -> Column:
            # a group whose values are all null has an empty sketch, whose
            # quantile read raises; like an exact percentile it reads null
            merged = F.kll_merge_agg_double(sketch)
            quantile_of = F.kll_sketch_get_quantile_double(merged, F.lit(quantile))
            return F.when(F.kll_sketch_get_n_double(merged) > 0, quantile_of)

        kll = F.kll_sketch_agg_double(F.col(S.VALUE).cast("double"))
        keys = [S.NAME] if S.NAME in df.columns else []
        return self._sketch_rollup(df, keys, kll, read, ingest_step_ms, query_step_ms)

    @staticmethod
    def _per_column(df: DataFrame, cols: list[str], agg, name: str) -> DataFrame:
        """One ``agg`` per column of ``cols`` in a single map-side-combinable
        aggregate over the scan, exploded to (tag_name, ``name``) rows with
        a positive ``name``."""
        if not cols:
            return df.sparkSession.createDataFrame(
                [], schema=f"tag_name string, {name} bigint"
            )
        counts = df.agg(*[agg(c).alias(c) for c in cols])
        pairs = F.array(
            *[F.struct(F.lit(c).alias("tag_name"), F.col(c).alias(name)) for c in cols]
        )
        return (
            counts.select(F.explode(pairs).alias("p"))
            .select("p.tag_name", f"p.{name}")
            .filter(F.col(name) > 0)
        )

    def tag_names(
        self, expr: BaseExpr, df: DataFrame, drop_noisy: bool = False
    ) -> DataFrame:
        """Available tag names + non-null counts for a filtered query
        (reference: /api/v1/tags/{dataset} with no tagName — tag keys come
        from segment metadata; here one map-side aggregate over the scan
        counts every non-canonical column at once, no per-tag pass).
        drop_noisy applies NoisyTagsDropper semantics (reference
        NoisyTagsDropper.scala via Commons.scala:414): internal/bookkeeping
        tag names and rollup_* columns never reach the response."""
        df = self._prepared(expr, df)
        canonical = {S.TIMESTAMP, S.VALUE, S.MESSAGE, S.STEP_TS}
        tags = [c for c in df.columns if c not in canonical]
        if drop_noisy:
            from lakeside_spark.functions.noisytags import is_noisy_tag_name

            tags = [t for t in tags if not is_noisy_tag_name(t)]
        return self._per_column(df, tags, F.count, "count")

    def tag_values(
        self, expr: BaseExpr, df: DataFrame, tag_name: str, drop_noisy: bool = False
    ) -> DataFrame:
        """Distinct tag values + counts (reference: generateSql isTagQuery
        path, BaseExpr.scala:127-143). drop_noisy removes null/empty/'null'
        values the way NoisyTagsDropper strips them from datapoint tags."""
        df = self._prepared(expr, df)
        if drop_noisy:
            from lakeside_spark.functions.noisytags import displayable_value

            df = df.filter(displayable_value(F.col(tag_name)))
        return df.groupBy(F.col(tag_name)).agg(F.count(F.lit(1)).alias("count"))

    def scope_tags(
        self, df: DataFrame, scope_dims: tuple[str, ...]
    ) -> DataFrame:
        """Scope-dimension catalog (reference: /api/v1/scopeTags,
        QueryApi.scala:56-62 serving Commons.INFRA_DIMENSIONS): the infra
        dimensions a customer can scope queries by, restricted to those
        actually present in the data, with distinct-value counts — one
        map-side-combinable aggregate over the scan."""
        dims = [d for d in scope_dims if d in df.columns]
        return self._per_column(df, dims, F.countDistinct, "n_values")
