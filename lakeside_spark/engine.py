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
cardinality. Percentile/cardinality default to exact (for oracle parity) and
switch to sketch-based approx (``approx=True``) for the 100 TB path, which
also unlocks partial aggregation for them.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeside_spark import schema as S
from lakeside_spark.ast.compute import compute_labels, function_call_to_column
from lakeside_spark.ast.filters import filter_to_column
from lakeside_spark.ast.model import BaseExpr

_PERCENTILE_RE = re.compile(r"^p(\d{1,2}(\.\d+)?)$")


def _agg_column(
    aggregation: str, target: Column, group_bys: tuple[str, ...], approx: bool
) -> Column:
    """Aggregation name → Column (reference: getChartSql + getFromSketch,
    BaseExpr.scala:47-95: min/max/sum/count/avg, pNN via DDSketch, ces via
    HLL). Approx mode = the sketch path, exact mode = the oracle path."""
    m = _PERCENTILE_RE.match(aggregation)
    if m:
        q = float(m.group(1)) / 100.0
        return (
            F.percentile_approx(target, q, 10_000) if approx else F.percentile(target, q)
        )
    if aggregation == S.CARDINALITY_ESTIMATE_AGGREGATION:
        # reference HLLAggregator keys on the ':'-joined groupBys values
        key = (
            F.concat_ws(":", *[F.col(g) for g in group_bys])
            if group_bys
            else target.cast("string")
        )
        return F.approx_count_distinct(key) if approx else F.countDistinct(key)
    if aggregation == S.COUNT:
        return F.count(target)
    if aggregation in (S.SUM, S.AVG, S.MIN, S.MAX):
        return getattr(F, aggregation if aggregation != S.AVG else "avg")(target)
    raise ValueError(f"Invalid aggregation {aggregation}")


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` computed now and held on the driver: one Arrow collect, then
    a frame over the collected table — a LocalRelation below Arrow's
    local-relation threshold, so consumers re-read the rows without
    recomputing them and a collect runs no job. For results, not inputs:
    the rows live in driver memory. The explicit schema keeps column
    types and nullability, also for zero rows."""
    return df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)


class QueryEngine:
    """Runs BaseExprs / tag queries over a canonical telemetry DataFrame."""

    #: session-wide default for chart-aggregation salting — set it once
    #: (spark.conf.set) and every QueryEngine constructed without an
    #: explicit salt_partitions picks it up. AQE's skew handling covers
    #: shuffle JOINS only, not aggregations, so a deployment that knows its
    #: telemetry has dominant hot (step, name) keys opts the whole fleet in
    #: here instead of threading a parameter through every call site.
    SALT_CONF = "spark.lakeside.chart.saltPartitions"

    def __init__(
        self,
        spark,
        step_ms: int = S.DEFAULT_STEP_MS,
        approx: bool = False,
        salt_partitions: int | None = None,
        order_by_step: bool = False,
    ):
        self.spark = spark
        self.step_ms = step_ms
        self.approx = approx
        #: >1 enables salted two-phase chart aggregation for hot-key skew
        #: (a single dominant metric name lands on one reducer otherwise);
        #: exact for count/sum/avg/min/max, ignored for sketch aggs.
        #: None (default) defers to the SALT_CONF session conf.
        if salt_partitions is None:
            try:
                salt_partitions = int(spark.conf.get(self.SALT_CONF, "1"))
            except (ValueError, TypeError):
                salt_partitions = 1
        self.salt = salt_partitions
        #: opt-in time-ordered chart delivery, restoring the reference's
        #: SegmentSequencer/SequencingStrategy contract (results streamed to
        #: the consumer in step order, core SegmentSequencer.scala). Default
        #: off: a global sort is a rangepartitioning Exchange on every chart
        #: query, and ordering is a presentation concern for most callers.
        self.order_by_step = order_by_step

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

    def _existing(self, df: DataFrame, expr: BaseExpr) -> set[str]:
        names = set(df.columns)
        if expr.extractor:
            names |= {f.name for f in expr.extractor.fields}
        if expr.compute:
            names.add(expr.compute.label_name)
        return names

    def _chart_value_column(self, expr: BaseExpr) -> Column:
        """Aggregation target (reference: getChartSql calc, BaseExpr.scala:
        350-369): VALUE by default; else try_cast(field as double) with
        duration ns→ms (/1e6) and datasize →KB (/1000) normalization."""
        chart = expr.chart
        if not chart.field_name or chart.field_name == S.VALUE:
            return F.col(S.VALUE)
        base = F.col(chart.field_name).cast("double")
        if chart.field_type == S.DURATION_TYPE:
            base = base / 1_000_000.0
        elif chart.field_type == S.DATA_SIZE_TYPE:
            base = base / 1000.0
        return base

    def _chart_transform(self, expr: BaseExpr, value: Column, step_ms: int) -> Column:
        """rate↔count normalization (reference: getTransformerFunc,
        ASTUtils.scala:190-219)."""
        step_seconds = step_ms / 1000.0
        ct, mt = expr.chart.chart_type, expr.metric_type
        if expr.dataset == S.DATASET_METRICS:
            if ct == "count" and mt == "rate":
                return value * step_seconds
            if ct == "rate" and mt == "count":
                return value / step_seconds
            return value
        if ct == "rate":
            return value / step_seconds
        return value

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
        if start_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) >= F.lit(start_ts))
        if end_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) < F.lit(end_ts))

        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))

        if expr.chart:
            return self._run_chart(expr, df, step_ms)
        return self._run_exemplars(expr, df)

    def _run_chart(self, expr: BaseExpr, df: DataFrame, step_ms: int) -> DataFrame:
        chart = expr.chart
        group_bys = tuple(g for g in chart.group_bys if g in df.columns)
        step_col = F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(step_ms)
        if expr.dataset == S.DATASET_METRICS and chart.rollup:
            # metrics arrive pre-rolled-up per ingest step (rollup_sum,
            # rollup_avg, ...); the chart re-aggregates the rollup column at
            # the query step (BaseExpr.scala:376-395)
            target = F.col(f"rollup_{chart.rollup}")
        else:
            target = self._chart_value_column(expr)
        if chart.field_name and chart.field_name != S.VALUE:
            df = df.filter(F.col(chart.field_name).isNotNull())

        agg = _agg_column(chart.aggregation, target, group_bys, self.approx)
        value = self._chart_transform(expr, agg.cast("double"), step_ms)

        keys = [step_col.alias(S.STEP_TS)]
        if chart.aggregation == S.CARDINALITY_ESTIMATE_AGGREGATION:
            # ces consumes the groupBys as the distinct key; the estimate is
            # global per step (reference: HLLAggregator emits empty tags,
            # PushDownAggregatorStage keys only on moduloTs)
            pass
        else:
            if S.NAME in df.columns:
                keys.append(F.col(S.NAME))
            keys += [F.col(g) for g in group_bys]
        if self.salt > 1 and chart.aggregation in (S.COUNT, S.SUM, S.AVG, S.MIN, S.MAX):
            # two-phase with a salt key: partial aggregates spread a hot
            # (step_ts, name) key over `salt` reducers, the merge phase is
            # tiny. Exact: count/sum/min/max re-aggregate losslessly; avg
            # carries (sum, count). Sketch aggs (pNN, ces) skip salting —
            # their partial buffers already combine map-side.
            salt_col = F.pmod(F.monotonically_increasing_id(), F.lit(self.salt)).alias(
                "__salt"
            )
            partials = {
                S.COUNT: [F.count(target).alias("__c")],
                S.SUM: [F.sum(target).alias("__s")],
                S.MIN: [F.min(target).alias("__s")],
                S.MAX: [F.max(target).alias("__s")],
                S.AVG: [F.sum(target).alias("__s"), F.count(target).alias("__c")],
            }[chart.aggregation]
            merged = {
                S.COUNT: F.sum("__c"),
                S.SUM: F.sum("__s"),
                S.MIN: F.min("__s"),
                S.MAX: F.max("__s"),
                S.AVG: F.sum("__s") / F.sum("__c"),
            }[chart.aggregation]
            value = self._chart_transform(expr, merged.cast("double"), step_ms)
            part = df.groupBy(*keys, salt_col).agg(*partials)
            final_keys = [S.STEP_TS] + [
                c for c in part.columns if c not in ("__salt", "__s", "__c", S.STEP_TS)
            ]
            return self._sequenced(part.groupBy(*final_keys).agg(value.alias(S.VALUE)))
        # no ORDER BY by default: series ordering is presentation-layer
        # concern (the reference sorts for SSE emission); a global sort here
        # costs a rangepartitioning exchange on every chart query. Consumers
        # that need order (moving windows, fill) sort within their own window
        # specs; result comparison is order-insensitive. order_by_step=True
        # opts back into the reference's sequenced-delivery contract.
        return self._sequenced(df.groupBy(*keys).agg(value.alias(S.VALUE)))

    def _sequenced(self, out: DataFrame) -> DataFrame:
        """SegmentSequencer-style ordered delivery when opted in (reference:
        core SegmentSequencer.scala / SequencingStrategy.scala — per-segment
        results are released to the consumer in time order)."""
        return out.orderBy(S.STEP_TS) if self.order_by_step else out

    def multi_agg(
        self,
        expr: BaseExpr,
        df: DataFrame,
        aggregations: tuple[str, ...] = (S.SUM, S.AVG, S.MIN, S.MAX),
        step_ms: int | None = None,
    ) -> DataFrame:
        """All requested simple aggregations of one chart expr in a SINGLE
        groupBy (one scan, one shuffle). The reference evaluates one
        aggregation per request (getChartSql); batching N panels over the
        same metric here collapses N scans into one — at 100 TB that is the
        difference between one pass over the fact table and four. Columns
        come out as ``{agg}_value``; partial aggregation computes every
        measure map-side in the same buffer."""
        step_ms = step_ms or self.step_ms
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
        chart = expr.chart
        group_bys = tuple(g for g in chart.group_bys if g in df.columns)
        step_col = F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(step_ms)
        target = self._chart_value_column(expr)
        keys = [step_col.alias(S.STEP_TS)]
        if S.NAME in df.columns:
            keys.append(F.col(S.NAME))
        keys += [F.col(g) for g in group_bys]
        measures = [
            self._chart_transform(
                expr, _agg_column(a, target, group_bys, self.approx).cast("double"), step_ms
            ).alias(f"{a}_value")
            for a in aggregations
        ]
        return df.groupBy(*keys).agg(*measures)

    _FUSABLE_AGGS = (S.COUNT, S.SUM, S.MIN, S.MAX, S.AVG)

    def _fusable(self, e: BaseExpr) -> bool:
        """A branch can join a single-scan fused aggregation when it is a
        plain simple-agg chart over the raw value column (no extractor/
        compute/rollup/sketch agg) and salting is off."""
        return (
            e.chart is not None
            and e.chart.aggregation in self._FUSABLE_AGGS
            and e.extractor is None
            and e.compute is None
            and e.chart.rollup is None
            and (e.chart.field_name in (None, S.VALUE))
            and self.salt == 1
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
        becomes a conditional aggregate ``agg(when(branch_filter, value))``
        over the OR of all branch filters, plus a matched-row count whose
        ``> 0`` filter reconstructs exactly the per-branch group
        presence/absence the separate runs would produce (a step where
        only the other branch matched must stay missing, not zero)."""
        cols = set(df.columns)
        conds = {
            label: filter_to_column(e.filter, cols) for label, e in branches
        }
        combined = conds[branches[0][0]]
        for label, _ in branches[1:]:
            combined = combined | conds[label]
        df = df.filter(combined)
        group_bys = tuple(
            g for g in branches[0][1].chart.group_bys if g in df.columns
        )
        step_col = F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(step_ms)
        keys = [step_col.alias(S.STEP_TS)]
        sel_keys = [S.STEP_TS]
        if S.NAME in df.columns:
            keys.append(F.col(S.NAME))
            sel_keys.append(S.NAME)
        keys += [F.col(g) for g in group_bys]
        sel_keys += list(group_bys)
        aggs = []
        for i, (label, e) in enumerate(branches):
            target = self._chart_value_column(e)
            w = F.when(conds[label], target)
            agg = {
                S.COUNT: F.count(w),
                S.SUM: F.sum(w),
                S.MIN: F.min(w),
                S.MAX: F.max(w),
                S.AVG: F.avg(w),
            }[e.chart.aggregation]
            aggs.append(
                self._chart_transform(e, agg.cast("double"), step_ms).alias(
                    f"__v{i}"
                )
            )
            aggs.append(
                F.count(F.when(conds[label], F.lit(1))).alias(f"__n{i}")
            )
        # materialized once on the driver (_materialized): every label (and
        # each formula referencing it) consumes this frame, and exchange
        # reuse does not reliably dedupe the subtrees across union branches
        # — without it N consumers mean N scans of the fact table. The
        # frame is post-aggregation (steps × names rows, KBs), so the
        # per-label filter/select folds into the local relation and a
        # label's collect runs no job.
        agged = _materialized(df.groupBy(*keys).agg(*aggs))
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
        (:func:`_materialized`), the way the reference's query-api node
        holds the per-label streams it serves: collecting a label frame
        runs no Spark job, and formulae evaluate over the held results
        instead of re-scanning the lake once per label they reference."""
        from lakeside_spark.ast.formula import (
            eval_formula,
            formula_labels,
            parse_formula,
        )

        step_ms = step_ms or self.step_ms
        scoped = df
        if start_ts is not None:
            scoped = scoped.filter(F.col(S.TIMESTAMP) >= F.lit(start_ts))
        if end_ts is not None:
            scoped = scoped.filter(F.col(S.TIMESTAMP) < F.lit(end_ts))

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
                label: _materialized(self.run(e, scoped, step_ms=step_ms))
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
        if start_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) >= F.lit(start_ts))
        if end_ts is not None:
            df = df.filter(F.col(S.TIMESTAMP) < F.lit(end_ts))
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
        group_bys = tuple(g for g in (expr.chart.group_bys if expr.chart else ()) if g in df.columns)
        key = F.concat_ws("|", *[F.col(g) for g in group_bys]) if group_bys else F.col(S.NAME)
        agg = F.approx_count_distinct(key) if self.approx else F.countDistinct(key)
        return df.agg(agg.cast("double").alias(S.VALUE))

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
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
        group_bys = tuple(
            g for g in (expr.chart.group_bys if expr.chart else ()) if g in df.columns
        )
        key = (
            F.concat_ws("|", *[F.col(g) for g in group_bys])
            if group_bys
            else F.col(S.NAME)
        )
        ingest_step = F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(ingest_step_ms)
        sealed = df.groupBy(ingest_step.alias("ingest_ts")).agg(
            F.hll_sketch_agg(key).alias("hll")
        )
        query_step = F.col("ingest_ts") - F.col("ingest_ts") % F.lit(query_step_ms)
        return (
            sealed.groupBy(query_step.alias(S.STEP_TS))
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("hll"))
                .cast("double")
                .alias(S.VALUE)
            )
            .orderBy(S.STEP_TS)
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
        one quantile read per step. Sketch bytes, not raw values, cross
        the query-time shuffle."""
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
        ingest_step = F.col(S.TIMESTAMP) - F.col(S.TIMESTAMP) % F.lit(ingest_step_ms)
        keys = [F.col(S.NAME)] if S.NAME in df.columns else []
        sealed = df.groupBy(ingest_step.alias("ingest_ts"), *keys).agg(
            F.kll_sketch_agg_double(F.col(S.VALUE).cast("double")).alias("kll")
        )
        query_step = F.col("ingest_ts") - F.col("ingest_ts") % F.lit(query_step_ms)
        merged = sealed.groupBy(query_step.alias(S.STEP_TS), *keys).agg(
            F.kll_merge_agg_double("kll").alias("kll")
        )
        return merged.select(
            S.STEP_TS,
            *[k.alias(S.NAME) for k in keys],
            F.kll_sketch_get_quantile_double("kll", F.lit(quantile))
            .cast("double")
            .alias(S.VALUE),
        ).orderBy(S.STEP_TS)

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
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
        canonical = {S.TIMESTAMP, S.VALUE, S.MESSAGE, S.STEP_TS}
        tags = [c for c in df.columns if c not in canonical]
        if drop_noisy:
            from lakeside_spark.functions.noisytags import is_noisy_tag_name

            tags = [t for t in tags if not is_noisy_tag_name(t)]
        counts = df.agg(*[F.count(t).alias(t) for t in tags])
        pairs = F.array(
            *[
                F.struct(F.lit(t).alias("tag_name"), F.col(t).alias("count"))
                for t in tags
            ]
        )
        return (
            counts.select(F.explode(pairs).alias("p"))
            .select("p.tag_name", "p.count")
            .filter(F.col("count") > 0)
        )

    def tag_values(
        self, expr: BaseExpr, df: DataFrame, tag_name: str, drop_noisy: bool = False
    ) -> DataFrame:
        """Distinct tag values + counts (reference: generateSql isTagQuery
        path, BaseExpr.scala:127-143). drop_noisy removes null/empty/'null'
        values the way NoisyTagsDropper strips them from datapoint tags."""
        existing = self._existing(df, expr)
        df = self._apply_extract(df, expr)
        df = self._apply_compute(df, expr)
        df = df.filter(filter_to_column(expr.filter, existing))
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
        if not dims:
            return df.sparkSession.createDataFrame(
                [], schema="tag_name string, n_values bigint"
            )
        counts = df.agg(*[F.countDistinct(d).alias(d) for d in dims])
        pairs = F.array(
            *[
                F.struct(F.lit(d).alias("tag_name"), F.col(d).alias("n_values"))
                for d in dims
            ]
        )
        return (
            counts.select(F.explode(pairs).alias("p"))
            .select("p.tag_name", "p.n_values")
            .filter(F.col("n_values") > 0)
        )
