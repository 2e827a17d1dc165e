"""User-behavior / trace-topology operators: funnels, event paths,
service graphs.

The reference serves raw telemetry and chart aggregations; product
analytics on top of the same event stream (conversion funnels, common
navigation paths, span-adjacency service maps) are the natural next
queries a telemetry user runs, and none of them is a Spark built-in.
All three are expressed as declarative DataFrame plans:

- ``funnel``: strict-order conversion funnel. Step 1 completion is the
  user's first matching event; step i completes at the first matching
  event within ``window_ms`` AFTER the previous step's completion
  (cascading windows — the standard "strict funnel" definition). Shape:
  one step-name-IN scan (predicate pushed to parquet) + one user-keyed
  conditional aggregation, so at 100 TB the fact table is read once and
  the one shuffle is *distinct-user-sized*.
- ``next_event_edges``: adjacent-event transition edges per key
  ((prev event → event) counts + mean gap). One keyed window over
  (key, ts, tiebreak) — a single shuffle; the edge table is
  name-vocabulary², tiny. With the traces mapping this is the classic
  span-adjacency service-dependency graph.
- ``path_topk``: top-k length-``depth`` event sequences (navigation /
  error-cascade mining). Same single keyed window (lag chain), one
  vocabulary-sized count aggregation, deterministic (count desc, path
  asc) ranking.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakeside_spark import materialize as M


def funnel(
    events: DataFrame,
    steps: list[str],
    window_ms: int,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
) -> DataFrame:
    """(step, step_name, users): distinct users completing each funnel
    step in order, each step within ``window_ms`` of the previous one.

    Single pass: ONE name-filtered scan + ONE user-keyed conditional
    aggregation collects each step's sorted timestamps per user, then
    the strict min-ts chain runs as array HOFs on the user-sized table —
    t₁ = a₁[0], tᵢ = min{t ∈ aᵢ : tᵢ₋₁ < t ≤ tᵢ₋₁+W}. The HOFs are
    interpreted, but they run over user-count rows with per-user-sized
    arrays — the corpus-sized work is all in the codegen'd scan and the
    map-side-combined collect. A NULL previous step propagates through
    the filter to NULL, so count(tᵢ) is exactly the step-i completion
    count. Limit: a pathological per-user event volume (bot users)
    concentrates all of that user's step timestamps in one aggregation
    buffer. Every step emits a row even when zero users complete it
    (users=0) — consumers and the oracle count k rows for a k-step
    funnel. Step names must be distinct: a repeated name is ambiguous
    under min-ts chaining, so it is rejected."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel step names must be distinct: {steps}")
    # a NULL user id is not a user: groupBy would pool all NULL rows into
    # one phantom "user" (the distinct-users contract excludes them)
    events = events.filter(F.col(user_col).isNotNull())
    k = len(steps)
    src = events.filter(F.col(name_col).isin(list(steps))).select(
        user_col, name_col, ts_col
    )
    g = src.groupBy(user_col).agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col(name_col) == s, F.col(ts_col)))
            ).alias(f"__a{i}")
            for i, s in enumerate(steps)
        ]
    )
    # try_element_at: a user with no step-1 events has an EMPTY __a0
    # (plain element_at throws INVALID_ARRAY_INDEX in Spark 4)
    g = g.withColumn("__t0", F.try_element_at("__a0", F.lit(1)))

    def _chain_pred(p):
        # closure factory, NOT a default-arg lambda: PySpark reads a
        # two-parameter lambda as (element, index) and would bind the
        # captured column to the array index. p.isNotNull() first so an
        # incomplete previous step yields FALSE, not NULL (NULL keeps
        # the element in Spark's filter HOF).
        return lambda x: p.isNotNull() & (x > p) & (x <= p + F.lit(window_ms))

    for i in range(1, k):
        g = g.withColumn(
            f"__t{i}",
            F.array_min(F.filter(F.col(f"__a{i}"), _chain_pred(F.col(f"__t{i-1}")))),
        )
    row = g.agg(*[F.count(f"__t{i}").alias(f"__c{i}") for i in range(k)])
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("bigint").alias("step"),
                        F.lit(s).alias("step_name"),
                        F.col(f"__c{i}").cast("bigint").alias("users"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("s")
    ).select("s.step", "s.step_name", "s.users")


def next_event_edges(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(src, dst, n, avg_gap_ms): adjacent-event transition edges per key."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    with_prev = events.select(
        F.lag(name_col).over(w).alias("src"),
        F.col(name_col).alias("dst"),
        (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap_ms"),
    ).filter(F.col("src").isNotNull())
    return with_prev.groupBy("src", "dst").agg(
        F.count("*").alias("n"),
        F.round(F.avg("gap_ms"), 6).alias("avg_gap_ms"),
    )


def path_topk(
    events: DataFrame,
    depth: int = 3,
    k: int = 10,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(rank, path, n): the k most common length-``depth`` event paths."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    lags = [
        F.lag(name_col, depth - 1 - i).over(w) for i in range(depth - 1)
    ] + [F.col(name_col)]
    paths = events.select(
        F.concat_ws(" > ", *lags).alias("path"),
        lags[0].alias("_first"),
    ).filter(F.col("_first").isNotNull())
    counted = paths.groupBy("path").agg(F.count("*").alias("n"))
    rk = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        counted.select(
            F.row_number().over(rk).cast("bigint").alias("rank"), "path", "n"
        )
        .filter(F.col("rank") <= k)
    )


# caps at or below this run the zero-join window-chain attribution plan
# (one chained Window operator per allowed touch); larger caps fall back
# to the bounded explode + equi-join plan, whose cost is O(N) rows per
# conversion without a per-N plan operator.
_TOUCH_CHAIN_CAP = 16


def attribution(
    events: DataFrame,
    conversion: str = "purchase",
    channels: tuple[str, ...] = ("view", "click", "signup"),
    lookback_ms: int = 7 * 86_400_000,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
    tiebreak_col: str = "event_id",
    max_touches: int | None = None,
) -> DataFrame:
    """Multi-touch conversion attribution: credit each ``conversion``
    event to the ``channels`` touchpoints the same user produced in the
    ``lookback_ms`` window before it, under the three standard models —
    first_touch (100% to the earliest touch), last_touch (100% to the
    latest), linear (split evenly). Conversions with no in-window touch
    are credited to the 'direct' channel, so the three models each
    conserve total conversion count.

    ``max_touches`` caps attribution at the N most RECENT touches per
    conversion (ties broken by ``tiebreak_col``). This is the semantic
    mitigation for power-user skew: the uncapped range join's fan-out is
    touches×conversions per user — genuinely quadratic in per-user
    in-window activity, and real output the linear model must credit.
    The N-most-recent-overall ∩ lookback window equals the most recent
    ≤N WITHIN the window (touches older than an out-of-window touch are
    out of window too), so first_touch becomes "first of the capped
    window", linear splits over ≤N, and both still conserve exactly one
    conversion of credit. None (default) keeps the uncapped range join.

    Capped plan (N ≤ 16): ONE sort, ZERO joins. The touch∪conversion
    stream is sorted once per user (ts, conversions-before-same-ts-
    touches, tiebreak) and N chained ``last(…, ignoreNulls)`` window
    passes — each masked to touch rows, each reading the previous
    layer's output over the rows-frame (unbounded, -1) — hand every
    row the structs of its 1st..Nth most recent strictly-earlier
    touches. A conversion row then filters its N-array by the lookback
    bound (the kept set is a recency-prefix: once a touch is too old,
    all older ones are too) and emits its credit rows directly —
    first = oldest kept, last = newest kept, linear = round(1e6/m)
    per kept touch, direct when none survive. Every window pass is an
    O(rows) incremental scan over the one sorted exchange; per-row
    state is N 9-byte structs. Caps above 16 fall back to the
    sequence-index plan: one stream window hands every conversion the
    index L of its latest strictly-earlier touch, and a bounded
    explode(L-N+1..L) equi-join fetches the touch rows — O(N) rows per
    conversion at any user heat, two consumers of one shuffle stage
    (AQE-reused) instead of the chain's single consumer.

    Credit is integer MICRO-units (first/last: 1e6 per conversion;
    linear: round(1e6/n) per touch) summed exactly, divided once at the
    end — no float accumulation order can perturb the result across
    engines (a linear n=3 conversion sums to 0.999999, documented
    fixed-point semantics). Shape: one name-IN-pushed scan each side,
    one user-keyed range join (touch fan-out bounded by per-user
    activity in the window, AQE skew-join handles power users), one
    map-side-combined (conversion, channel) aggregate + one window over
    that channel-vocabulary-bounded frame, one tiny final aggregate.

    Output: (model, channel, credit, n_conversions).
    """
    conv = events.filter(
        (F.col(name_col) == conversion) & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("conv_ts"),
        F.col(tiebreak_col).alias("conv_id"),
    )
    touch = events.filter(
        F.col(name_col).isin(*channels) & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("t_ts"),
        F.col(name_col).alias("channel"),
        F.col(tiebreak_col).alias("t_id"),
    )
    if max_touches is not None and max_touches < 1:
        raise ValueError(
            f"attribution: max_touches={max_touches} — the cap must be >= 1 "
            "(0 would make F.sequence(L+1, L) step BACKWARD and credit a "
            "touch at/after the conversion); pass None for uncapped"
        )
    credits = None
    if max_touches is None:
        j = (
            conv.alias("c")
            .join(
                touch.alias("t"),
                on=(
                    (F.col("t._u") == F.col("c._u"))
                    & (
                        F.col("t.t_ts")
                        >= F.col("c.conv_ts") - F.lit(lookback_ms)
                    )
                    & (F.col("t.t_ts") < F.col("c.conv_ts"))
                ),
                how="left",
            )
            .select("c.conv_id", "t.channel", "t.t_ts", "t.t_id")
        )
    elif max_touches <= _TOUCH_CHAIN_CAP:
        # chain plan: ONE sort, ZERO joins (see docstring). The stream
        # row is fixed-width — channel dictionary-encoded to a tinyint
        # (0 = conversion, i+1 = channels[i]); conversions sort BEFORE
        # same-ts touches so the rows-frame (unbounded, -1) sees exactly
        # the strictly-earlier touches the strict-< rule admits.
        is_conv = F.col(name_col) == conversion
        ch_code = F.lit(0)
        for i, ch in enumerate(channels):
            ch_code = F.when(F.col(name_col) == ch, F.lit(i + 1)).otherwise(
                ch_code
            )
        # the touch marker is materialized as a COLUMN, not left as an
        # inline order-by expression: the analyzer extracts an inline
        # expression into a fresh projected attribute per Window
        # operator, so each chained layer would demand a different
        # required ordering and re-sort — with the column, all N layers
        # share the one sort (plan-pinned: Sorts == 1 before the agg).
        stream = events.filter(
            (is_conv | F.col(name_col).isin(*channels))
            & F.col(user_col).isNotNull()
        ).select(
            F.col(user_col).alias("_u"),
            F.col(ts_col).alias("__ts"),
            ch_code.cast("byte").alias("__ch"),
            F.col(tiebreak_col).alias("__tid"),
            (ch_code > 0).cast("byte").alias("__mk"),
        )
        w_prev = (
            Window.partitionBy("_u")
            .orderBy("__ts", "__mk", "__tid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # layer k hands every row the struct of its k-th most recent
        # strictly-earlier touch: __mk is the (k-1)-layer value masked
        # to touch rows, so last(__mk, ignoreNulls) at any row is the
        # latest touch's (k-1)-back touch = the k-th-back touch. Each
        # pass is an incremental O(rows) scan over the SAME sorted
        # exchange — Catalyst stacks the k Window operators above one
        # Sort (dependency-chained projections, no re-sort, no join).
        cur = stream.select(
            "*",
            F.when(
                F.col("__ch") > 0,
                F.struct(
                    F.col("__ts").alias("ts"), F.col("__ch").alias("ch")
                ),
            ).alias("__m1"),
        )
        for k in range(1, max_touches + 1):
            cur = cur.select(
                "*", F.last(f"__m{k}", True).over(w_prev).alias(f"__c{k}")
            )
            if k < max_touches:
                cur = cur.select(
                    "*",
                    F.when(F.col("__ch") > 0, F.col(f"__c{k}")).alias(
                        f"__m{k + 1}"
                    ),
                )
        # a conversion keeps the recency-PREFIX of its N-array that
        # clears the lookback bound (once a touch is too old, all older
        # ones are too), then emits its credit rows directly: first =
        # oldest kept, last = newest kept, linear = round(1e6/m) per
        # kept touch, direct when none survive.
        lb = F.col("__ts") - F.lit(lookback_ms)
        kept = F.filter(
            F.array(*[F.col(f"__c{k}") for k in range(1, max_touches + 1)]),
            lambda e: e.isNotNull() & (e["ts"] >= lb),
        )
        conv_rows = cur.filter(F.col("__ch") == 0).select(
            F.col("__tid").alias("conv_id"), kept.alias("__a")
        )
        names = F.array(*[F.lit(c) for c in channels])

        def _ch_name(code):
            return F.element_at(names, code.cast("int"))

        unit = F.lit(1_000_000).cast("long")
        n = F.size("__a")
        lin_mc = F.round(F.lit(1.0e6) / n, 0).cast("long")

        def _entry(model, channel, mc):
            return F.struct(
                F.lit(model).alias("model"),
                channel.alias("channel"),
                mc.alias("mc"),
            )

        direct = F.lit("direct")
        entries = F.when(
            n == 0,
            F.array(
                _entry("first_touch", direct, unit),
                _entry("last_touch", direct, unit),
                _entry("linear", direct, unit),
            ),
        ).otherwise(
            F.concat(
                F.array(
                    _entry(
                        "first_touch",
                        _ch_name(F.element_at(F.col("__a"), -1)["ch"]),
                        unit,
                    ),
                    _entry(
                        "last_touch",
                        _ch_name(F.element_at(F.col("__a"), 1)["ch"]),
                        unit,
                    ),
                ),
                F.transform(
                    F.col("__a"),
                    lambda e: _entry("linear", _ch_name(e["ch"]), lin_mc),
                ),
            )
        )
        credits = conv_rows.select(
            "conv_id", F.explode(entries).alias("e")
        ).select("conv_id", "e.channel", "e.model", "e.mc")
    else:
        # capped plan: ONE stream window over the touch∪conversion union
        # (sorted by ts, with same-ts touches AFTER conversions — the
        # strict-< rule) hands out BOTH per-user touch sequence indices
        # (cumsum of the touch marker includes self on touch rows) and
        # each conversion's latest-strictly-earlier-touch index L (the
        # same cumsum on conversion rows), then a bounded
        # explode(L-N+1..L) equi-join back to the touch rows of the SAME
        # windowed frame — never the touches×conversions range-join
        # fan-out, and one shared exchange/sort where the first cut paid
        # a separate touch-index window (Catalyst reuses the union's
        # shuffle for both the conversion and touch consumers)
        # ONE scan builds the touch∪conversion stream: a conditional
        # projection over a single name-IN-pushed filter replaces the
        # r11 two-scan union (the self-join below replicates its input
        # subtree, so every scan saved here is saved twice). The stream
        # row is FIXED-WIDTH — channel dictionary-encoded to a tinyint
        # (0 = conversion, i+1 = channels[i]; the name column never
        # rides through the big exchange+sort) and the conversion id is
        # NOT a separate column (it equals __tid on conversion rows).
        is_conv = F.col(name_col) == conversion
        ch_code = F.lit(0)
        for i, ch in enumerate(channels):
            ch_code = F.when(F.col(name_col) == ch, F.lit(i + 1)).otherwise(
                ch_code
            )
        stream = events.filter(
            (is_conv | F.col(name_col).isin(*channels))
            & F.col(user_col).isNotNull()
        ).select(
            F.col(user_col).alias("_u"),
            F.col(ts_col).alias("__ts"),
            ch_code.cast("byte").alias("__ch"),
            F.col(tiebreak_col).alias("__tid"),
        )
        # strict <: same-ts touches (__ch > 0) sort AFTER the conversion
        touch_marker = (F.col("__ch") > 0).cast("int")
        w_stream = (
            Window.partitionBy("_u")
            .orderBy("__ts", touch_marker, "__tid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # The rows-window cumsum at a conversion row IS L (the index of
        # the latest strictly-earlier touch): same-ts touches sort
        # after it, so the sum excludes them exactly as the strict-<
        # rule requires. One extra RANGE-frame count over the same
        # exchange hands the conversion L0 (touches strictly before
        # the lookback start: __ts ≤ conv_ts−lookback−1), so the
        # in-window index range is (max(L0+1, L−N+1) .. L) BY
        # CONSTRUCTION — the r11 plan's post-join timestamp filter and
        # the conv_id self-join that re-attached filtered-empty
        # conversions both drop out (a direct conversion is simply a
        # left-join miss). Both windows share one partitionBy(_u)
        # exchange; the (_u, __idx) equi-join downstream reuses that
        # partitioning (hash on a key subset co-locates the join).
        w_before_lb = (
            Window.partitionBy("_u")
            .orderBy("__ts")
            .rangeBetween(Window.unboundedPreceding, -lookback_ms - 1)
        )
        indexed = stream.select(
            "*",
            F.sum(touch_marker).over(w_stream).alias("__idx"),
            F.count(F.when(F.col("__ch") > 0, 1))
            .over(w_before_lb)
            .alias("__L0"),
        )
        # branch symmetry: both self-join branches filter on __ch and
        # reference the identical (_u, __ts, __ch, __tid, __idx, __L0)
        # column set (the touch branch's __L0 ≥ 0 guard is tautological
        # — a count is never negative — but Catalyst can't prove it),
        # so column pruning yields the SAME canonical subtree below the
        # partitionBy(_u) Exchange in both branches and AQE reuses the
        # shuffle stage — without this the whole scan+shuffle ran twice
        # in the r11 plan
        touch_idx = (
            indexed.filter((F.col("__ch") > 0) & (F.col("__L0") >= 0))
            .select(
                "_u",
                "__idx",
                "__ch",
                F.col("__ts").alias("t_ts"),
                F.col("__tid").alias("t_id"),
            )
        )
        ch_name = F.lit(None).cast("string")
        for i, ch in enumerate(channels):
            ch_name = F.when(F.col("__ch") == i + 1, F.lit(ch)).otherwise(
                ch_name
            )
        j = (
            indexed.filter(F.col("__ch") == 0)
            .select(
                "_u",
                F.col("__tid").alias("conv_id"),
                F.explode_outer(
                    F.when(
                        F.col("__idx") > F.col("__L0"),
                        F.sequence(
                            F.greatest(
                                F.col("__L0") + F.lit(1),
                                F.col("__idx") - F.lit(max_touches - 1),
                            ),
                            F.col("__idx"),
                        ),
                    )
                ).alias("__idx"),
            )
            .join(touch_idx, ["_u", "__idx"], "left")
            .select("conv_id", ch_name.alias("channel"), "t_ts", "t_id")
        )
    if credits is None:
        # One map-side-combined hash aggregate collapses j to ≤|channels|+1
        # rows per conversion, so the per-conversion first/last/count math
        # runs over a channel-vocabulary-bounded frame instead of three
        # full-width window sorts over the touch fan-out (the three
        # rn_f/rn_l/n_t windows each paid a sort over conv×touches rows; a
        # conversion has either one all-null touch row or only real touches,
        # never both, so per-group counts and (t_ts, t_id) extrema losslessly
        # carry the per-touch information the models need: t_ts/t_id are
        # unique per touch, making the struct extrema tie-free).
        g = j.groupBy("conv_id", "channel").agg(
            F.count("t_id").alias("cnt"),
            F.min(F.struct("t_ts", "t_id")).alias("__fk"),
            F.max(F.struct("t_ts", "t_id")).alias("__lk"),
        )
        wn = Window.partitionBy("conv_id")
        per = g.select(
            "conv_id",
            "channel",
            "cnt",
            F.col("channel").isNull().alias("_direct"),
            F.sum("cnt").over(wn).alias("n_t"),
            (
                F.min(
                    F.struct(F.col("__fk").alias("k"), F.col("channel").alias("ch"))
                )
                .over(wn)
                .getField("ch")
                == F.col("channel")
            ).alias("is_first"),
            (
                F.max(
                    F.struct(F.col("__lk").alias("k"), F.col("channel").alias("ch"))
                )
                .over(wn)
                .getField("ch")
                == F.col("channel")
            ).alias("is_last"),
        )
        unit = F.lit(1_000_000).cast("long")
        micro = lambda c: F.when(F.col("_direct"), unit).otherwise(c)  # noqa: E731
        credits = per.select(
            "conv_id",
            F.coalesce("channel", F.lit("direct")).alias("channel"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("first_touch").alias("model"),
                        micro(
                            F.when(F.col("is_first"), unit).otherwise(F.lit(0))
                        ).alias("mc"),
                    ),
                    F.struct(
                        F.lit("last_touch").alias("model"),
                        micro(
                            F.when(F.col("is_last"), unit).otherwise(F.lit(0))
                        ).alias("mc"),
                    ),
                    F.struct(
                        F.lit("linear").alias("model"),
                        micro(
                            F.round(F.lit(1.0e6) / F.col("n_t"), 0).cast("long")
                            * F.col("cnt")
                        ).alias("mc"),
                    ),
                )
            ).alias("e"),
        ).select("conv_id", "channel", "e.model", "e.mc")
    return (
        credits.filter(F.col("mc") > 0)
        .groupBy("model", "channel")
        .agg(
            F.round(F.sum("mc") / F.lit(1.0e6), 6).alias("credit"),
            F.count_distinct("conv_id").alias("n_conversions"),
        )
    )


def rfm_segments(
    events: DataFrame,
    quantiles: tuple[float, ...] = (0.2, 0.4, 0.6, 0.8),
    approx: bool = False,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic behavior-analytics rollup: per-user recency in whole days
    since their last event (anchored at the corpus max timestamp, so the
    operator is closed over its input), event count, and exact monetary
    total, each scored 1-5 by corpus quintile, then mapped to the
    standard segment grid (champion / loyal / new / at_risk /
    hibernating / other).

    NOT a global ntile: ranking every user in one window needs a total
    order (a single-partition window at 100 TB). Instead the quintile
    BOUNDARIES are computed once — exact interpolated percentiles by
    default (oracle semantics; DuckDB quantile_cont is the identical
    type-7 definition), ``approx=True`` swaps in approx_percentile for
    the sketch-sized scale path — and broadcast, so scoring is a
    map-only comparison against four literals per metric. Ties sit ON a
    boundary and score the lower bin in both engines (strict >, with
    boundaries snapped to 1e-6 first).

    Monetary is summed in integer cents (round(value*100)) and divided
    once at the end — no float accumulation order. Recency scores are
    inverted (most recent day = 5).

    Shape: one user-keyed aggregation (map-side combined), one 4-value
    percentile aggregate + single-row max broadcast into a map-only
    scoring projection. Output: (user_id, recency_days, frequency,
    monetary, r_score, f_score, m_score, segment).
    """
    qs = F.lit(list(quantiles))
    pctl = F.percentile_approx if approx else F.percentile

    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(ts_col).alias("__last"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "__mon_c"
            ),
        )
    )
    anchor = per_user.agg(F.max("__last").alias("__mx"))
    base = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.floor((F.col("__mx") - F.col("__last")) / F.lit(86_400_000.0))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "__mon_c",
    )
    bounds = base.agg(
        pctl("recency_days", qs).alias("__rb"),
        pctl("frequency", qs).alias("__fb"),
        pctl("__mon_c", qs).alias("__mb"),
    )

    def above(metric: str, barr: str) -> F.Column:
        # count of boundaries strictly below the metric — 0..4
        return F.aggregate(
            F.col(barr),
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(metric) > F.round(b, 6), 1).otherwise(0),
        )

    scored = base.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "recency_days",
        "frequency",
        F.round(F.col("__mon_c") / 100.0, 2).alias("monetary"),
        (F.lit(5) - above("recency_days", "__rb")).alias("r_score"),
        (F.lit(1) + above("frequency", "__fb")).alias("f_score"),
        (F.lit(1) + above("__mon_c", "__mb")).alias("m_score"),
    )
    r, f_, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    segment = (
        F.when((r >= 4) & (f_ >= 4) & (m >= 4), "champion")
        .when((r >= 3) & (f_ >= 3), "loyal")
        .when((r >= 4) & (f_ <= 2), "new")
        .when((r <= 2) & (f_ >= 3), "at_risk")
        .when((r <= 2) & (f_ <= 2), "hibernating")
        .otherwise("other")
    )
    return scored.withColumn("segment", segment)


def interval_concurrency(
    spans: DataFrame,
    chunk_ms: int = 86_400_000,
    key_col: str = "span_name",
    ts_col: str = "timestamp_ms",
    dur_col: str = "value",
) -> DataFrame:
    """Sweep-line interval analytics per key: peak concurrency and total
    busy (union-of-intervals) time over the half-open spans
    ``[ts, ts + round(dur))`` — the capacity/utilization question every
    span store gets asked ("how many requests were in flight at the
    worst moment, and how long was the service busy at all?").

    NOT a single keyed window: a global per-key total order would put a
    hot service's entire 100 TB event stream in one partition. The sweep
    is CHUNKED: +1/-1 edge events are windowed only within
    ``(key, chunk)`` — a bounded, time-sliced partition — and chunks are
    stitched with a carry table (cumulative span balance entering each
    chunk) that is only keys x chunks big and broadcast back. Running
    concurrency = carry + within-chunk prefix; the head segment of each
    chunk (chunk start -> first event) and fully-empty chunks are
    accounted from the carry table itself. Ties at the same timestamp
    use the default RANGE frame, so all peers share the settled balance
    — ends sort before starts (half-open semantics), and the result is
    order-independent within peer groups in both engines.

    Output: (key, peak_concurrency, busy_ms, n_spans) per key with at
    least one positive-duration span.
    """
    dur = F.round(F.col(dur_col)).cast("long")
    base = spans.filter(F.col(key_col).isNotNull() & (dur > 0)).select(
        F.col(key_col).alias("k"), F.col(ts_col).alias("t"), dur.alias("d")
    )
    # ONE scan: each span expands to its +1/-1 edge pair map-side (the
    # old two-branch union scanned the source twice per consumer — with
    # the three ev consumers below that was six source scans per query)
    ev = base.select(
        "k",
        F.explode(
            F.array(
                F.struct(F.col("t").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("t") + F.col("d")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select("k", F.col("e.t").alias("t"), F.col("e.delta").alias("delta"))
    W = F.lit(int(chunk_ms))
    ev = ev.withColumn("b", F.floor(F.col("t") / W).cast("long"))

    # within-chunk prefix sums: RANGE frame (default) -> ties share the
    # settled balance; lead() is row-based but tie rows all carry the
    # same running value, so the attribution is order-independent
    wc = Window.partitionBy("k", "b").orderBy("t", "delta")
    chunk_end = (F.col("b") + 1) * W
    seg = ev.select(
        "k", "b", "t", "delta",
        F.sum("delta").over(wc).alias("run_in"),
        (F.coalesce(F.lead("t").over(wc), chunk_end) - F.col("t")).alias("len"),
    )

    # tiny carry table: keys x ACTIVE chunks only. Built from ev, NOT
    # seg: it only needs plain per-(k,b) aggregates, and deriving it
    # from seg would run the per-chunk window sort a second time. Empty
    # chunks between two active ones are NEVER enumerated (the old
    # explode(sequence(b0,b1)) form meant one corrupt far-future
    # timestamp materialized an astronomical chunk range and failed the
    # whole query): the balance is constant across an empty gap, so the
    # gap's busy time is (gap chunks) * W when the entering balance is
    # positive — pure arithmetic off lag(b). The carry after the last
    # active chunk is always 0 (every +1 has its -1), so no trailing gap
    # is ever dropped.
    tot = ev.groupBy("k", "b").agg(
        F.sum("delta").alias("tot"), F.min("t").alias("first_t")
    )
    wk_order = Window.partitionBy("k").orderBy("b")
    wk = wk_order.rowsBetween(Window.unboundedPreceding, -1)
    # checkpointed: consumed twice (the head branch below and the
    # broadcast side of the body join) — without it the whole tot subtree
    # (a source scan + chunk aggregation + this window) is duplicated in
    # the plan. keys x active chunks rows, i.e. the same bounded size the
    # broadcast already assumes.
    carry = M.checkpointed(
        tot.select(
            "k", "b", "first_t",
            F.coalesce(F.sum("tot").over(wk), F.lit(0)).alias("carry"),
            F.lag("b").over(wk_order).alias("prev_b"),
        )
    )

    # head segment of each active chunk (chunk start -> first event) +
    # the whole empty gap since the previous active chunk, both at the
    # entering balance; the carry itself is the peak candidate for that
    # stretch (the running level before the chunk's first event)
    head = carry.select(
        "k",
        F.col("carry").cast("long").alias("run"),
        F.when(
            F.col("carry") > 0,
            (F.col("first_t") - F.col("b") * W)
            + (F.col("b") - F.col("prev_b") - 1) * W,
        ).otherwise(F.lit(0)).cast("long").alias("busy"),
        F.lit(0).cast("long").alias("n_started"),
    )
    body = seg.join(
        F.broadcast(carry.select("k", "b", "carry")), ["k", "b"]
    ).select(
        "k",
        (F.col("carry") + F.col("run_in")).cast("long").alias("run"),
        F.when(
            F.col("carry") + F.col("run_in") > 0, F.col("len")
        ).otherwise(F.lit(0)).cast("long").alias("busy"),
        F.when(F.col("delta") == 1, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("n_started"),
    )
    return (
        head.unionByName(body)
        .groupBy(F.col("k").alias(key_col))
        .agg(
            F.max("run").cast("int").alias("peak_concurrency"),
            F.sum("busy").cast("long").alias("busy_ms"),
            F.sum("n_started").cast("long").alias("n_spans"),
        )
    )


def funnel_latency(
    events: DataFrame,
    steps: list[str],
    window_ms: int,
    user_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
) -> DataFrame:
    """Time-to-convert per funnel step: for every user completing step i
    (same strict min-ts chaining as :func:`funnel`), the latency from
    their step i-1 completion, aggregated to (users, p50_ms, avg_ms) —
    the "WHERE does the funnel stall" follow-up to the conversion counts.

    One row per step 2..k, emitted even when nobody converts (users=0,
    NULL latencies — the global-aggregate shape both engines share).
    The median is the exact interpolated percentile (DuckDB
    quantile_cont parity, as rfm_segmentation); the mean is exact
    because millisecond sums stay under 2^53. Shape: the skew-safe
    join-chain funnel — per-step name-pushed scans chained by user-key
    equi-joins, each step's latency table is converting-users-sized.
    """
    if len(steps) < 2:
        raise ValueError("funnel_latency needs at least two steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel step names must be distinct: {steps}")
    events = events.filter(F.col(user_col).isNotNull())
    cur = (
        events.filter(F.col(name_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t"))
    )
    parts: list[DataFrame] = []
    for i, step_name in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col(name_col) == step_name)
            .join(
                cur.select(user_col, F.col("t").alias("t_prev")), user_col
            )
            .filter(
                (F.col(ts_col) > F.col("t_prev"))
                & (F.col(ts_col) <= F.col("t_prev") + F.lit(window_ms))
            )
            .groupBy(user_col, "t_prev")
            .agg(F.min(ts_col).alias("t"))
        )
        lat = F.col("t") - F.col("t_prev")
        parts.append(
            nxt.agg(
                F.count("*").alias("users"),
                F.percentile(lat, F.lit(0.5)).alias("p50_ms"),
                F.round(F.avg(lat), 6).alias("avg_ms"),
            ).select(
                F.lit(i).cast("bigint").alias("step"),
                F.lit(step_name).alias("step_name"),
                "users",
                "p50_ms",
                "avg_ms",
            )
        )
        cur = nxt.select(user_col, "t")
    return reduce(DataFrame.unionByName, parts)
