"""Custom stateful streaming operators via applyInPandasWithState.

The reference keeps per-series state in its Akka eval pipeline (EMA
datastructure, TimeGroupedSketchAggregator buffers). In Structured Streaming
the equivalent is applyInPandasWithState: state lives in the state store
(checkpointed, fault-tolerant), keyed by series, with timeout-based
expiry replacing the reference's buffer rotation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: key groups of the bucketed operators: each stateful group call handles
#: every key that hashes into it, so the Python boundary pays KEY_GROUPS
#: calls per trigger however many keys the stream has
KEY_GROUPS = 64


def _one_frame(pdfs) -> pd.DataFrame:
    """Collapse the per-group chunk iterator to one frame, skipping the
    pd.concat copy in the overwhelmingly common single-chunk case.
    Keyed replay groups are tiny (a handful of rows per user/trace), so
    per-group FIXED cost — concat, sort_values, DataFrame construction —
    dominates the stateful stage's wall; the twins below use numpy
    argsort/lexsort and array-backed output construction for the same
    reason."""
    chunks = list(pdfs)
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks)


def streaming_ema(
    stream: DataFrame,
    alpha: float = 0.3,
    key_col: str = "name",
    ts_col: str = "step_ts",
    value_col: str = "value",
) -> DataFrame:
    """Stateful EMA over a keyed stream: state = last EMA per series
    (reference recurrence EMA.scala:24-31). Emits one smoothed row per input
    row; batch rows are processed in event-time order within each key."""

    output_schema = f"{key_col} string, {ts_col} long, {value_col} double, ema double"
    state_schema = "ema double"

    def update(key, pdfs, state: GroupState):
        prev = state.get[0] if state.exists else None
        rows = _one_frame(pdfs)
        ts_a = rows[ts_col].to_numpy()
        v_a = rows[value_col].to_numpy()
        order = np.argsort(ts_a, kind="stable")
        emas = []
        for v in v_a[order]:
            prev = v if prev is None else alpha * v + (1 - alpha) * prev
            emas.append(prev)
        state.update((float(prev),))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(order),
                ts_col: ts_a[order],
                value_col: v_a[order],
                "ema": emas,
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_holt(
    stream: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    key_col: str = "name",
    ts_col: str = "step_ts",
    value_col: str = "value",
) -> DataFrame:
    """Stateful Holt (level + trend) smoothing over a keyed stream — the
    streaming twin of operators/holt.holt_forecast's linear path, for
    live alert-threshold forecasting: each arriving series point emits
    the updated level, trend, and one-step-ahead forecast.

    State per series = (level, trend, n_seen) — three scalars regardless
    of stream length, checkpointed in the state store. Initialization
    matches the batch recursion exactly (level = x0, trend = x1 − x0,
    with the first smoothed update starting at the second point), so a
    watermark-ordered replay reproduces the batch operator's state
    bit-for-bit (asserted by the equivalence test, the same contract as
    streaming_funnel_bucketed vs the batch funnel)."""

    output_schema = (
        f"{key_col} string, {ts_col} long, {value_col} double, "
        "level double, trend double, forecast_1 double"
    )
    state_schema = "level double, trend double, n long"

    def update(key, pdfs, state: GroupState):
        level, trend, n = state.get if state.exists else (0.0, 0.0, 0)
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        out_l, out_t, out_f = [], [], []
        for v in rows[value_col]:
            v = float(v)
            if n == 0:
                level, trend = v, 0.0
            else:
                if n == 1:
                    # batch init: trend = x1 − x0 is set just before the
                    # recursion consumes x1 (operators/holt._holt_fit)
                    trend = v - level
                pred = level + trend
                prev = level
                level = alpha * v + (1 - alpha) * pred
                trend = beta * (level - prev) + (1 - beta) * trend
            n += 1
            out_l.append(level)
            out_t.append(trend)
            out_f.append(level + trend)
        state.update((float(level), float(trend), int(n)))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(rows),
                ts_col: rows[ts_col].to_numpy(),
                value_col: rows[value_col].to_numpy(),
                "level": out_l,
                "trend": out_t,
                "forecast_1": out_f,
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_service_edge_partials(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "timestamp_ms",
    name_col: str = "name",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of operators/behavior.next_event_edges — the live
    path of the span-adjacency service-dependency graph panel
    (trace_service_graph): as spans arrive, each trace's
    (previous span → span, gap) transition edges are emitted as
    per-trigger (src, dst, n, gap_sum) partials.

    State per trace = (last span name, its ts) — two scalars regardless
    of trace length, checkpointed in the state store; the first span of
    a trace ever seen emits nothing and primes the state, so an edge
    crossing a micro-batch boundary is counted exactly once. Rows inside
    a micro-batch are processed in (trace, ts, tiebreak) order — per
    trace, the batch operator's window order — so a watermark-ordered
    replay reproduces the batch edge multiset exactly (pinned by the
    equivalence test). Two standard high-cardinality streaming-state
    techniques keep the Python boundary small (Flink's key groups are
    the same idea):

    1. KEY-GROUP BUCKETING: the stateful operator is keyed by
       ``crc32(trace key) % KEY_GROUPS`` rather than by the trace
       itself; per-trace state is packed into three parallel ARRAYS in
       the bucket's state row. State volume is unchanged, but the
       Python boundary pays KEY_GROUPS group calls per trigger instead
       of one per trace (1500 pandas constructions → 64 at sf0.1), and
       the per-bucket edge extraction vectorizes over all of the
       bucket's traces at once (one lexsort + shifted-compare, no
       per-row loop).
    2. MAP-SIDE COMBINE: each bucket emits per-trigger PARTIALS — at
       most |span vocabulary|² rows per bucket per trigger — instead of
       one row per transition edge. gap_sum is an exact int64 sum, so
       the downstream rollup's SUM(gap_sum)/SUM(n) equals the batch
       AVG(gap_ms) bit-for-bit (one double division either way). The
       (src, dst) rollup stays outside this operator, so the stateful
       stage is append-mode.

    At 100 TB the two scale independently: KEY_GROUPS grows with the
    cluster (state per bucket stays bounded), emitted volume stays at
    the transition-type grain."""

    output_schema = "src string, dst string, n long, gap_sum long"
    state_schema = (
        "keys array<string>, last_names array<string>, last_ts array<long>"
    )
    bucket_col = "__kg_bucket"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            sk, sn, st = state.get
            carried = dict(zip(sk, zip(sn, st)))
        else:
            carried = {}
        rows = _one_frame(pdfs)
        ts_a = rows[ts_col].to_numpy(dtype=np.int64)
        tb_a = rows[tiebreak_col].to_numpy()
        # stringified trace keys: the packed state schema is
        # array<string> regardless of the stream's key type, and str()
        # is injective for the long/string ids this op is keyed by
        codes, uniques = pd.factorize(
            rows[key_col].astype(str).to_numpy()
        )
        nm_codes, nm_uniques = pd.factorize(rows[name_col].to_numpy())
        order = np.lexsort((tb_a, ts_a, codes))
        uc = codes[order]
        tss = ts_a[order]
        nms = nm_codes[order].astype(np.int64)
        n = len(order)
        first = np.empty(n, dtype=bool)
        first[0] = True
        first[1:] = uc[1:] != uc[:-1]
        # previous row within each trace run (undefined at run heads)
        prev_nm = np.empty(n, dtype=np.int64)
        prev_ts = np.empty(n, dtype=np.int64)
        prev_nm[1:] = nms[:-1]
        prev_ts[1:] = tss[:-1]
        # vocabulary for carried-state names: extend the batch's name
        # codes with any carried names not present in this batch
        name_index = {v: i for i, v in enumerate(nm_uniques)}
        vocab = list(nm_uniques)
        valid = ~first
        # seed run heads from carried per-trace state (python loop over
        # the traces PRESENT in this batch only — ~tens per bucket)
        head_pos = np.flatnonzero(first)
        for p in head_pos:
            prev = carried.get(uniques[uc[p]])
            if prev is not None:
                pn, pt = prev
                ci = name_index.get(pn)
                if ci is None:
                    ci = len(vocab)
                    name_index[pn] = ci
                    vocab.append(pn)
                prev_nm[p] = ci
                prev_ts[p] = pt
                valid[p] = True
        # update carried state: last row of each trace run
        last_pos = np.empty(len(head_pos), dtype=np.int64)
        last_pos[:-1] = head_pos[1:] - 1
        last_pos[-1] = n - 1
        for p in last_pos:
            carried[uniques[uc[p]]] = (vocab[nms[p]], int(tss[p]))
        ck = [str(k) for k in carried.keys()]
        state.update(
            (
                ck,
                [str(carried[k][0]) for k in carried.keys()],
                [int(carried[k][1]) for k in carried.keys()],
            )
        )
        if valid.any():
            v = len(vocab)
            pair = prev_nm[valid] * v + nms[valid]
            gaps = tss[valid] - prev_ts[valid]
            counts = np.bincount(pair, minlength=v * v)
            # int64 accumulation (bincount weights would round-trip
            # through float64 and lose exactness past 2^53)
            gap_sums = np.zeros(v * v, dtype=np.int64)
            np.add.at(gap_sums, pair, gaps)
            nz = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "src": [vocab[i // v] for i in nz],
                    "dst": [vocab[i % v] for i in nz],
                    "n": counts[nz].astype(np.int64),
                    "gap_sum": gap_sums[nz],
                }
            )

    from pyspark.sql import functions as F

    bucketed = stream.withColumn(
        bucket_col,
        F.pmod(F.crc32(F.col(key_col).cast("string")), F.lit(KEY_GROUPS)),
    )
    return bucketed.groupBy(bucket_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel_bucketed(
    stream: DataFrame,
    steps: list[str],
    window_ms: int,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    name_col: str = "name",
) -> DataFrame:
    """Streaming twin of operators/behavior.funnel: per-user funnel
    progress as events arrive, emitting one (user, step, step_name, ts)
    row per newly-completed step.

    State per user = (deepest completed step, its completion ts) — two
    scalars regardless of stream length, the smallest state a strict-
    order funnel can carry. A step completes at the first matching event
    STRICTLY after the previous step's completion and within
    ``window_ms`` of it (the cascading-window rule of the batch
    operator); rows inside a micro-batch are processed in event-time
    order per user, ties in arrival order, so batch boundaries cannot
    reorder a user's funnel. The batch funnel anchors every step on the
    previous step's FIRST completion; this fold advances the anchor
    greedily in arrival order, which matches batch whenever events
    arrive watermark-ordered (pinned by the equivalence test).

    KEY-GROUP BUCKETING (as in streaming_service_edge_partials): the
    stateful operator is keyed by ``crc32(user) % KEY_GROUPS`` and the
    per-user state is packed into parallel arrays in the bucket's state
    row, so the Python boundary pays KEY_GROUPS group calls per trigger
    instead of one per user (1500 → 64 at sf0.1)."""

    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel step names must be distinct: {steps}")
    output_schema = f"{user_col} long, step bigint, step_name string, ts long"
    state_schema = "keys array<string>, steps array<long>, ts array<long>"
    step_of = {s: i + 1 for i, s in enumerate(steps)}
    bucket_col = "__kg_bucket"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            sk, ss, st = state.get
            carried = {k: (s, t) for k, s, t in zip(sk, ss, st)}
        else:
            carried = {}
        rows = _one_frame(pdfs)
        u_a = rows[user_col].to_numpy()
        ts_a = rows[ts_col].to_numpy(dtype=np.int64)
        nm_a = rows[name_col].to_numpy()
        codes, uniques = pd.factorize(u_a)
        # stable (user, ts) order: ties keep arrival order
        order = np.lexsort((ts_a, codes))
        out_u: list[int] = []
        out_steps: list[int] = []
        out_names: list[str] = []
        out_ts: list[int] = []
        cur = -1
        cur_step = cur_t = 0
        for i in order:
            c = codes[i]
            if c != cur:
                if cur >= 0:
                    carried[str(uniques[cur])] = (cur_step, cur_t)
                cur = c
                cur_step, cur_t = carried.get(str(uniques[c]), (0, 0))
            nxt = cur_step + 1
            if step_of.get(nm_a[i]) != nxt:
                continue
            ts = int(ts_a[i])
            if cur_step == 0 or (cur_t < ts <= cur_t + window_ms):
                cur_step, cur_t = nxt, ts
                out_u.append(int(uniques[c]))
                out_steps.append(nxt)
                out_names.append(nm_a[i])
                out_ts.append(ts)
        if cur >= 0:
            carried[str(uniques[cur])] = (cur_step, cur_t)
        ck = list(carried.keys())
        state.update(
            (
                ck,
                [int(carried[k][0]) for k in ck],
                [int(carried[k][1]) for k in ck],
            )
        )
        if out_u:
            yield pd.DataFrame(
                {
                    user_col: np.asarray(out_u, dtype=np.int64),
                    "step": np.asarray(out_steps, dtype=np.int64),
                    "step_name": out_names,
                    "ts": np.asarray(out_ts, dtype=np.int64),
                }
            )

    from pyspark.sql import functions as F

    bucketed = stream.withColumn(
        bucket_col,
        F.pmod(F.crc32(F.col(user_col).cast("string")), F.lit(KEY_GROUPS)),
    )
    return bucketed.groupBy(bucket_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
