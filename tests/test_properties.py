"""Property tests (hypothesis): operators vs pure-Python reference models
on random inputs — the time-series joins have enough edge cases (ties,
empty keys, tolerance windows) that example tests alone under-cover."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.sampled_from(["a", "b"])
TS = st.integers(min_value=0, max_value=50)


@st.composite
def keyed_events(draw, max_rows=12):
    n = draw(st.integers(0, max_rows))
    return [(i, draw(KEYS), draw(TS)) for i in range(n)]


def _model_asof(left, right, tolerance=None, direction="backward"):
    out = []
    for lid, lk, lts in left:
        rs = [(rts, rv) for rk, rts, rv in right if rk == lk]
        b = max(((t, v) for t, v in rs if t <= lts), default=None)
        f = min(((t, v) for t, v in rs if t >= lts), default=None)
        if tolerance is not None:
            if b is not None and lts - b[0] > tolerance:
                b = None
            if f is not None and f[0] - lts > tolerance:
                f = None
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f
        else:  # nearest: closer candidate, equidistant -> backward
            if b is None or (
                f is not None and (f[0] - lts) < (lts - b[0])
            ):
                m = f
            else:
                m = b
        if m is None:
            continue
        out.append((lid, m[1], m[0]))
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=keyed_events(), right=keyed_events())
def test_asof_join_matches_model(spark, left, right):
    from lakeside_spark.operators.asof import asof_join

    # unique right values so the model's tie-break is well-defined: one
    # right row per (key, ts)
    seen = set()
    rrows = []
    for i, (rid, rk, rts) in enumerate(right):
        if (rk, rts) in seen:
            continue
        seen.add((rk, rts))
        rrows.append((rk, rts, float(i)))
    L = spark.createDataFrame(
        [(lid, lk, lts) for lid, lk, lts in left] or [(None, None, None)],
        "id long, k string, ts long",
    ).filter("id is not null")
    R = spark.createDataFrame(
        rrows or [(None, None, None)], "k string, ts long, val double"
    ).filter("k is not null")
    for direction in ("backward", "forward", "nearest"):
        got = sorted(
            (r["id"], r["val"], r["asof_ts"])
            for r in asof_join(
                L, R, "k", "ts", "ts", direction=direction
            ).collect()
        )
        assert got == _model_asof(
            left, [(k, t, v) for k, t, v in rrows], direction=direction
        ), direction


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=keyed_events(max_rows=15), gap=st.integers(1, 10))
def test_sessionize_matches_model(spark, events, gap):
    from lakeside_spark.operators.sessions import session_stats

    df = spark.createDataFrame(
        [(k, ts) for _, k, ts in events] or [(None, None)], "user_id string, ts_ms long"
    ).filter("user_id is not null")
    got = {
        (r["user_id"], r["session_id"]): (r["session_start"], r["session_end"], r["n_events"])
        for r in session_stats(df, "user_id", "ts_ms", gap_ms=gap).collect()
    }
    # model: sort per key, split where delta > gap
    model = {}
    for k in {k for _, k, _ in events}:
        ts = sorted(t for _, kk, t in events if kk == k)
        sid, start, prev, cnt = 0, None, None, 0
        for t in ts:
            if prev is None or t - prev > gap:
                if start is not None:
                    model[(k, sid)] = (start, prev, cnt)
                sid, start, cnt = sid + 1, t, 0
            cnt += 1
            prev = t
        if start is not None:
            model[(k, sid)] = (start, prev, cnt)
    assert got == model


TEXTS = st.lists(
    st.text(
        alphabet="abcdefg .!?@0123456789-+()",
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_pii_scrub_is_idempotent(spark, texts):
    """Scrubbing already-scrubbed text changes nothing: the replacement
    tokens contain no digits or @, so no pattern can re-fire."""
    from lakeside_spark.operators.pii import pii_scrub

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = pii_scrub(df).withColumnRenamed("scrubbed", "text")
    twice = pii_scrub(once.select("doc_id", "text"))
    rows = {r["doc_id"]: r.asDict() for r in twice.collect()}
    first = {r["doc_id"]: r["text"] for r in once.select("doc_id", "text").collect()}
    for did, r in rows.items():
        assert r["scrubbed"] == first[did]
        assert r["n_email"] == r["n_ssn"] == r["n_ip"] == r["n_phone"] == 0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words_=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=30),
    window=st.integers(1, 8),
)
def test_chunk_covers_every_word_and_tiles_reassemble(spark, words_, window):
    from lakeside_spark.operators.chunking import chunk_documents

    text = " ".join(words_)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    # stride == window -> non-overlapping tiles that reassemble exactly
    chunks = sorted(
        (r["chunk_id"], r["chunk"])
        for r in chunk_documents(df, window=window, stride=window).collect()
    )
    assert " ".join(c for _, c in chunks) == text
    # overlapping stride: total emitted words >= doc words (full coverage)
    over = chunk_documents(df, window=window, stride=max(window // 2, 1))
    emitted = sum(r["n_words"] for r in over.collect())
    assert emitted >= len(words_)


def _model_funnel_exact(rows, steps, window_ms):
    """min-ts chaining exactly as the batch operator defines it: step 1 at
    the user's first step-1 event; step i at the first step-i event
    strictly after step i-1's completion and within window_ms of it."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, ts, name in rows:
        by_user[uid].append((ts, name))
    counts = dict.fromkeys(range(1, len(steps) + 1), 0)
    for evs in by_user.values():
        prev_t = None
        for i, step in enumerate(steps, start=1):
            cands = [
                ts
                for ts, name in evs
                if name == step
                and (
                    (i == 1 and prev_t is None)
                    or (i > 1 and prev_t is not None and prev_t < ts <= prev_t + window_ms)
                )
            ]
            if not cands:
                break
            prev_t = min(cands)
            counts[i] += 1
    return counts


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 4),            # user
            st.integers(0, 30),           # ts
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        max_size=24,
    ),
    window=st.sampled_from([5, 10, 100]),
)
def test_funnel_matches_model(spark, rows, window):
    from lakeside_spark.operators.behavior import funnel

    df = spark.createDataFrame(
        [(u, t, n) for u, t, n in rows] or [(0, 0, "_none")],
        "user_id long, ts long, name string",
    )
    out = funnel(
        df, ["a", "b", "c"], window_ms=window,
        user_col="user_id", ts_col="ts", name_col="name",
    )
    got = {r["step"]: r["users"] for r in out.collect()}
    # every step emits a row, zero-count steps included (the k-row contract)
    exp = dict(_model_funnel_exact(rows, ["a", "b", "c"], window))
    assert got == exp


def _model_step_change(series):
    """numpy CUSUM changepoint reference (same formula order as the SQL)."""
    import numpy as np

    ts = np.array([t for t, _ in series], dtype=np.int64)
    xs = np.array([v for _, v in series], dtype=np.float64)
    order = np.argsort(ts)
    ts, xs = ts[order], xs[order]
    cusum = np.cumsum(xs - xs.mean())
    # argmax |cusum|, earliest step on ties
    i = int(np.lexsort((ts, -np.abs(cusum)))[0])
    cp = ts[i]
    before = xs[ts <= cp]
    after = xs[ts > cp]
    mean_after = float(after.mean()) if len(after) else None
    return (
        int(cp),
        round(float(cusum[i]), 6),
        round(float(before.mean()), 6),
        None if mean_after is None else round(mean_after, 6),
    )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(0, 20), min_size=2, max_size=20),
)
def test_step_change_matches_model(spark, vals):
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    series = [(i * 3_600_000, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        [("m", t, v) for t, v in series], "name string, step_ts long, value double"
    )
    # re-run the registry's exact expression chain on a synthetic series
    mean_w = Window.partitionBy("name")
    cum_w = (
        Window.partitionBy("name")
        .orderBy("step_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = df.select(
        "step_ts", "name", "value",
        F.sum(F.col("value") - F.avg("value").over(mean_w)).over(cum_w).alias("cusum"),
    )
    pick_w = Window.partitionBy("name").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("step_ts")
    )
    cp = (
        scored.withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .select("name", F.col("step_ts").alias("cp_step_ts"), "cusum")
    )
    row = (
        df.join(cp, "name")
        .groupBy("cp_step_ts", "cusum")
        .agg(
            F.avg(F.when(F.col("step_ts") <= F.col("cp_step_ts"), F.col("value"))).alias("mb"),
            F.avg(F.when(F.col("step_ts") > F.col("cp_step_ts"), F.col("value"))).alias("ma"),
        )
        .collect()[0]
    )
    cp_m, cusum_m, mb_m, ma_m = _model_step_change(series)
    assert row["cp_step_ts"] == cp_m
    assert round(row["cusum"], 6) == cusum_m
    assert round(row["mb"], 6) == mb_m
    got_ma = None if row["ma"] is None else round(row["ma"], 6)
    assert got_ma == ma_m


def _model_holt(xs, alpha=0.5, beta=0.3):
    level, trend = xs[0], xs[1] - xs[0]
    sse = 0.0
    for x in xs[1:]:
        pred = level + trend
        sse += (x - pred) ** 2
        prev = level
        level = alpha * x + (1 - alpha) * pred
        trend = beta * (level - prev) + (1 - beta) * trend
    return level, trend, (sse / (len(xs) - 1)) ** 0.5


@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
        min_size=2,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_holt_matches_model(spark, vals):
    from lakeside_spark.operators.holt import holt_forecast

    df = spark.createDataFrame(
        [("m", i * 3_600_000, float(v)) for i, v in enumerate(vals)],
        "name string, step_ts long, value double",
    ).coalesce(1)
    row = holt_forecast(df).collect()[0]
    level, trend, rmse = _model_holt(vals)
    assert row["n_points"] == len(vals)
    assert row["level"] == round(level, 6)
    assert row["trend"] == round(trend, 6)
    assert row["forecast_1"] == round(level + trend, 6)
    assert row["forecast_3"] == round(level + 3 * trend, 6)
    assert row["rmse"] == round(rmse, 6)


def test_holt_drops_single_point_series(spark):
    from lakeside_spark.operators.holt import holt_forecast

    df = spark.createDataFrame(
        [("solo", 0, 5.0), ("pair", 0, 1.0), ("pair", 3_600_000, 2.0)],
        "name string, step_ts long, value double",
    )
    out = {r["name"]: r for r in holt_forecast(df).collect()}
    assert set(out) == {"pair"}
    assert out["pair"]["trend"] == 1.0 and out["pair"]["forecast_1"] == 3.0


def _model_holt_winters(xs, m, alpha=0.5, beta=0.3, gamma=0.3):
    mean1 = sum(xs[:m]) / m
    level = mean1
    trend = (sum(xs[m:2 * m]) / m - mean1) / m
    season = [x - mean1 for x in xs[:m]]
    sse = 0.0
    for t in range(m, len(xs)):
        pred = level + trend + season[t % m]
        sse += (xs[t] - pred) ** 2
        prev = level
        level = alpha * (xs[t] - season[t % m]) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        season[t % m] = gamma * (xs[t] - level) + (1 - gamma) * season[t % m]
    return level, trend, season, (sse / (len(xs) - m)) ** 0.5


@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
        min_size=8,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_holt_winters_seasonal_matches_model(spark, vals):
    from lakeside_spark.operators.holt import holt_forecast

    m = 4
    df = spark.createDataFrame(
        [("m", i * 3_600_000, float(v)) for i, v in enumerate(vals)],
        "name string, step_ts long, value double",
    ).coalesce(1)
    row = holt_forecast(df, season_length=m).collect()[0]
    n = len(vals)
    assert row["seasonal"] is True and n >= 2 * m
    level, trend, season, rmse = _model_holt_winters(vals, m)
    assert row["level"] == round(level, 6)
    assert row["trend"] == round(trend, 6)
    assert row["rmse"] == round(rmse, 6)
    for h in (1, 2, 3):
        assert row[f"forecast_{h}"] == round(
            level + h * trend + season[(n + h - 1) % m], 6
        )


def test_holt_winters_short_series_falls_back_to_linear(spark):
    from lakeside_spark.operators.holt import holt_forecast

    df = spark.createDataFrame(
        [("s", i * 3_600_000, float(i)) for i in range(5)],
        "name string, step_ts long, value double",
    )
    row = holt_forecast(df, season_length=4).collect()[0]  # 5 < 2*4
    assert row["seasonal"] is False
    assert row["trend"] == 1.0 and row["forecast_1"] == 5.0


def test_holt_winters_hand_computed_constants(spark):
    """Guard against a shared bug in model+implementation (the generative
    property test reuses the same recursion): these expected values were
    derived BY HAND for m=2, xs=[1,3,2,4], alpha=.5, beta=.3, gamma=.3.

    init: mean1=2 -> level=2, trend=(3-2)/2=0.5, season=[-1,1]
    t=2 (x=2,s=-1): pred=1.5, level=2.75, trend=0.575, season0=-0.925
    t=3 (x=4,s=1):  pred=4.325, level=3.1625, trend=0.52625, season1=0.95125
    SSE = 0.25 + 0.105625 = 0.355625 over 2 fitted points
    """
    from lakeside_spark.operators.holt import holt_forecast

    df = spark.createDataFrame(
        [("m", i * 1000, v) for i, v in enumerate([1.0, 3.0, 2.0, 4.0])],
        "name string, step_ts long, value double",
    ).coalesce(1)
    row = holt_forecast(df, season_length=2).collect()[0]
    assert row["seasonal"] is True
    assert row["level"] == 3.1625
    assert row["trend"] == 0.52625
    # forecast_1: level + trend + season[(4+0) % 2] = ... + season[0]
    assert row["forecast_1"] == round(3.1625 + 0.52625 - 0.925, 6)
    assert row["forecast_2"] == round(3.1625 + 2 * 0.52625 + 0.95125, 6)
    assert row["rmse"] == round((0.355625 / 2) ** 0.5, 6)


WS_TEXTS = st.lists(
    st.text(
        # whitespace zoo: ASCII space, Java-\s members (\t \n \x0b \f \r),
        # and NBSP (NOT whitespace to Spark trim / Java \s / the oracle)
        alphabet="ab c\t\n\x0b\f\r\xa0.",
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=WS_TEXTS)
def test_pmi_kernel_tokenization_matches_spark_words(spark, texts):
    """The vocab_pmi Arrow kernel's Python tokenizer must produce exactly
    the unigram/bigram counts the Spark words() expression does — incl.
    the ASCII-space-only trim and ''-token filtering rules that round-6's
    review found diverging (Python .strip() eats \\t/\\xa0 that Spark
    trim keeps)."""
    from pyspark.sql import functions as F

    from lakeside_spark.functions.text import words
    from lakeside_spark.operators.textstats import _pmi_count_table

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["c"]
        for r in _pmi_count_table(df).collect()
        if r["a"] is not None  # drop the sentinel N row
    }
    w = words("text")
    uni = {
        (r["w"], None): r["c"]
        for r in df.select(F.explode(w).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("a"), F.element_at(w, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bg = {
        (r["a"], r["b"]): r["c"]
        for r in df.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .filter((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == {**uni, **bg}
