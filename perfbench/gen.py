"""Seeded input generators: the telemetry lake, JSONL ingest batches and
the request streams of each workload.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives byte-identical inputs. The program under test only
ever receives what these functions return: lake rows, JSONL files and
request JSON.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
#: lake time starts at 2024-01-01T00:00:00Z whatever the seed
ANCHOR_MS = 1_704_067_200_000
DATASET = "logs"

NAMES = ("http.request", "db.query", "cache.get", "queue.publish", "auth.login")
N_USERS = 200
ROUTES = ("cart", "checkout", "search", "login")
STATUSES = (200, 200, 200, 200, 404, 500)
TOOK_MS = (5, 50, 500, 5000)
#: rare log lines the needle searches look for; each lands in a few hours
NEEDLES = ("panic: deadlock detected in shard-{k}", "OOMKilled pod worker-{k}")
NEEDLE_HOUR_SHARE = 0.1
NEEDLE_KS = 3

AGGS = ("count", "sum", "avg", "min", "max", "p95", "ces")
#: panels and ad-hoc request shapes are the same for every seed
PANEL_SEED = 20240101
SHAPE_SEED = 20240102


_MESSAGES = np.asarray([f"GET /api/{r} status={s} took {t}ms"
                        for r in ROUTES for s in STATUSES for t in TOOK_MS], dtype=object)


def _message(rng: np.random.Generator, n: int) -> np.ndarray:
    return _MESSAGES[rng.integers(0, len(_MESSAGES), n)]


def _rows(rng: np.random.Generator, start_ms: int, hours: int, rows_per_hour: int) -> dict:
    """Telemetry rows over ``hours`` whole hours from ``start_ms``. Timestamps
    are distinct, so exemplar ordering by time is total in both engines."""
    per_hour = rng.poisson(rows_per_hour, hours).clip(1)
    ts = np.concatenate(
        [
            start_ms + h * HOUR_MS + np.sort(rng.choice(HOUR_MS, size=k, replace=False))
            for h, k in enumerate(per_hour)
        ]
    )
    n = len(ts)
    name = np.asarray(NAMES)[rng.integers(0, len(NAMES), n)]
    message = _message(rng, n)
    # the j-th needle hour gets needle (j mod 2, k = 100 + j // 2 mod NEEDLE_KS):
    # every needle a search can ask for exists in a lake with a dozen
    # needle hours, so needle searches always find something
    for j, h in enumerate(np.flatnonzero(rng.random(hours) < NEEDLE_HOUR_SHARE)):
        i = int(per_hour[:h].sum()) + int(rng.integers(0, per_hour[h]))
        message[i] = NEEDLES[j % 2].format(k=100 + (j // 2) % NEEDLE_KS)
    return {
        "timestamp_ms": ts.astype(np.int64),
        "name": name,
        "value": np.round(rng.gamma(2.0, 20.0, n), 3),
        "message": message,
        "user_id": rng.integers(0, N_USERS, n).astype(str).astype(object),
    }


def lake_table(seed: int, days: int, rows_per_hour: int) -> pa.Table:
    """The base lake: ``days`` whole days of rows sorted by (ts, name), the
    order write_segments leaves inside each file."""
    rng = np.random.default_rng([seed, 1])
    cols = _rows(rng, ANCHOR_MS, days * 24, rows_per_hour)
    cols["event_id"] = np.arange(len(cols["timestamp_ms"]), dtype=np.int64)
    return pa.table(cols)


def lake_end_ms(days: int) -> int:
    return ANCHOR_MS + days * DAY_MS


def partition_dir(root: str, ts_ms: int) -> str:
    d = datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc)
    return os.path.join(root, f"dataset={DATASET}", f"dateint={d:%Y%m%d}", f"hour={d.hour}")


def write_lake(table: pa.Table, root: str) -> None:
    """Seal ``table`` into the hive layout read_segments expects
    (dataset=/dateint=/hour=, one file per hour, partition columns in the
    path only)."""
    ts = table.column("timestamp_ms").to_numpy()
    hour = (ts - ts[0] + (ts[0] % HOUR_MS)) // HOUR_MS
    edges = np.flatnonzero(np.diff(hour)) + 1
    for lo, hi in zip(np.r_[0, edges], np.r_[edges, len(ts)]):
        d = partition_dir(root, int(ts[lo]))
        os.makedirs(d, exist_ok=True)
        pq.write_table(table.slice(lo, hi - lo), os.path.join(d, "part-00000.parquet"))


def jsonl_batches(seed: int, start_ms: int, batches: int, hours_per_batch: int,
                  rows_per_hour: int) -> list[str]:
    """Ingest batches as JSONL text. Batch ``i`` covers the hours right
    after batch ``i-1``, so no two batches write the same partition."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for b in range(batches):
        cols = _rows(rng, start_ms + b * hours_per_batch * HOUR_MS, hours_per_batch, rows_per_hour)
        keys = list(cols)
        lines = [
            json.dumps({k: (v.item() if hasattr(v, "item") else v) for k, v in zip(keys, vals)})
            for vals in zip(*(cols[k] for k in keys))
        ]
        out.append("\n".join(lines) + "\n")
    return out


# ---------------------------------------------------------------------------
# request streams


def _chart(p, label: str, agg: str, group: bool) -> dict:
    name = NAMES[int(p.integers(0, len(NAMES)))]
    flt = {"k": "name", "v": [name], "op": "eq"}
    if p.random() < 0.3:
        flt = {"q1": flt, "q2": {"k": "user_id", "v": [str(int(p.integers(0, N_USERS)))],
                                 "op": "!="}, "op": "and"}
    return {
        "id": label,
        "dataset": DATASET,
        "filter": flt,
        "chart": {"aggregation": agg, "groupBys": ["user_id"] if group else []},
    }


def adhoc_shapes() -> list[dict]:
    """The request shapes of one dashboard round, in the stated mix
    proportions: 6 graph requests (1-3 labels, half grouped by ``user_id``,
    a formula on 2 of 6), an exemplar search for errors and a tag_values
    request; windows 1h x2, 6h x3, 24h x2 and 7d x1. The same for every
    seed, so every round sends the same mix and the seed varies only metric
    names, filters and window ends."""
    s = np.random.default_rng(SHAPE_SEED)
    kinds = s.permutation(["graph"] * 6 + ["exemplar", "tag_values"])
    windows = s.permutation([1, 1, 6, 6, 6, 24, 24, 24 * 7])
    labels = iter(s.permutation([1, 1, 2, 2, 3, 3]))
    formula = iter(s.permutation([True] * 2 + [False] * 4))
    group = iter(s.permutation([True] * 3 + [False] * 3))
    aggs = itertools.cycle(AGGS)
    shapes = []
    for kind, w in zip(kinds, windows):
        shape = {"kind": str(kind), "window": int(w)}
        if kind == "graph":
            n = int(next(labels))
            shape.update(aggs=[next(aggs) for _ in range(n)], group=bool(next(group)),
                         formula=bool(next(formula)))
        shapes.append(shape)
    return shapes


def adhoc_request(p, shape: dict, end_ms: int) -> dict:
    """One request of ``shape`` with parameters drawn from ``p``."""
    # end within the last few hours of the lake, on an hour boundary
    end = end_ms - int(p.integers(0, 4)) * HOUR_MS
    start = end - shape["window"] * HOUR_MS
    step = DAY_MS if shape["window"] >= 24 * 7 else HOUR_MS
    req = {"kind": shape["kind"], "start": start, "end": end, "step": step}
    name = NAMES[int(p.integers(0, len(NAMES)))]
    by_name = {"k": "name", "v": [name], "op": "eq"}
    if shape["kind"] == "graph":
        n = len(shape["aggs"])
        # labels of one request share the group-by: that is what a panel draws
        exprs = {lbl: _chart(p, lbl, agg, shape["group"]) for lbl, agg in zip("abc", shape["aggs"])}
        formulae = []
        if shape["formula"]:
            formulae = ["a * 100"] if n == 1 else [
                str(p.choice(["a + b", "a - b", "a / b", "(a + b) / 2"]))]
        req["body"] = {"baseExpressions": exprs, "formulae": formulae}
    elif shape["kind"] == "exemplar":
        flt = {"q1": by_name, "q2": {"k": "message", "v": ["status=500"], "op": "contains"},
               "op": "and"}
        req["body"] = {"dataset": DATASET, "filter": flt, "limit": 50}
    else:
        req["tag"] = str(p.choice(["user_id", "name"]))
        req["body"] = {"dataset": DATASET, "filter": by_name}
    return req


def dashboard_panels(end_ms: int) -> list[dict]:
    """The fixed dashboard: one panel per shape, identical on every refresh
    and for every seed."""
    p = np.random.default_rng(PANEL_SEED)
    return [dict(adhoc_request(p, shape, end_ms), repeat=True) for shape in adhoc_shapes()]


def dashboard_round(p, panel_end_ms: int, end_ms: int) -> list[dict]:
    """The reads of one dashboard round: a refresh of every panel, each
    panel followed by a fresh ad-hoc request of its shape ending near
    ``end_ms``, with parameters drawn from ``p``. Half the requests repeat."""
    out = []
    for panel, shape in zip(dashboard_panels(panel_end_ms), adhoc_shapes()):
        out += [panel, dict(adhoc_request(p, shape, end_ms), repeat=False)]
    return out


SCAN_KINDS = ("percentile", "ces", "multi_agg", "cardinality", "extract", "needle_contains",
              "needle_regex")


def scan_request(rng, kind: str, start_ms: int, end_ms: int) -> dict:
    """One heavy request over the whole lake range."""
    name = NAMES[int(rng.integers(0, len(NAMES)))]
    by_name = {"k": "name", "v": [name], "op": "eq"}
    req = {"kind": kind, "start": start_ms, "end": end_ms, "step": DAY_MS, "repeat": False}
    if kind == "percentile":
        q = str(rng.choice(["p95", "p99"]))
        req["body"] = {"dataset": DATASET, "filter": by_name,
                       "chart": {"aggregation": q, "groupBys": ["user_id"]}}
    elif kind == "ces":
        req["body"] = {"dataset": DATASET, "filter": {"k": "name", "op": "exists"},
                       "chart": {"aggregation": "ces", "groupBys": ["user_id"]}}
    elif kind == "multi_agg":
        req["aggs"] = ["sum", "avg", "min", "max"]
        req["body"] = {"dataset": DATASET, "filter": by_name,
                       "chart": {"aggregation": "sum", "groupBys": ["user_id"]}}
    elif kind == "cardinality":
        status = str(rng.choice(["status=200", "status=404", "status=500"]))
        req["body"] = {"dataset": DATASET,
                       "filter": {"k": "message", "v": [status], "op": "contains"},
                       "chart": {"aggregation": "count", "groupBys": ["user_id"]}}
    elif kind == "extract":
        route = ROUTES[int(rng.integers(0, len(ROUTES)))]
        req["body"] = {
            "dataset": DATASET,
            "filter": by_name,
            "extract": {"regex": f"GET /api/{route} status=(\\d+) took (\\d+)ms",
                        "fields": [{"name": "status", "type": "string"},
                                   {"name": "took", "type": "number"}]},
            "compute": {"labelName": "took_s", "functionCall": {
                "name": "mul", "arguments": [{"type": "label", "name": "took",
                                              "dataType": "number"},
                                             {"type": "literal", "value": 0.001}]}},
            "chart": {"aggregation": "avg", "groupBys": ["status"], "fieldName": "took_s"},
        }
    elif kind == "needle_contains":
        k = 100 + int(rng.integers(0, NEEDLE_KS))
        req["body"] = {"dataset": DATASET,
                       "filter": {"k": "message", "v": [f"worker-{k}"], "op": "contains"},
                       "limit": 100}
    elif kind == "needle_regex":
        k = 100 + int(rng.integers(0, NEEDLE_KS))
        req["body"] = {"dataset": DATASET,
                       "filter": {"k": "message", "v": [f"deadlock detected in shard-{k}$"],
                                  "op": "regex"},
                       "limit": 100}
    else:
        raise ValueError(f"unknown scan kind {kind}")
    return req


def scan_stream(seed: int, start_ms: int, end_ms: int, n: int, stream: int = 4) -> list[dict]:
    """Heavy requests cycling through SCAN_KINDS in a fixed order, with
    seeded parameters, so every run spends the same share on each kind.
    Another ``stream`` number gives the same seed other parameters."""
    rng = np.random.default_rng([seed, stream])
    return [scan_request(rng, SCAN_KINDS[i % len(SCAN_KINDS)], start_ms, end_ms)
            for i in range(n)]


def stream_digest(reqs: list[dict]) -> str:
    return hashlib.sha256(json.dumps(reqs, sort_keys=True).encode()).hexdigest()


def table_digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        h.update(json.dumps(table.column(name).to_pylist()).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# pipeline tables (the test tables' schema, generated from the seed)

PIPELINE_TABLES = ("events", "documents", "embeddings", "lineitem")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = tuple(
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "query join order group filter stream column data customer small big".split()
)
EMBED_DIM = 64
N_LABELS = 10
N_EVENTS, N_DOCS, N_VECTORS, N_LINEITEMS = 5000, 500, 500, 6000


def _ts_us(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype(np.int64) * 1000, type=pa.timestamp("us"))


def write_tables(seed: int, sf_dir: str) -> None:
    """``{sf_dir}/{table}.parquet`` for PIPELINE_TABLES, in the column
    names and types of the repository's test tables."""
    rng = np.random.default_rng([seed, 6])
    os.makedirs(sf_dir, exist_ok=True)

    ts = np.sort(ANCHOR_MS + rng.choice(30 * DAY_MS, size=N_EVENTS, replace=False))
    pq.write_table(pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts_us(ts),
        "user_id": rng.integers(0, 150, N_EVENTS).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.gamma(2.0, 20.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }), os.path.join(sf_dir, "events.parquet"))

    texts: list[str] = []
    for d in range(N_DOCS):
        if d >= 10 and rng.random() < 0.2:
            # near duplicate: a slice of an earlier document, a word changed
            words = texts[int(rng.integers(0, d))].split()
            lo = int(rng.integers(0, max(1, len(words) // 4)))
            words = words[lo:]
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))])
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, N_DOCS)],
        "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(sf_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    label = rng.integers(0, N_LABELS, N_VECTORS).astype(np.int32)
    emb = (centers[label] + rng.normal(0, 0.5, (N_VECTORS, EMBED_DIM))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label,
    }), os.path.join(sf_dir, "embeddings.parquet"))

    n = N_LINEITEMS
    qty = rng.integers(1, 51, n).astype(np.float64)
    # 1992-01-02 .. 1998-12-01, the TPC-H ship-date range
    ship = 694_310_400_000 + rng.integers(0, 2525, n) * DAY_MS
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
        "l_partkey": rng.integers(0, 200, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 10, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.asarray(["R", "A", "N"])[rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_us(ship),
    }), os.path.join(sf_dir, "lineitem.parquet"))
