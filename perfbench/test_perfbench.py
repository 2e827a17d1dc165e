"""Tests of the benchmark's own generators, checks and span arithmetic.
No Spark needed: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import collections
import json

import numpy as np
import pytest

import check
import gen
from spans import Tracer, self_times

END = gen.lake_end_ms(14)


def _dashboard_reads(seed: int, rounds: int = 3) -> list[list[dict]]:
    p = np.random.default_rng([seed, 5])
    return [gen.dashboard_round(p, END, END + 2 * r * gen.HOUR_MS) for r in range(rounds)]


def _lake_digest(seed: int) -> str:
    return gen.table_digest(gen.lake_table(seed, 2, 50))


def test_same_seed_gives_identical_inputs():
    assert gen.stream_digest(_dashboard_reads(7)) == gen.stream_digest(_dashboard_reads(7))
    assert gen.stream_digest(gen.scan_stream(7, gen.ANCHOR_MS, END, 50)) == gen.stream_digest(
        gen.scan_stream(7, gen.ANCHOR_MS, END, 50))
    assert _lake_digest(7) == _lake_digest(7)
    assert gen.jsonl_batches(7, END, 3, 2, 20) == gen.jsonl_batches(7, END, 3, 2, 20)


def test_another_seed_gives_other_inputs():
    assert gen.stream_digest(_dashboard_reads(7)) != gen.stream_digest(_dashboard_reads(8))
    assert gen.stream_digest(gen.scan_stream(7, gen.ANCHOR_MS, END, 50)) != gen.stream_digest(
        gen.scan_stream(8, gen.ANCHOR_MS, END, 50))
    assert _lake_digest(7) != _lake_digest(8)
    assert gen.jsonl_batches(7, END, 3, 2, 20) != gen.jsonl_batches(8, END, 3, 2, 20)


def _shape(q: dict) -> tuple:
    return q["kind"], q["end"] - q["start"], len(q["body"].get("baseExpressions", ()))


def test_dashboard_rounds_cover_every_kind_and_repeat_share():
    panels = gen.dashboard_panels(END)
    for reads in _dashboard_reads(3):
        # every round refreshes the same panels, in order, and sends one
        # ad-hoc request of each shape
        assert sum(r["repeat"] for r in reads) == len(reads) // 2 == len(panels)
        assert [json.dumps(q["body"]) for q in reads[0::2]] == [json.dumps(p["body"])
                                                                for p in panels]
        assert sorted(map(_shape, reads[1::2])) == sorted(map(_shape, panels))
    kinds = collections.Counter(p["kind"] for p in panels)
    assert set(kinds) == {"graph", "exemplar", "tag_values"}
    graphs = [p for p in panels if p["kind"] == "graph"]
    with_formula = sum(bool(p["body"]["formulae"]) for p in graphs) / len(graphs)
    assert 0.25 < with_formula < 0.42
    aggs = {e["chart"]["aggregation"] for p in graphs for e in p["body"]["baseExpressions"].values()}
    assert aggs == set(gen.AGGS)
    week = sum(p["end"] - p["start"] == 7 * gen.DAY_MS for p in panels) / len(panels)
    assert 0.05 < week < 0.15


def test_scan_stream_cycles_every_kind():
    stream = gen.scan_stream(3, gen.ANCHOR_MS, END, 2 * len(gen.SCAN_KINDS))
    assert [r["kind"] for r in stream] == list(gen.SCAN_KINDS) * 2


def test_ingest_batches_cover_disjoint_hours():
    batches = gen.jsonl_batches(5, END, 3, 2, 30)
    hours = [{json.loads(line)["timestamp_ms"] // gen.HOUR_MS for line in b.splitlines()}
             for b in batches]
    assert all(min(h) >= END // gen.HOUR_MS for h in hours)
    assert not (hours[0] & hours[1]) and not (hours[1] & hours[2])


def test_lake_timestamps_are_distinct_and_sorted():
    ts = gen.lake_table(4, 2, 200).column("timestamp_ms").to_numpy()
    assert (ts[1:] > ts[:-1]).all()


def test_same_rows_matches_multisets_within_tolerance():
    a = (["k", "value"], [("x", 1.0), ("y", 2.0000000001)])
    b = (["value", "k"], [(2.0, "y"), (1.0, "x")])
    assert check.same_rows(*a, *b)
    assert not check.same_rows(*a, ["value", "k"], [(2.1, "y"), (1.0, "x")])
    assert not check.same_rows(*a, ["value", "k"], [(1.0, "x")])
    assert check.same_rows(["v"], [(None,)], ["v"], [(None,)])


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("bench.op", op="op-1") as root:
        with tr.span("engine.build") as child:
            pass
    # pin the clock so the arithmetic is exact
    root["start"], root["end"] = 0.0, 1.0
    child["start"], child["end"] = 0.25, 0.75
    got = self_times(tr.spans)
    assert got["bench"] == pytest.approx(0.5)
    assert got["engine"] == pytest.approx(0.5)
    assert child["parent"] == root["id"] and child["op"] == "op-1"


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("bench.op", op="op-1"):
        pass
    assert tr.spans == [] and tr.cost == {}
