"""tools/profile.py: the fields of its per-key JSON line, on a batch key, a
streaming replay key and a 2-fold replica."""

import importlib.util
import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("profile_tool", ROOT / "tools" / "profile.py")
tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tool)


def _check_split(line: dict) -> None:
    json.dumps(line)
    assert line["wall_s"] > 0
    assert line["executions"] >= 1
    assert 0 < line["exec_union_s"] <= line["wall_s"]
    # each of the three is rounded to the millisecond on its own
    assert abs(line["driver_s"] - (line["wall_s"] - line["exec_union_s"])) <= 0.0015
    assert line["jobs"] >= 1 and line["tasks"] >= line["jobs"]


def test_profile_batch_key(spark, sf_dir):
    line = tool.profile(spark, "ts_count", sf_dir, runs=1)
    _check_split(line)
    assert line["rows"] > 0 and line["scan_rows"] > 0
    assert "triggers" not in line


def test_profile_streaming_key_counts_micro_batches(spark, sf_dir):
    line = tool.profile(spark, "streaming_replay_ema", sf_dir, runs=1)
    _check_split(line)
    assert line["triggers"] >= 2
    for t in line["trigger_detail"]:
        assert t["duration_ms"]["triggerExecution"] >= t["duration_ms"]["addBatch"] >= 0
        assert t["state"] and t["state"][0]["store_instances"] >= 1
    # micro-batch executions carry the stream's description, not the key's:
    # each trigger adds at least one, matched through the stream's run id
    assert line["executions"] >= line["triggers"] + 1


def test_profile_scale_replica_grows_output_linearly(spark, sf_dir, tmp_path):
    line = tool.profile(spark, "dedup_containment", sf_dir, runs=1, scale=2, root=str(tmp_path))
    _check_split(line)
    assert line["scale"] == 2 and line["base_wall_s"] > 0
    assert line["sf"] == str(tmp_path / "x2")
    # shifted ids and a per-word salt on both sides: no pair crosses
    # replicas and each replica holds the 1x baseline's pairs
    assert line["base_rows"] > 0
    assert line["rows"] == 2 * line["base_rows"] and line["rows_growth"] == 2.0
    assert line["duckdb_s"] > 0 and line["ratio"] > 0
    assert (tmp_path / "x1" / "_BUILD_DONE").exists()



def test_profile_counts_pool_thread_executions(spark, sf_dir):
    # ann_recall_report runs its exact top-k and six index builders on 7
    # pool threads. Their jobs carry the key's job description, so each
    # adds at least one execution to the calling thread's two (the
    # training sample and the noop write).
    line = tool.profile(spark, "ann_recall_report", sf_dir, runs=1)
    _check_split(line)
    assert line["executions"] >= 2 + 7
