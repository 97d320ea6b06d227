"""Tests of the benchmark's own code: the event-log fold, commit-marker
parsing, the reference comparisons (including a deliberately wrong output
that must count as failed), and the result-line contract.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import checks, trace

DATA = Path(__file__).parent / "data"


# --------------------------------------------------------------------------
# event-log fold


def test_fold_recorded_event_log():
    rows = trace.fold_event_log(DATA / "eventlog_small.json")
    # the log holds two job groups: a shuffle join with a pandas UDF, and a
    # plain count
    assert set(rows) >= {"bench#0:join_udf", "bench#0:count"}
    join = rows["bench#0:join_udf"]
    assert join["jobs"] >= 1 and join["stages"] >= 2 and join["tasks"] >= 2
    assert join["shuffle_write_bytes"] > 0 and join["shuffle_read_bytes"] > 0
    assert join["py_sent_bytes"] > 0 and join["py_recv_bytes"] > 0
    assert join["executor_run_s"] > 0 and join["executor_cpu_s"] > 0
    assert join["task_skew"] >= 1.0
    count = rows["bench#0:count"]
    assert count["jobs"] >= 1 and count["py_sent_bytes"] == 0


def test_fold_assigns_ungrouped_jobs_by_job_id(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [3], "Properties": {}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 3,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Accumulables": []},
            "Task Metrics": {
                "Executor Run Time": 400,
                "Executor CPU Time": 300_000_000,
                "JVM GC Time": 10,
                "Memory Bytes Spilled": 5,
                "Disk Bytes Spilled": 6,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            },
        },
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    rows = trace.fold_event_log(log, {7: "commit-thread"})
    r = rows["commit-thread"]
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 1, 1)
    assert r["executor_run_s"] == pytest.approx(0.4)
    assert r["executor_cpu_s"] == pytest.approx(0.3)
    assert r["gc_s"] == pytest.approx(0.01)
    assert (r["shuffle_read_bytes"], r["shuffle_write_bytes"], r["spill_bytes"]) == (3, 40, 11)
    assert trace.fold_event_log(log)["(none)"]["jobs"] == 1


def test_self_seconds_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert trace.self_seconds(spans) == {0: 6.0, 1: 3.0, 2: 1.0}


def test_span_recorder_nests_and_writes(tmp_path):
    rec = trace.SpanRecorder(True, "t")
    with rec.span("outer"):
        with rec.span("inner", group="g"):
            pass
    assert [s["parent"] for s in rec.spans] == [None, 0]
    assert rec.spans[1]["group"] == "g"
    rec.write(tmp_path / "spans.json")
    assert len(json.loads((tmp_path / "spans.json").read_text())) == 2
    off = trace.SpanRecorder(False, "t")
    with off.span("x") as s:
        pass
    assert off.spans == [] and s["end"] >= s["start"]


# --------------------------------------------------------------------------
# commit markers


def _marker(rnd, at, url_state, ws=None):
    return {
        "round": rnd,
        "tables": {"url_state": url_state},
        "appends": {},
        "meta": {"write_stats": ws or {}},
        "committed_at": at,
    }


def test_store_stats_from_markers(tmp_path):
    markers = [
        _marker(-1, 100.0, "url_state/v00000000"),
        _marker(0, 103.0, {"star": "url_state/v00000000", "buckets": {"1": "url_state/m00000001"}},
                {"url_state": {"bytes": 10, "touched_buckets": 1, "compacted": False},
                 "crawl_results": {"bytes": 5}}),
        _marker(1, 107.0, {"star": "url_state/v00000000",
                           "buckets": {"1": "url_state/m00000001", "2": "url_state/m00000002"}},
                {"url_state": {"bytes": 30, "touched_buckets": 3, "compacted": False}}),
        _marker(2, 112.0, "url_state/v00000003",
                {"url_state": {"bytes": 50, "touched_buckets": 2, "compacted": True}}),
    ]
    commits = tmp_path / "_commits"
    commits.mkdir()
    for m in markers:
        (commits / f"c{m['round'] + 1:08d}.json").write_text(json.dumps(m))
    got = trace.read_markers(tmp_path)
    assert [m["round"] for m in got] == [-1, 0, 1, 2]
    st = trace.store_stats(got)
    assert st["commits"] == 3
    assert st["write_bytes_p50"] == 30           # 15, 30, 50
    assert st["touched_buckets_p50"] == 2
    assert st["compactions"] == 1
    assert st["live_segments"] == 1
    assert st["commit_spacing_s_p50"] == 4.5     # 4, 5 (seed commit excluded)
    assert trace.live_segments(markers[2]["tables"]["url_state"]) == 3


# --------------------------------------------------------------------------
# reference comparisons


def test_union_find_and_cc_rows():
    pairs = [(5, 3), (3, 9), (1, 2)]
    assert checks.union_find_clusters(pairs) == {5: 3, 3: 3, 9: 3, 1: 1, 2: 1}
    rows = checks.cc_reference_rows(pairs, [1, 2, 3, 4, 5, 9])
    assert rows["dedup_clusters"] == [
        (1, 1, 2, True), (2, 1, 2, False), (3, 3, 3, True), (5, 3, 3, False), (9, 3, 3, False)
    ]
    assert rows["dedup_survivors"] == [(1, 2), (3, 3), (4, 1)]


def test_compare_digests_reports_the_wrong_entry():
    expected = {"a": [3, 11], "b": [0, 0]}
    assert checks.compare_digests({"a": [3, 11], "b": [0, 0]}, expected) == []
    assert checks.compare_digests({"a": [3, 12], "b": [0, 0]}, expected) == ["a"]
    assert checks.compare_digests({"a": [3, 11]}, expected) == ["b"]
    assert checks.compare_digests({"a": None, "b": [0, 0]}, expected) == ["a"]


def test_compare_crawl():
    exp = {"order": [[1, 0, "u1", 0], [2, 1, "u2", 1]],
           "status": {"u1": "parsed", "u2": "skipped"},
           "text": {"u1": "hello"}}
    same = json.loads(json.dumps(exp))
    assert checks.compare_crawl(same, exp) == []
    swapped = dict(same, order=[[1, 0, "u2", 1], [2, 1, "u1", 0]])
    assert checks.compare_crawl(swapped, exp) == ["crawl order"]
    assert checks.compare_crawl(dict(same, status={"u1": "parsed"}), exp) == ["seen set"]
    assert checks.compare_crawl(dict(same, status={"u1": "parsed", "u2": "failed"}), exp) == [
        "final statuses"
    ]
    assert checks.compare_crawl(dict(same, text={"u1": "hellO"}), exp) == ["extracted text"]


def test_check_round_output():
    golden = {"a": "x", "b": "y", "c": "z"}
    seq_of = {"a": (0, 1), "b": (0, 2), "c": (0, 3)}
    rows = [
        {"crawl_seq": 1, "url": "a", "dup_content": False, "text": "x"},
        {"crawl_seq": 2, "url": "b", "dup_content": False, "text": "y"},
        {"crawl_seq": 3, "url": "c", "dup_content": True, "text": None},
    ]
    assert checks.check_round_output(rows, seq_of, golden) == []
    wrong_text = [dict(rows[0], text="X"), *rows[1:]]
    assert checks.check_round_output(wrong_text, seq_of, golden)[0].startswith("text differs")
    wrong_order = [dict(rows[0], crawl_seq=2), dict(rows[1], crawl_seq=1), rows[2]]
    assert checks.check_round_output(wrong_order, seq_of, golden) == [
        "crawl_seq does not follow (depth, seq)"
    ]
    assert checks.check_round_output([], seq_of, golden) == ["no rows fetched"]


def test_result_cache(tmp_path):
    cache = checks.ResultCache(tmp_path)
    calls = []
    assert cache.get_or_compute("k", "x", lambda: calls.append(1) or {"v": 1}) == {"v": 1}
    assert cache.get_or_compute("k", "x", lambda: calls.append(1) or {"v": 2}) == {"v": 1}
    assert calls == [1]


# --------------------------------------------------------------------------
# digests on Spark: one deliberately wrong output must be reported as failed


@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    assert pyspark
    yield s
    s.stop()


def test_wrong_output_counts_as_failed(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
    ])
    reference = [(1, 2, 0.5), (3, 4, 0.25)]
    expected = {"q": checks.rows_digest(spark, reference, schema)}
    right = spark.createDataFrame(list(reversed(reference)), schema)   # order must not matter
    wrong = spark.createDataFrame([(1, 2, 0.5), (3, 4, 0.250001)], schema)
    assert checks.compare_digests({"q": checks.force_digest(right)}, expected) == []
    assert checks.compare_digests({"q": checks.force_digest(wrong)}, expected) == ["q"]


# --------------------------------------------------------------------------
# result-line contract


def test_bare_checkout_exits_nonzero_without_result(tmp_path):
    import shutil
    import subprocess
    import sys

    root = Path(__file__).resolve().parents[2]
    shutil.copytree(root / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(root / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
