"""Unit tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
from eventlog import Span, attribute, covered_ms, read_events  # noqa: E402
from workloads import WORKLOADS, frames_mismatch  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


# ------------------------------------------------------------ metric rules


def test_geomean():
    assert run.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert run.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    assert run.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)


def test_end_to_end_takes_medians():
    m = run.end_to_end(
        setup_s=3.0,
        pass_walls=[5.0, 9.0, 6.0],
        latency={"a": [1.0, 3.0, 2.0], "b": [8.0, 8.0, 100.0]},
    )
    assert m["setup_s"] == 3.0
    assert m["wall_s"] == 6.0                      # median, not mean
    assert m["query_geomean_s"] == pytest.approx(math.sqrt(2.0 * 8.0))
    assert set(m) == set(run.END_TO_END)


def test_metric_and_workload_names_are_valid():
    names = list(run.END_TO_END) + list(run.PER_LAYER) + list(WORKLOADS)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for unit in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()):
        assert UNIT.fullmatch(unit), unit


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# ------------------------------------------------------------ event log

T0 = 1_700_000_000_000


def _job(jid, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start, "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, launch, finish, run_ms, cpu_ns, **extra):
    metrics = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
               "Executor Deserialize Time": 1, "Result Serialization Time": 0,
               "JVM GC Time": 2, "Result Size": 100,
               "Input Metrics": {"Bytes Read": 10, "Records Read": 5},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}
    metrics.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0, "Failed": False,
                          "Killed": False},
            "Task Metrics": metrics}


def _stage(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


_SQL = "org.apache.spark.sql.execution.ui."


def _sql_start(eid, time, scan_acc):
    """A SQL execution whose plan scans a file, its ``size of files read``
    metric on accumulator ``scan_acc``."""
    scan = {"nodeName": "Scan parquet", "children": [], "metrics": [
        {"name": "number of files read", "accumulatorId": scan_acc - 1},
        {"name": "size of files read", "accumulatorId": scan_acc}]}
    plan = {"nodeName": "Project", "children": [scan], "metrics": []}
    return {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": eid,
            "time": time, "sparkPlanInfo": plan}


def _accum(eid, updates):
    return {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": eid,
            "accumUpdates": updates}


@pytest.fixture
def canned_log(tmp_path):
    """build [0,100) runs job 0 over [20,50); exec [100,300) runs jobs 1 and
    2 over [110,200) and [150,250), overlapping; a job at 400 falls outside
    every span (e.g. the warm-up pass)."""
    events = [{"Event": "SparkListenerLogStart"}]
    events += [_sql_start(0, T0 + 10, 11), _accum(0, [[10, 1], [11, 1000]])]
    events += _job(0, T0 + 20, T0 + 50, [0])
    events += [_task(0, T0 + 21, T0 + 49, 20, 10_000_000), _stage(0)]
    # exec: two scans; execution 2's metric is posted twice, the last counts
    events += [_sql_start(1, T0 + 105, 21), _sql_start(2, T0 + 106, 31)]
    events += [_accum(1, [[21, 500]]), _accum(2, [[31, 70]]), _accum(2, [[31, 80]])]
    events += _job(1, T0 + 110, T0 + 200, [1, 2])
    events += _job(2, T0 + 150, T0 + 250, [3])
    events += [_task(1, T0 + 111, T0 + 150, 30, 30_000_000), _stage(1)]
    events += [_task(3, T0 + 151, T0 + 249, 90, 45_000_000), _stage(3)]
    events += [{"Event": "org.apache.spark.sql.streaming.StreamingQueryListener"
                         "$QueryProgressEvent",
                "progress": {"timestamp": "2023-11-14T22:13:20.060Z",
                             "batchDuration": 30}}]
    events += _job(3, T0 + 400, T0 + 410, [4])
    events += [_task(4, T0 + 401, T0 + 409, 5, 1_000_000), _stage(4)]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(events) // 2
    (d / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[:half]) + "\n")
    (d / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[half:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_read_events_joins_rolling_files_in_order(canned_log):
    events = read_events(canned_log)
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"] \
        == [0, 1, 2, 3]


def test_interval_attribution_and_self_time(canned_log):
    build = Span("build", "q", 0, T0 + 0, T0 + 100)
    exe = Span("exec", "q", 0, T0 + 100, T0 + 300)
    outside = attribute(read_events(canned_log), [exe, build])

    assert build.stats["jobs"] == 1 and exe.stats["jobs"] == 2
    assert build.stats["tasks"] == 1 and exe.stats["tasks"] == 2
    assert exe.stats["stages"] == 2          # stage 2 was listed but never ran
    assert exe.stats["task_run_ms"] == 120
    assert exe.stats["task_cpu_ms"] == pytest.approx(75.0)
    assert exe.stats["shuffle_write_bytes"] == 14
    assert exe.stats["input_records"] == 10
    # scan volume from the scan nodes' driver metric, not the task counter
    assert build.stats["scan_file_bytes"] == 1000
    assert exe.stats["scan_file_bytes"] == 500 + 80
    assert build.stats["stream_batches"] == 1        # 22:13:20.060Z = T0 + 60
    assert build.stats["stream_batch_ms"] == 30
    # scheduler delay: (finish - launch) - run - deserialize
    assert build.stats["sched_delay_ms"] == (49 - 21) - 20 - 1

    # self time: build 100 - 30 covered; exec 200 - union([110,250]) = 60
    assert build.self_ms == pytest.approx(70.0)
    assert exe.self_ms == pytest.approx(60.0)

    assert outside.stats["jobs"] == 1 and outside.stats["tasks"] == 1


def test_covered_ms_clips_and_merges():
    assert covered_ms([], 0, 10) == 0
    assert covered_ms([(-5, 3), (2, 4), (8, 20)], 0, 10) == 4 + 2
    assert covered_ms([(1, 2), (1, 2)], 0, 10) == 1


# ------------------------------------------------------------ inputs


def _dir_bytes(path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    from pandas_rust_algos_spark.sources import TABLES

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_star_schema(str(a), seed=7)
    datagen.write_star_schema(str(b), seed=7)
    datagen.write_star_schema(str(c), seed=8)
    assert sorted(p.name for p in a.iterdir()) == sorted(f"{t}.parquet" for t in TABLES)
    assert _dir_bytes(a) == _dir_bytes(b)
    assert _dir_bytes(a)["lineitem.parquet"] != _dir_bytes(c)["lineitem.parquet"]

    k1, k2 = tmp_path / "k1", tmp_path / "k2"
    datagen.write_kernel_arrays(str(k1), 7, 1000, 20, 5)
    datagen.write_kernel_arrays(str(k2), 7, 1000, 20, 5)
    assert _dir_bytes(k1) == _dir_bytes(k2)


def test_star_schema_is_the_fixtures_reordered():
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = datagen.star_schema_tables(seed=3)
    for name, table in tables.items():
        fixture = pq.read_table(os.path.join(datagen.FIXTURES, f"{name}.parquet"))
        assert table.schema == fixture.schema, name
        keys = [(f.name, "ascending") for f in table.schema
                if not pa.types.is_list(f.type)]
        assert table.sort_by(keys).equals(fixture.sort_by(keys)), name
    lineitem = tables["lineitem"].column("l_orderkey").to_pylist()
    assert lineitem != sorted(lineitem)


def test_frames_mismatch():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"v": [float("nan"), 0.5], "k": [1, 2]})
    assert frames_mismatch(a, b) is None
    assert "row count" in frames_mismatch(a, b.head(1))
    assert "float col v" in frames_mismatch(a, b.assign(v=[float("nan"), 0.5000001]))
    assert frames_mismatch(a, b.assign(v=[float("nan"), 0.5 + 1e-15]), rtol=1e-12) is None
    assert "col k" in frames_mismatch(a, b.assign(k=[1, 3]))
    assert "float column v" in frames_mismatch(a, b.assign(v=[float("nan"), 0.6]), rtol=1e-12)
