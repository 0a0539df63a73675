"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import layers
import run
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


class FakeWriter:
    def __init__(self, df):
        self.df = df

    def format(self, fmt):
        self.df.calls.append(("format", fmt))
        return self

    def mode(self, mode):
        self.df.calls.append(("mode", mode))
        return self

    def save(self, *args):
        time.sleep(self.df.work_s)
        self.df.calls.append(("save", args))


class FakeFrame:
    def __init__(self, work_s=0.0):
        self.calls: list = []
        self.work_s = work_s

    @property
    def write(self):
        return FakeWriter(self)

    def count(self):
        raise AssertionError("count() must never end a timed query")


def test_materialize_is_a_noop_sink_write():
    df = FakeFrame()
    run.materialize(df)
    assert df.calls == [("format", "noop"), ("mode", "overwrite"), ("save", ())]


def test_timed_latency_ends_after_materialization(monkeypatch):
    monkeypatch.setattr(run, "reset_caches", lambda spark: None)
    frames = {}

    def query(spark, lake):
        frames["df"] = FakeFrame(work_s=0.05)
        return frames["df"]

    runner = run.Runner(None, {"q": query}, ["q"], "/lake", seed=1)
    wall, latency = runner.run_pass()
    assert runner.errors == []
    assert ("save", ()) in frames["df"].calls
    assert latency["q"] >= 0.05 and wall >= latency["q"]


def test_no_count_action_in_harness():
    """Catalyst prunes projections under count(); the harness must never
    use it to force a result."""
    for name in ("run.py", "layers.py"):
        with open(os.path.join(HERE, name)) as f:
            tree = ast.parse(f.read())
        calls = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "count"
        ]
        assert calls == [], f"{name} calls .count()"


def test_failing_query_is_counted_not_fatal(monkeypatch):
    monkeypatch.setattr(run, "reset_caches", lambda spark: None)

    def broken(spark, lake):
        raise ValueError("boom")

    runner = run.Runner(None, {"bad": broken, "ok": lambda spark, lake: FakeFrame()}, ["bad", "ok"], "/lake", 0)
    _, latency = runner.run_pass()
    assert list(latency) == ["ok"]
    assert runner.attempted == 2 and len(runner.errors) == 1


def test_seed_fixes_query_order():
    names = [f"q{i}" for i in range(8)]
    a = run.Runner(None, {}, names, "/lake", seed=5)
    b = run.Runner(None, {}, names, "/lake", seed=5)
    assert [a.order() for _ in range(3)] == [b.order() for _ in range(3)]
    assert sorted(a.order()) == names


def test_compare_matches_order_insensitively():
    want = pa.table({"k": [1, 2], "v": [0.5, None]})
    got = pa.table({"v": [None, 0.5], "k": [2, 1]})
    assert check.compare(got, want) is None


@pytest.mark.parametrize(
    "got",
    [
        pa.table({"k": [1, 3], "v": [0.5, None]}),  # value
        pa.table({"k": [1], "v": [0.5]}),  # row count
        pa.table({"k": [1.0, 2.0], "v": [0.5, None]}),  # dtype kind
        pa.table({"key": [1, 2], "v": [0.5, None]}),  # column name
        pa.table({"k": [1, 2], "v": [0.5, float("nan")]}),  # NaN for NULL
    ],
)
def test_compare_reports_mismatch(got):
    want = pa.table({"k": [1, 2], "v": [0.5, None]})
    assert check.compare(got, want)


def test_lake_is_the_sf001_fixture():
    """The lake is the engine's sf0.01 test data, row counts as measured."""
    rows = {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
    }
    assert set(check.TABLES) == set(rows)
    for t, n in rows.items():
        assert pq.ParquetFile(os.path.join(run.LAKE, f"{t}.parquet")).metadata.num_rows == n


def test_eventlog_attribution(tmp_path):
    """Jobs, stages and tasks are attributed to the traced pass by job group;
    jobs of other passes are ignored."""
    def task(stage, run_ms):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 10, "Getting Result Time": 0},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Executor Deserialize Time": 2, "Result Serialization Time": 1,
                "JVM GC Time": 0, "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": 1 << 20},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb2|q_a|io"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "pb2|q_a|exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "pb1|q_a|exec"}},
        task(0, 100), task(1, 300), task(2, 5000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 0, "Completion Time": 200}},
    ]
    (tmp_path / "app.inprogress").write_text("".join(json.dumps(e) + "\n" for e in events))
    tracer = object.__new__(layers.Tracer)
    tracer.eventlog_dir, tracer.offset, tracer.tag = str(tmp_path), 0, "pb2|"
    tracer.module_of = {"q_a": "ingest"}
    m = layers.defaultdict(float)
    tracer._read_eventlog(m)
    assert (m["exec.jobs"], m["construct.jobs"], m["io.read_jobs"]) == (2, 1, 1)
    assert m["exec.tasks"] == 2 and m["exec.task_run_s"] == pytest.approx(0.4)
    assert m["exec.stage_wall_s"] == pytest.approx(0.2)
    assert m["exec.task_wait_s"] == pytest.approx(0.014)
    assert m["ops.ingest.task_run_s"] == pytest.approx(0.4)
    assert m["write.read_mb"] == pytest.approx(2.0)


def test_write_amp_counts_only_write_path_reads():
    m = {"write.mb": 3.0, "write.files": 2.0, "io.source_mb": 10.0, "_write_source_mb": 2.0}
    out = layers.derive(m, wall_s=4.0)
    assert out["write_amp"] == pytest.approx(1.5)
    assert out["write.mean_file_kb"] == pytest.approx(1536.0)
    assert not [k for k in out if k.startswith("_")]


def test_metrics_come_from_benchmark_json():
    assert list(workloads.WORKLOADS) == [w["name"] for w in workloads.SPEC["workloads"]]
    names = workloads.END_TO_END + workloads.PER_LAYER
    assert len(names) == len(set(names)) == len(workloads.UNITS)
    assert "setup_s" in workloads.END_TO_END
