import json
import math
import os

import pytest

import env
from metrics import END_TO_END, PER_LAYER, WORKLOADS
from spans import attribute, read_event_log
from stats import (
    clip,
    failed_frac,
    geomean,
    percentile,
    quartile_spread,
    summarize,
    supported_tail,
    union_length,
)


def test_tail_needs_ten_samples_beyond():
    assert supported_tail(99) is None
    assert supported_tail(100) == 90.0
    assert supported_tail(999) == 90.0
    assert supported_tail(1000) == 99.0
    assert supported_tail(10_000) == 99.9


def test_summarize_reports_count_median_and_supported_tail():
    small = summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = summarize([float(i) for i in range(1, 101)])
    assert big["n"] == 100 and big["p50"] == 50.5 and big["p90"] == 90.0


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile([1, 2, 3], 99) == 3
    assert percentile([1, 2, 3], 1) == 1


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_failed_frac():
    assert failed_frac(0, 10) == 0.0
    assert failed_frac(1, 4) == 0.25
    assert failed_frac(0, 0) == 1.0


def test_union_and_clip():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([]) == 0
    assert clip([(0, 2), (3, 5), (9, 10)], 1, 4) == [(1, 2), (3, 4)]


def test_quartile_spread():
    assert quartile_spread([10.0] * 4) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0
    )


def _write_log(path, events):
    os.makedirs(path)
    with open(os.path.join(path, "app-1"), "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")


def _task(stage, run_ms):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
        },
    }


def test_event_log_counts_reused_stage_once_and_reconciles(tmp_path):
    group = {"spark.jobGroup.id": "pb-1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0], "Properties": group},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}, "Properties": group},
        _task(0, 800),
        _task(0, 800),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        # job 1 reuses stage 0's shuffle: stage 0 is listed but not rerun
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_500,
         "Stage IDs": [0, 1], "Properties": group},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}, "Properties": group},
        _task(1, 500),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11_500},
    ]
    log = str(tmp_path / "log")
    _write_log(log, events)
    groups = read_event_log(log)
    g = groups["pb-1"]
    assert g["tasks"] == 3
    assert g["task_run_s"] == pytest.approx(2.1)
    assert g["shuffle_write_mb"] == pytest.approx(3.0)

    span = {"name": "op", "op_id": 1, "start": 9.5, "end": 12.0}
    assert attribute([span], groups, cores=4) == []
    assert span["jobs"] == 2
    assert span["jobs_s"] == pytest.approx(1.5)
    assert span["driver_s"] == pytest.approx(1.0)

    # one core over 1.5 s of jobs cannot have run 2.1 s of tasks
    bad = {"name": "op", "op_id": 1, "start": 9.5, "end": 12.0}
    assert attribute([bad], groups, cores=1)


def test_benchmark_json_matches_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25 and not math.isnan(m["bound"])


def test_cpu_clock_counts_every_thread_of_a_process():
    """``env.jvm_cpu`` reads any process; here this one, whose threads
    have no JIT or GC names, so all of its CPU time is work."""
    import threading

    def spin():
        x = 0
        for i in range(2_000_000):
            x += i

    before = env.jvm_cpu(os.getpid())
    t = threading.Thread(target=spin)
    t.start()
    t.join()  # an ended thread's time still counts
    spin()
    after = env.jvm_cpu(os.getpid())
    assert after["jit_s"] == before["jit_s"] == 0
    assert after["gc_s"] == before["gc_s"] == 0
    assert after["work_s"] - before["work_s"] >= 0.05
    assert after["steal_s"] >= before["steal_s"]
