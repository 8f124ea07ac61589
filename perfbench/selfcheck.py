"""Self-checks for the benchmark's own arithmetic (no Spark needed).

    python3 perfbench/selfcheck.py

Covers the percentile sample-count rule, span self time, folding a small
canned event log (including the job groups that bill no op), and that every
metric the driver prints is declared in BENCHMARK.json with the unit it is
printed with.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer, fold_event_log, percentile, self_times  # noqa: E402
import workloads  # noqa: E402


def check_percentile_rule() -> None:
    assert percentile([], 50) is None
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    # p90 needs >= 10 samples beyond it, i.e. >= 100 samples
    assert percentile([float(i) for i in range(99)], 90) is None
    p90 = percentile([float(i) for i in range(100)], 90)
    assert p90 is not None and 89.0 <= p90 <= 90.0, p90
    assert percentile([7.0], 50) == 7.0  # the median is always reported


def check_self_time() -> None:
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    self_times(spans)
    by = {s["id"]: s for s in spans}
    assert abs(by[0]["self_s"] - (10 - 5 - 1)) < 1e-9, by[0]
    assert abs(by[1]["self_s"] - 2.5) < 1e-9
    assert abs(by[0]["child_cover"] - 0.6) < 1e-9
    assert by[4]["self_s"] == by[4]["dur_s"] == 0.5

    tr = Tracer(True)
    with tr.span("op") as root:
        with tr.span("child"):
            pass
    tr.add("batch", root["start"], root["end"], root)
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["trace"] for s in tr.spans} == {0}
    off = Tracer(False)
    with off.span("op") as s:
        assert s is None
    assert off.spans == []


def check_event_log_fold() -> None:
    def task(stage, run_ms, gc_ms, rd, wr, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t3:exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-abc"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "w0:exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4], "Properties": {}},
        # jobs after the timed phase (floor, decode probes)
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Stage IDs": [5],
         "Properties": {"spark.jobGroup.id": "probe"}},
        task(0, 1000, 100, 0, 64, 0),
        task(1, 500, 0, 64, 0, 8),
        task(1, 500, 0, 32, 0, 0),
        task(2, 250, 50, 0, 0, 0),
        task(3, 9999, 0, 0, 0, 0),
        task(4, 9999, 0, 0, 0, 0),
        task(5, 9999, 9999, 0, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5}},
    ]
    out = fold_event_log((json.dumps(e) for e in events), workloads.job_owner({"run-abc": "t4"}))
    assert set(out) == {"t3:exec", "t4"}, out
    a = out["t3:exec"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3), a
    assert abs(a["executor_run_s"] - 2.0) < 1e-9 and abs(a["gc_s"] - 0.1) < 1e-9
    assert (a["shuffle_read_bytes"], a["shuffle_write_bytes"], a["spill_bytes"]) == (96, 64, 8)
    b = out["t4"]
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 1) and b["gc_s"] == 0.05


def check_metric_names() -> None:
    """The metric names run.py prints are exactly the ones BENCHMARK.json
    declares, with the declared units."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "run.py")) as f:
        src = f.read()
    for m in bench["end_to_end"]:
        name, unit = m["name"], m["unit"]
        assert f'"{name}": (' in src and f'"{unit}"),' in src, m
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.LAYER_METRICS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)), "duplicate metric names"


def main() -> int:
    for check in (check_percentile_rule, check_self_time, check_event_log_fold,
                  check_metric_names):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
