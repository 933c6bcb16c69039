"""Unit tests of the benchmark's own bookkeeping (no Spark needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import driver_gap_s, fold_event_log  # noqa: E402


def test_fold_tiny_event_log():
    groups = fold_event_log(os.path.join(HERE, "testdata", "eventlog.json"))
    # the last two jobs ran without a job group and are not attributed
    assert set(groups) == {"udf#0", "agg#0"}
    udf, agg = groups["udf#0"], groups["agg#0"]
    assert (udf["jobs"], udf["stages"], udf["tasks"]) == (1, 1, 2)
    assert abs(udf["executor_run_s"] - 5.73) < 1e-9
    assert abs(udf["python_worker_s"] - 4.844) < 1e-9
    assert udf["shuffle_write_bytes"] == 0
    # job 2 lists a skipped stage: only stages that ran are counted
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
    assert agg["shuffle_read_bytes"] == agg["shuffle_write_bytes"] == 364
    assert agg["python_worker_s"] == 0.0
    assert len(agg["job_intervals"]) == 2


def test_driver_gap_counts_time_outside_jobs_once():
    span = {"start": 0.0, "end": 10.0}
    # overlapping jobs, one starting before the span
    assert driver_gap_s(span, [(-1.0, 2.0), (1.0, 3.0), (6.0, 7.0)]) == 6.0
    assert driver_gap_s(span, []) == 10.0


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10)["percentile"] is None
    t = run.tail([float(x) for x in range(1, 21)])
    assert t["percentile"] == 50 and t["value_s"] == 10.0 and t["n"] == 20


def test_benchmark_json_lists_what_the_runner_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
