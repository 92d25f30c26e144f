"""Job-id-range attribution of Spark counters, and the declared metric
lists matching what the code reports."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from sparkcounters import COUNTERS, Stage, attribute  # noqa: E402


def _stage(status="COMPLETE", tasks=4, failed=0, run_ms=1000, rd=0, wr=0):
    return Stage(status, tasks, failed, run_ms, rd, wr)


def test_attribution_takes_exactly_the_job_id_range():
    job_stages = {4: [10], 5: [11, 12], 6: [13], 7: [14]}
    stages = {10: _stage(tasks=1), 11: _stage(tasks=2, wr=100), 12: _stage(tasks=3, rd=100),
              13: _stage(tasks=5, failed=1, run_ms=2500), 14: _stage(tasks=7)}
    got = attribute(job_stages, stages, lo=5, hi=7)
    assert got == {"jobs": 2.0, "stages": 3.0, "tasks": 10.0, "failed_tasks": 1.0,
                   "executor_run_s": pytest.approx(4.5), "shuffle_read_bytes": 100.0,
                   "shuffle_write_bytes": 100.0}
    assert set(got) == set(COUNTERS)
    assert attribute(job_stages, stages, lo=8, hi=8)["jobs"] == 0.0


def test_shared_stage_counts_once_and_skipped_stages_not_at_all():
    job_stages = {0: [1, 2], 1: [2, 3], 2: [4, 5]}
    stages = {1: _stage(tasks=4), 2: _stage(tasks=8), 3: _stage(tasks=1),
              4: _stage("SKIPPED", tasks=8), 5: _stage(tasks=2)}
    got = attribute(job_stages, stages, lo=0, hi=3)
    assert got["jobs"] == 3.0
    assert got["stages"] == 4.0  # 1, 2, 3, 5
    assert got["tasks"] == 15.0


def test_benchmark_json_declares_what_the_code_reports():
    import run
    from workloads import PER_LAYER, WORKLOADS

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(x) for x in PER_LAYER]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_line_gate_reference():
    from workloads import expected_line_output

    batches = [
        [(0, "alpha beta\nall rights reserved"), (1, "gamma\nall rights reserved")],
        [(2, "alpha beta 2024"), (3, "delta\n\nepsilon")],
    ]
    assert expected_line_output(batches) == {
        0: "alpha beta", 1: "gamma",  # boilerplate seen twice in batch 0
        2: "",  # digits are normalized away: a repeat of doc 0's line
        3: "delta\n\nepsilon",  # blank lines stay
    }
