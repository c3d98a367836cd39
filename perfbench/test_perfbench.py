"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import (  # noqa: E402
    attribute_jobs,
    highest_percentile,
    job_rollup,
    percentile,
    rate,
    read_event_log,
    samples_beyond,
    self_times,
    subtree,
)


def test_highest_percentile_needs_ten_samples_beyond():
    assert highest_percentile(10_000) == 0.999
    assert highest_percentile(9_999) == 0.99  # p99.9 would leave 9 beyond
    assert highest_percentile(1_000) == 0.99
    assert highest_percentile(999) == 0.95
    assert highest_percentile(200) == 0.95
    assert highest_percentile(100) == 0.9
    assert highest_percentile(20) == 0.5
    assert highest_percentile(19) is None


def test_percentile_is_nearest_rank():
    v = list(range(1, 1001))  # 1..1000
    assert percentile(v, 0.99) == 990
    assert samples_beyond(len(v), 0.99) == 10
    assert percentile(v, 0.5) == 500
    assert percentile([7.0], 0.99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_rate():
    assert rate(5000, 4.0) == 1250.0
    with pytest.raises(ValueError):
        rate(5000, 0.0)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0),
        _span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        _span(3, "c", 9.0, 12.0, parent=0),  # clipped to the parent: 9..10
        _span(4, "grandchild", 1.5, 2.0, parent=1),  # not a child of root
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[4] == pytest.approx(0.5)
    assert subtree(spans, {1}) == {1, 4}


def test_jobs_go_to_the_innermost_span_holding_their_submit_time(tmp_path):
    # span times in epoch seconds, event-log times in epoch ms
    spans = [
        _span(0, "setup", 100.0, 110.0),
        _span(1, "build", 102.0, 108.0, parent=0),
        _span(2, "apply", 120.0, 130.0),
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101_000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103_500, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104_000},
        # a job a worker thread submits inside apply's window
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 125_000, "Stage IDs": [3]},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 115_000, "Stage IDs": [4]},
    ]

    def task(stage, launch, finish, cpu_ns=0, shuffle=0, records=0, read=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": shuffle,
                    "Shuffle Records Written": records,
                },
                "Input Metrics": {"Records Read": read},
            },
        }

    events += [
        task(1, 0, 100, cpu_ns=2_000_000_000, shuffle=2**20, records=7, read=50),
        task(2, 0, 300, cpu_ns=1_000_000_000),
        task(2, 0, 100),
        task(3, 0, 10, read=900),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    jobs, tasks = read_event_log(str(log))
    assert [j["job"] for j in jobs] == [0, 1, 2, 3]
    owner = attribute_jobs(jobs, spans)
    assert owner == {0: 0, 1: 1, 2: 2, 3: None}

    build = job_rollup({j for j, s in owner.items() if s in subtree(spans, {1})}, jobs, tasks)
    assert build["jobs"] == 1
    assert build["tasks"] == 3
    assert build["executor_cpu_s"] == pytest.approx(3.0)
    assert build["shuffle_mb"] == pytest.approx(1.0)
    assert build["shuffle_records"] == 7
    assert build["input_records"] == 50
    assert build["task_max_over_p50"] == pytest.approx(3.0)
    setup = job_rollup({j for j, s in owner.items() if s in subtree(spans, {0})}, jobs, tasks)
    assert setup["jobs"] == 2
    apply = job_rollup({j for j, s in owner.items() if s == 2}, jobs, tasks)
    assert apply["input_records"] == 900


def test_reap_children_ends_orphaned_descendants():
    # a shell that exits at once and leaves a sleep behind, orphaned
    code = (
        "import subprocess, sys; sys.path.insert(0, sys.argv[1]); import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "assert run.child_pids(), 'the orphan was not re-parented here'\n"
        "run.reap_children(wait_s=0.2, term_s=0.2)\n"
        "assert not run.child_pids()\n"
    )
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, "-c", code, here], check=True, timeout=30)


def test_answers_match_exactly_up_to_ties():
    from run import same_answer

    want = [(5, 3.0), (9, 2.0), (2, 2.0), (4, 1.0)]
    assert same_answer([(5, 3.0), (9, 2.0), (2, 2.0), (4, 1.0)], want)
    assert same_answer([(5, 3.0), (2, 2.0), (9, 2.0 + 1e-12), (4, 1.0)], want)
    assert not same_answer([(5, 3.0), (9, 2.0), (3, 2.0), (4, 1.0)], want)  # wrong doc
    assert not same_answer([(5, 3.0), (9, 2.0), (2, 2.0 + 1e-6), (4, 1.0)], want)
    assert not same_answer(want[:3], want)
    # the tied group cut at k: any of the tied docs is a right answer
    assert same_answer([(5, 3.0), (9, 2.0), (7, 2.0)], [(5, 3.0), (9, 2.0), (2, 2.0)])
