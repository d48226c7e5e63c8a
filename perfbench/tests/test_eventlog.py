"""Unit tests for the benchmark's event-log parser and metric lists.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture_eventlog.json")


def test_grouped_jobs_fold_into_one_group():
    a = eventlog.parse(FIXTURE)["a"]
    assert (a.jobs, a.stages, a.tasks, a.failed_tasks, a.reading_tasks) == (2, 2, 3, 1, 1)
    # stage 0: first launch 1030 - submit 1010; stage 1: 1090 - 1085
    assert a.sched_delay_ms == 25
    assert (a.task_run_ms, a.task_cpu_ns, a.gc_ms, a.deser_ms) == (190, 160_000_000, 15, 6)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes, a.fetch_wait_ms) == (400, 400, 7)
    assert (a.spill_bytes, a.result_bytes) == (64, 500)


def test_busy_time_is_the_union_of_overlapping_jobs():
    a = eventlog.parse(FIXTURE)["a"]
    assert a.first_job_submit_ms == 1000
    assert a.job_durations_ms() == [100, 120]
    assert a.busy_ms() == 200  # [1000, 1100] and [1080, 1200] overlap


def test_ungrouped_jobs_are_attributed_by_interval():
    stats = eventlog.parse(FIXTURE, {"b": (4900, 5100)})
    assert (stats["b"].jobs, stats["b"].tasks, stats["b"].busy_ms()) == (1, 1, 20)
    assert stats[eventlog.UNGROUPED].jobs == 1  # submitted outside every interval
    assert eventlog.parse(FIXTURE)[eventlog.UNGROUPED].jobs == 2


def test_benchmark_json_lists_what_run_reports():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)

