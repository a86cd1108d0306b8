"""Event-log parser and span attribution, on the recorded log in ``data/``
(made by ``record_fixture.py``).

    python3 -m pytest perfbench/tests
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
from spans import Span  # noqa: E402


@pytest.fixture(scope="module")
def recorded():
    log = eventlog.parse(HERE / "data" / "eventlog.jsonl")
    raw = json.loads((HERE / "data" / "spans.json").read_text())
    spans = [Span(**s) for s in raw["spans"]]
    job_span = eventlog.attribute(log, spans, raw["main_thread"])
    by_name = {s.name: s for s in spans}

    def summary(name):
        sp = by_name[name]
        jobs = [j for j, s in job_span.items() if s == sp.id]
        return eventlog.summarize(log, jobs, sp.start, sp.end)

    return log, summary


def test_fresh_dataframes_run_the_same_stages_each_pass(recorded):
    _, summary = recorded
    p1, p2 = summary("pass1"), summary("pass2")
    assert p1["stages"] > 1
    assert (p2["jobs"], p2["stages"], p2["tasks"]) == (p1["jobs"], p1["stages"], p1["tasks"])


def test_reused_dataframe_skips_its_shuffle_map_stage(recorded):
    log, summary = recorded
    reuse = summary("reuse")
    assert reuse["jobs"] == 2
    # the second collect lists the map stage but does not run it again
    assert reuse["stages"] == 2 * summary("pass1")["stages"] - 1
    second = max(log.jobs.values(), key=lambda j: j.id if j.group else -1)
    assert len(second.stages_run) < len(second.stage_ids)


def test_job_without_group_falls_back_to_the_span_window(recorded):
    log, summary = recorded
    untagged = [j for j in log.jobs.values() if j.group is None]
    assert untagged
    assert summary("threaded")["jobs"] == len(untagged)


def test_rollup_is_consistent(recorded):
    _, summary = recorded
    s = summary("pass1")
    assert s["tasks"] >= s["stages"] and s["failed_tasks"] == 0
    assert s["shuffle_write_mb"] > 0 and s["shuffle_read_mb"] > 0
    assert 0 < s["median_task_s"] <= s["max_task_s"]
    assert s["executor_cpu_s"] <= s["executor_run_s"] * 1.5
    assert s["job_busy_s"] >= 0 and s["driver_gap_s"] >= 0


def test_covered_merges_overlapping_intervals():
    assert eventlog._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog._covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert eventlog._covered([], 0, 1) == 0


def test_benchmark_json_declares_every_per_layer_metric():
    import layers

    bench = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == layers.PER_LAYER
