"""The benchmark's own checks: each accepts a right result and rejects a
deliberately corrupted one. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import checks
from perfbench.probes import stage_summary
from perfbench.run import END_TO_END
from perfbench.trace import PER_LAYER_METRICS, Tracer, pass_layer_metrics, span_totals
from perfbench.workloads import FM_PATTERNS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_compare_frames_accepts_reordered_rows_and_columns():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = want.iloc[::-1][["v", "k"]]
    checks.compare_frames("q", got, want)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda d: d.iloc[:-1],  # a row lost
        lambda d: pd.concat([d, d.iloc[:1]]),  # a row duplicated
        lambda d: d.assign(v=d["v"].where(d["k"] != 2, 9.0)),  # a value changed
        lambda d: d.rename(columns={"v": "w"}),  # a column renamed
    ],
)
def test_compare_frames_rejects_corruption(corrupt):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    with pytest.raises(checks.CheckFailed):
        checks.compare_frames("q", corrupt(want.copy()), want)


def test_running_total():
    ps = pd.DataFrame({"o_orderkey": [3, 1, 2], "running_total": [6.0, 1.0, 3.0]})
    checks.check_running_total(ps, 6.0)
    with pytest.raises(checks.CheckFailed):
        checks.check_running_total(ps.assign(running_total=[5.0, 1.0, 3.0]), 6.0)


def test_index_permutation():
    z = pd.DataFrame({"_idx": [2, 0, 1], "o_orderkey": [30, 10, 20]})
    checks.check_index_permutation(z, 3)
    for bad in ([2, 0, 0], [3, 0, 1]):
        with pytest.raises(checks.CheckFailed):
            checks.check_index_permutation(z.assign(_idx=bad), 3)


def test_survivors():
    s = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "cluster": [0, 0, 2, 3],
        "is_survivor": [True, False, True, True],
    })
    checks.check_survivors(s, [0, 1, 2, 3])
    with pytest.raises(checks.CheckFailed):  # a survivor not in the input
        checks.check_survivors(s, [0, 1, 2])
    with pytest.raises(checks.CheckFailed):  # a removed doc whose cluster has no survivor
        checks.check_survivors(s.assign(cluster=[0, 2, 2, 3], is_survivor=[True, False, False, True]),
                               [0, 1, 2, 3])


TEXT = "the row sort batch; the rows sort the batch"


def _locations(text):
    rows = []
    for p in FM_PATTERNS:
        i = text.find(p)
        while i >= 0:
            rows.append((p, i))
            i = text.find(p, i + 1)
    return pd.DataFrame(rows, columns=["pattern", "pos"])


def test_fm_locations():
    checks.check_fm_locations(_locations(TEXT), TEXT, FM_PATTERNS)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda d: d.assign(pos=d["pos"] + (d.index == 0)),  # a position off by one
        lambda d: d.iloc[1:],  # an occurrence missing
        lambda d: pd.concat([d, d.iloc[:1]]),  # an occurrence twice
    ],
)
def test_fm_locations_reject_corruption(corrupt):
    with pytest.raises(checks.CheckFailed):
        checks.check_fm_locations(corrupt(_locations(TEXT)), TEXT, FM_PATTERNS)


def test_stage_summary_counts_run_stages_and_idle_time():
    stages = [
        {"status": "COMPLETE", "numTasks": 1, "numCompleteTasks": 1, "numFailedTasks": 0,
         "submissionTime": 1000, "completionTime": 1500, "shuffleWriteBytes": 10,
         "executorRunTime": 400, "executorCpuTime": 3e8, "jvmGcTime": 5,
         "shuffleReadBytes": 0, "diskBytesSpilled": 0},
        {"status": "COMPLETE", "numTasks": 4, "numCompleteTasks": 4, "numFailedTasks": 0,
         "submissionTime": 1200, "completionTime": 2000, "shuffleWriteBytes": 20,
         "executorRunTime": 800, "executorCpuTime": 6e8, "jvmGcTime": 0,
         "shuffleReadBytes": 10, "diskBytesSpilled": 0},
        {"status": "SKIPPED", "numTasks": 4, "numCompleteTasks": 0, "numFailedTasks": 0,
         "submissionTime": None, "completionTime": None, "shuffleWriteBytes": 0,
         "executorRunTime": 0, "executorCpuTime": 0, "jvmGcTime": 0,
         "shuffleReadBytes": 0, "diskBytesSpilled": 0},
    ]
    s = stage_summary(stages, 0, 3000)
    assert (s["stages"], s["single_task_stages"], s["tasks"]) == (2, 1, 5)
    assert s["shuffle_write_bytes"] == 30
    assert s["no_stage_running_s"] == pytest.approx(2.0)  # 3 s minus busy [1.0, 2.0]


def test_span_self_time_and_jobs():
    t = Tracer()
    t.tag = 1
    clock = iter(range(100))
    t.next_job_id = lambda: next(clock)
    outer = t.wrap(lambda: inner(), "ordering.with_index")
    inner = t.wrap(lambda: None, "algorithms.connected_components")
    outer()
    # outer opens at job 0, inner spans jobs 1..2, outer closes at 3
    totals = span_totals(t.spans, 1)
    assert totals["ordering.with_index.jobs"] == 3
    assert totals["ordering.self_jobs"] == 2
    assert totals["algorithms.connected_components.self_jobs"] == 1
    m = pass_layer_metrics(t.spans, 1)
    assert m["ordering.calls"] == 1 and m["algorithms.connected_components.calls"] == 1
    assert m["ordering.with_index.self_s"] <= totals["ordering.with_index.s"]


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_METRICS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
