"""Tests for the benchmark's pure parts (no Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, stats  # noqa: E402
from perfbench.run import end_to_end, per_layer  # noqa: E402
from perfbench.tracing import self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, permuted, select_keys  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ---- statistics ---------------------------------------------------------


def test_p50_odd_and_even():
    assert stats.p50([3.0, 1.0, 2.0]) == 2.0
    assert stats.p50([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_geomean_weighs_every_sample_the_same():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    # one slow key moves the geomean far less than the mean
    vals = [0.3] * 9 + [30.0]
    assert stats.geomean(vals) < statistics.mean(vals) / 5


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [-1.0]])
def test_geomean_rejects_empty_and_non_positive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


def test_p50_rejects_empty():
    with pytest.raises(ValueError):
        stats.p50([])


def test_quartile_spread_is_iqr_over_median():
    vals = [float(v) for v in range(1, 11)]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 5.5)
    assert stats.quartile_spread([2.0] * 5) == 0.0


# ---- workload rules -----------------------------------------------------


def test_permutation_is_seeded_and_complete():
    keys = [f"k{i:02d}" for i in range(20)]
    a = permuted(keys, 7)
    assert a == permuted(list(reversed(keys)), 7)  # input order is irrelevant
    assert sorted(a) == sorted(keys)
    assert a != permuted(keys, 8)
    assert len({tuple(permuted(keys, s)) for s in range(10)}) == 10


def test_select_keys_takes_every_stride_th_key_by_name():
    mk = {"a": ["x3", "x1"], "b": ["x2", "x5", "x4"], "c": ["zz"]}
    assert select_keys(mk, ("a", "b"), 1) == ["x1", "x2", "x3", "x4", "x5"]
    assert select_keys(mk, ("a", "b"), 2) == ["x1", "x3", "x5"]
    assert select_keys(mk, ("a", "b"), 9) == ["x1"]
    for stride in (0, -1):
        with pytest.raises(ValueError):
            select_keys(mk, ("a",), stride)


def test_workloads_split_the_modules():
    mods = [m for modules, _ in WORKLOADS.values() for m in modules]
    assert len(mods) == len(set(mods))


# ---- spans --------------------------------------------------------------


def test_self_time_subtracts_nested_children():
    spans = [
        {"t0": 0.0, "t1": 10.0, "parent": None},  # 0: root
        {"t0": 1.0, "t1": 4.0, "parent": 0},  # 1: child of root
        {"t0": 2.0, "t1": 3.0, "parent": 1},  # 2: grandchild
        {"t0": 5.0, "t1": 6.5, "parent": 0},  # 3: second child
        {"t0": 20.0, "t1": 21.0, "parent": None},  # 4: separate root
    ]
    assert self_times(spans) == pytest.approx([5.5, 2.0, 1.0, 1.5, 1.0])


def test_self_time_clips_children_and_merges_overlap():
    spans = [
        {"t0": 0.0, "t1": 4.0, "parent": None},
        {"t0": 1.0, "t1": 3.0, "parent": 0},
        {"t0": 2.0, "t1": 6.0, "parent": 0},  # overlaps the first, ends late
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_union_merges_overlapping_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([]) == 0


# ---- event log ----------------------------------------------------------


def _fixture():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        return eventlog.parse(f)


def test_event_log_parse_reads_jobs_tasks_and_sql():
    parsed = _fixture()
    jobs = parsed["jobs"]
    assert sorted(jobs) == [0, 1, 2, 3, 4, 5]
    assert jobs[0]["group"] is None
    assert jobs[1]["group"] == "key_a"
    assert [jobs[j]["group"] for j in (3, 4, 5)] == ["key_b"] * 3
    # job 3 re-reads job 2's shuffle: its map stage is skipped
    assert jobs[3]["skipped"] == 1
    assert jobs[2]["skipped"] == 0 and jobs[2]["submitted"] == {3, 4}
    assert all(t["job"] is not None for t in parsed["tasks"])
    assert len(parsed["sql_starts"]) == 3


def test_event_log_attribution_by_group_and_window():
    parsed = _fixture()
    jobs = parsed["jobs"]
    # key_a's window runs from its SQL execution start to the end of
    # job 1; key_b is attributed by its group alone (a window that
    # covers nothing); job 0 (warm-up) and job 2 (another group,
    # outside both windows) count for no key
    windows = {
        "key_a": (parsed["sql_starts"][0], jobs[1]["end_ms"]),
        "key_b": (0.0, 1.0),
    }
    per_key = eventlog.attribute(parsed, windows)
    a, b = per_key["key_a"], per_key["key_b"]
    assert a["jobs"] == 1 and b["jobs"] == 3
    assert a["stages"] == 2 and a["stages_skipped"] == 0
    assert b["stages"] == 3 and b["stages_skipped"] == 1
    assert a["sql_executions"] == 1 and b["sql_executions"] == 0
    tasks_by_job = {}
    for t in parsed["tasks"]:
        tasks_by_job[t["job"]] = tasks_by_job.get(t["job"], 0) + 1
    assert a["tasks"] == tasks_by_job[1]
    assert b["tasks"] == sum(tasks_by_job[j] for j in (3, 4, 5))
    assert b["shuffle_read_bytes"] > 0 and b["shuffle_write_bytes"] == 0
    assert a["in_job_s"] == pytest.approx((jobs[1]["end_ms"] - jobs[1]["submit_ms"]) / 1e3)
    assert a["exec_cpu_s"] > 0 and a["tasks_failed"] == 0


# ---- end-to-end summary -------------------------------------------------


def _pass(lat, status=None):
    status = status or ["ok"] * len(lat)
    return {
        "keys": [
            {"key": f"k{i}", "status": s, "build_s": t / 2, "run_s": t / 2}
            for i, (t, s) in enumerate(zip(lat, status))
        ]
    }


def test_end_to_end_metrics():
    p = _pass([1.0, 4.0, 2.0])
    p["setups"] = [{"setup_s": v} for v in (5.0, 9.0, 6.0)]
    m = end_to_end(p)
    assert m["setup_s"] == 6.0
    assert m["wall_s"] == pytest.approx(7.0)
    assert m["key_p50_s"] == pytest.approx(2.0)
    assert m["key_geomean_s"] == pytest.approx(2.0)
    assert m["completed_frac"] == m["correct_frac"] == 1.0


def test_end_to_end_counts_failed_and_wrong_keys():
    p = _pass([1.0, 1.0, 1.0, 1.0], ["ok", "failed", "wrong", "ok"])
    p["setups"] = [{"setup_s": 1.0}]
    m = end_to_end(p)
    assert m["completed_frac"] == 0.75
    assert m["correct_frac"] == 0.5
    assert math.isclose(m["wall_s"], 3.0)


# ---- per-layer summary --------------------------------------------------


def _traced_pass():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        lines = f.readlines()
    parsed = eventlog.parse(lines)
    keys = [
        {"key": "key_a", "status": "ok", "build_s": 0.5, "run_s": 0.5,
         "window_ms": (parsed["sql_starts"][0], parsed["jobs"][1]["end_ms"])},
        {"key": "key_b", "status": "ok", "build_s": 1.0, "run_s": 1.0, "window_ms": (0.0, 1.0)},
    ]
    traced = {
        "keys": keys,
        "setups": [{"start_s": 5.0, "warmup_s": 3.0}],
        "peak_rss_mb": 100.0,
        "trace": {
            "layers": {"key_b": {"operators.dedup": {"calls": 2, "self_s": 0.25}}},
            "mllib": {},
            "streaming": {},
            "span_names": ["functions", "operators.dedup", "operators.graph"],
        },
    }
    untraced = {"keys": [dict(k, build_s=k["build_s"] / 2) for k in keys]}
    return traced, untraced, lines


def test_per_layer_reads_unreached_modules_as_zero():
    traced, untraced, lines = _traced_pass()
    names = ["operators.dedup.calls", "operators.graph.self_s", "spark.jobs", "trace.overhead_frac"]
    values, per_key = per_layer(traced, untraced, lines, names)
    assert values["operators.dedup.calls"] == 2
    assert values["operators.graph.self_s"] == 0
    assert values["spark.jobs"] == 4
    assert values["trace.overhead_frac"] == pytest.approx(3.0 / 2.25 - 1)
    assert per_key["key_b"]["operators.dedup.self_s"] == 0.25


def test_per_layer_fails_on_a_module_that_does_not_exist():
    traced, untraced, lines = _traced_pass()
    with pytest.raises(RuntimeError, match="operators.gone.calls"):
        per_layer(traced, untraced, lines, ["operators.gone.calls"])
