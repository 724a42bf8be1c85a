"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pandas as pd

import check
import eventlog
import run
import workloads

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog")


def test_fixture_jobs_and_tags():
    jobs, bcast = eventlog.parse(eventlog.read_events(FIXTURE))
    assert len(jobs) == 11
    assert {j["tag"][0] for j in jobs} == {"approx_topk_cms"}
    warm = [j for j in jobs if j["tag"][2] == 1]
    assert [j["tag"][1] for j in warm] == ["exec"] * 5
    assert sum(j["tasks"] for j in warm) == 5
    assert sum(j["run_ms"] for j in warm) == 740
    assert sum(j["shuffle_w"] for j in warm) == 5154
    assert sum(j["shuffle_r"] for j in warm) == 7015
    assert sum(j["gc_ms"] for j in jobs) == 255
    cold_build = [j for j in jobs if j["tag"][1:] == ("build", 0)]
    assert len(cold_build) == 1 and cold_build[0]["tasks"] == 1
    assert bcast == {("approx_topk_cms", "exec", 0): 113,
                     ("approx_topk_cms", "exec", 1): 113}


def test_report_per_warm_pass(monkeypatch):
    # the fixture's jobs are tagged pass=1: make that a timed warm pass
    monkeypatch.setattr(workloads, "WARMUP_PASSES", 0)
    jobs, bcast = eventlog.parse(eventlog.read_events(FIXTURE))
    warm = [j for j in jobs if j["tag"][2] == 1]
    t0 = min(j["submit"] for j in warm) / 1000.0
    t1 = max(j["end"] for j in warm) / 1000.0
    full = {
        "session_start_s": 9.0, "registry_import_s": 0.3,
        "registry_queries": 343, "cores": 4,
        "execs": [{"query": "approx_topk_cms", "pass": 1, "wall": 2.0,
                   "build": (t0 - 1.0, t0 - 0.5), "plan": (t0 - 0.5, t0),
                   "exec": (t0, t1)}],
        "spans": [["sources.load", "catalog.read_parquet_cached",
                   t0 - 0.9, t0 - 0.8, 0, ["approx_topk_cms", 1, "build"],
                   {"hit": True}],
                  ["operators", "sketch.cms_counter_table", t0 - 0.7,
                   t0 - 0.6, 0, ["approx_topk_cms", 1, "build"], None]],
    }
    m, per_query = eventlog.report(full, jobs, bcast)
    assert m["exec.jobs"][0] == 5 and m["exec.tasks"][0] == 5
    assert abs(m["exec.task_s"][0] - 0.74) < 1e-9
    assert m["exec.broadcast_rows_max"][0] == 113
    assert m["queries.build_jobs"][0] == 0
    assert abs(m["queries.build_self_s"][0] - 0.5) < 1e-9
    assert m["sources.schema_hit_ratio"][0] == 1.0
    assert m["operators.calls"][0] == 1
    assert abs(m["exec.busy_frac"][0] - 0.74 / ((t1 - t0) * 4)) < 1e-9
    assert per_query["approx_topk_cms"]["exec_jobs"] == 5


def test_union_within():
    assert eventlog._union_within([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5
    assert eventlog._union_within([], 0, 1) == 0.0


def test_perturbed_result_counts_as_failure():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = want.sample(frac=1.0, random_state=0)  # order must not matter
    assert check.compare_frames("q", got, want) is None
    bad = got.copy()
    bad.iloc[0, 1] += 1e-9
    reason = check.compare_frames("q", bad, want)
    assert reason is not None
    full = {"execs": [{"query": "q", "pass": p} for p in range(3)]
            + [{"query": "r", "pass": 0}],
            "errors": {}, "mismatches": {"q": reason}}
    assert run.count_failures(full)[:2] == (4, 3)


def test_pass_order_is_seeded_and_pass_count_fixed():
    qs = [("x", "noop"), ("y", "noop"), ("z", "noop")]
    assert workloads.pass_order(qs, 1, 0) == workloads.pass_order(qs, 1, 0)
    assert sorted(workloads.pass_order(qs, 2, 3)) == qs
    assert workloads.warm_passes(1) == 3
    assert workloads.warm_passes(16) == 4
    assert [p for p in range(5) if workloads.is_timed_warm(p)] == [2, 3, 4]
