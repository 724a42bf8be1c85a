"""Offline parser of Spark's uncompressed event log, and the per-layer
report built from it and the traced run's spans.

Spark 4 writes a rolling log: ``eventlog_v2_<app>/events_<n>_<app>``,
one JSON object per line.  The worker tags every job with the job
group ``<workload>/<query>#build|#exec`` and the description
``... pass=<n>``; SQL executions carry the same tags.  Pure standard
library: no package beyond what the program already needs.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

import workloads

_SQL = "org.apache.spark.sql.execution.ui."
_PASS = re.compile(r"pass=(\d+)")


def event_files(log_dir: str) -> "list[str]":
    """Event files of every application under ``log_dir``, in order."""
    def key(path):
        return (os.path.dirname(path),
                int(os.path.basename(path).split("_")[1]))

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                         "events_*")), key=key)


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _tag(group: "str | None", desc: "str | None"):
    """(query, phase, pass) of a job group + description, or None for
    jobs the benchmark did not tag (e.g. its own output check)."""
    if not group or "#" not in group or "/" not in group:
        return None
    m = _PASS.search(desc or "")
    if m is None:
        return None
    head, phase = group.rsplit("#", 1)
    return head.split("/", 1)[1], phase, int(m.group(1))


def _walk(node, out):
    out.append(node)
    for child in node.get("children", ()):
        _walk(child, out)
    return out


def parse(events) -> "tuple[list[dict], dict]":
    """Jobs with their task totals, and the largest broadcast (rows)
    per ``(query, phase, pass)``."""
    jobs, stage_owner, done_stages = {}, {}, set()
    stage_tot: "dict[int, dict]" = {}
    bcast_ids: "dict[int, set]" = {}   # execution -> accumulator ids
    exec_tag: "dict[int, tuple]" = {}
    accum: "dict[int, int]" = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = _tag(props.get("spark.jobGroup.id"),
                       props.get("spark.job.description"))
            jobs[e["Job ID"]] = {"tag": tag, "submit": e["Submission Time"],
                                 "end": None, "stages": e["Stage IDs"]}
            for sid in e["Stage IDs"]:
                stage_owner.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            done_stages.add(e["Stage Info"]["Stage ID"])
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = stage_tot.setdefault(e["Stage ID"], dict.fromkeys(
                ("tasks", "run_ms", "gc_ms", "shuffle_w", "shuffle_r",
                 "spill"), 0))
            sr = m.get("Shuffle Read Metrics") or {}
            t["tasks"] += 1
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["shuffle_r"] += (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0))
            t["spill"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
        elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            xid = e["executionId"]
            if ev.endswith("ExecutionStart"):
                exec_tag[xid] = _tag(e.get("jobGroupId"),
                                     e.get("description"))
            ids = bcast_ids.setdefault(xid, set())
            for node in _walk(e["sparkPlanInfo"], []):
                if node["nodeName"] == "BroadcastExchange":
                    ids.update(m["accumulatorId"] for m in node["metrics"]
                               if m["name"] == "number of output rows")
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in e["accumUpdates"]:
                accum[aid] = max(accum.get(aid, 0), val)

    out = []
    for jid, j in sorted(jobs.items()):
        tot = dict.fromkeys(("stages", "tasks", "run_ms", "gc_ms",
                             "shuffle_w", "shuffle_r", "spill"), 0)
        for sid in j["stages"]:
            if stage_owner.get(sid) == jid and sid in done_stages:
                tot["stages"] += 1
                for k, v in stage_tot.get(sid, {}).items():
                    tot[k] += v
        out.append({"id": jid, **j, **tot})
    bcast: "dict[tuple, int]" = {}
    for xid, ids in bcast_ids.items():
        tag = exec_tag.get(xid)
        rows = max((accum.get(a, 0) for a in ids), default=0)
        if tag is not None:
            bcast[tag] = max(bcast.get(tag, 0), rows)
    return out, bcast


def _union_within(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_report(full: dict, log_dir: str):
    """Per-layer metrics (per timed warm pass) and a per-query breakdown
    (medians over timed warm passes) of one traced worker result."""
    jobs, bcast = parse(read_events(log_dir))
    return report(full, jobs, bcast)


def report(full: dict, jobs: "list[dict]", bcast: dict):
    execs = [e for e in full["execs"]
             if workloads.is_timed_warm(e["pass"]) and "build" in e]
    passes = sorted({e["pass"] for e in execs})
    n = max(len(passes), 1)
    spans = [s for s in full["spans"] if s[5] is not None
             and workloads.is_timed_warm(s[5][1])]
    warm_jobs = [j for j in jobs if j["tag"]
                 and workloads.is_timed_warm(j["tag"][2])
                 and j["end"] is not None]
    for j in warm_jobs:
        j["t0"], j["t1"] = j["submit"] / 1000.0, j["end"] / 1000.0

    def phase_jobs(phase, query=None, pass_no=None):
        return [j for j in warm_jobs if j["tag"][1] == phase
                and (query is None or j["tag"][0] == query)
                and (pass_no is None or j["tag"][2] == pass_no)]

    def outer(layer):
        return [s for s in spans if s[0] == layer and s[4] == 0]

    def dur(ss):
        return sum(s[3] - s[2] for s in ss)

    def jsum(js, key):
        return sum(j[key] for j in js)

    loads = outer("sources.load")
    load_jobs = sum(1 for j in warm_jobs
                    if any(s[2] <= j["t0"] <= s[3] for s in loads))
    reads = [s for s in spans if s[0] == "sources.load" and s[6]]
    build_self = 0.0
    for e in execs:
        b0, b1 = e["build"]
        jobs_in = [(j["t0"], j["t1"]) for j in
                   phase_jobs("build", e["query"], e["pass"])]
        build_self += (b1 - b0) - _union_within(jobs_in, b0, b1)
    bj, xj = phase_jobs("build"), phase_jobs("exec")
    exec_s = sum(e["exec"][1] - e["exec"][0] for e in execs)
    by_pass: "dict[int, float]" = {}
    for e in full["execs"]:
        if workloads.is_timed_warm(e["pass"]):
            by_pass[e["pass"]] = by_pass.get(e["pass"], 0.0) + e["wall"]

    m = {
        "session.start_s": (full["session_start_s"], "s"),
        "registry.import_s": (full["registry_import_s"], "s"),
        "registry.queries": (full["registry_queries"], "count"),
        "sources.load_calls": (len(loads) / n, "count"),
        "sources.load_s": (dur(loads) / n, "s"),
        "sources.schema_hit_ratio": (
            sum(1 for s in reads if s[6]["hit"]) / len(reads)
            if reads else 0.0, "ratio"),
        "sources.load_jobs": (load_jobs / n, "count"),
        "sources.spread_input_calls": (
            len(outer("sources.spread_input")) / n, "count"),
        "sources.spread_input_s": (dur(outer("sources.spread_input")) / n,
                                   "s"),
        "sources.sink_s": (dur(outer("sources.sink")) / n, "s"),
        "sources.sink_bytes": (
            sum(e.get("sink_bytes", 0) for e in execs) / n, "B"),
        "plans.compile_s": (dur(outer("plans.compile")) / n, "s"),
        "plans.catalyst_s": (
            sum(e["plan"][1] - e["plan"][0] for e in execs) / n, "s"),
        "operators.calls": (
            sum(1 for s in spans if s[0] == "operators") / n, "count"),
        "operators.build_s": (dur(outer("operators")) / n, "s"),
        "queries.build_s": (
            sum(e["build"][1] - e["build"][0] for e in execs) / n, "s"),
        "queries.build_self_s": (build_self / n, "s"),
        "queries.build_jobs": (len(bj) / n, "count"),
        "queries.build_job_s": (
            sum(j["t1"] - j["t0"] for j in bj) / n, "s"),
        "queries.build_tasks": (jsum(bj, "tasks") / n, "count"),
        "exec.s": (exec_s / n, "s"),
        "exec.jobs": (len(xj) / n, "count"),
        "exec.stages": (jsum(xj, "stages") / n, "count"),
        "exec.tasks": (jsum(xj, "tasks") / n, "count"),
        "exec.task_s": (jsum(xj, "run_ms") / 1000.0 / n, "s"),
        "exec.busy_frac": (
            jsum(xj, "run_ms") / 1000.0 / (exec_s * full["cores"])
            if exec_s else 0.0, "ratio"),
        "exec.gc_s": (jsum(xj, "gc_ms") / 1000.0 / n, "s"),
        "exec.shuffle_write_bytes": (jsum(xj, "shuffle_w") / n, "B"),
        "exec.shuffle_read_bytes": (jsum(xj, "shuffle_r") / n, "B"),
        "exec.spill_bytes": (jsum(xj, "spill") / n, "B"),
        "exec.broadcast_rows_max": (
            max([v for (q, ph, p), v in bcast.items()
                 if ph == "exec" and p > 0], default=0), "rows"),
        "trace.warm_pass_s": (
            statistics.median(by_pass.values()) if by_pass else 0.0, "s"),
    }

    per_query = {}
    for q in sorted({e["query"] for e in execs}):
        rows = []
        for e in (e for e in execs if e["query"] == q):
            b, x = (phase_jobs("build", q, e["pass"]),
                    phase_jobs("exec", q, e["pass"]))
            rows.append({
                "build_s": e["build"][1] - e["build"][0],
                "plan_s": e["plan"][1] - e["plan"][0],
                "exec_s": e["exec"][1] - e["exec"][0],
                "build_jobs": len(b), "exec_jobs": len(x),
                "exec_stages": jsum(x, "stages"),
                "tasks": jsum(b, "tasks") + jsum(x, "tasks"),
                "shuffle_write_bytes": jsum(x, "shuffle_w"),
                "spill_bytes": jsum(x, "spill"),
                "broadcast_rows_max": bcast.get((q, "exec", e["pass"]), 0),
            })
        per_query[q] = {k: statistics.median(r[k] for r in rows)
                        for k in rows[0]}
    return m, per_query
