"""Benchmark of cassandra_join_library_spark: one workload, one run.

    python3 perfbench/run.py --workload join_sf0.1 --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout.  A run stages its inputs if needed
(untimed), starts a fresh worker process that sets the program up,
runs one cold pass, one untimed warm-up pass and timed warm passes
for ``--seconds``, one query at a time from one client on
``local[<nproc>]``, then checks every query's output against its
DuckDB oracle.  ``--trace 1`` turns on Spark's
event log and the layer spans and reports per-layer metrics instead of
the end-to-end ones.

Stdout: a ``detail`` JSON line (host conditions, per-query figures,
failures), then as the last line the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import stage  # noqa: E402
import workloads  # noqa: E402

CACHE = ".perfbench_cache"
DRIVER_MEM = "4g"
FULL_TIMEOUT = 150


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _worker_env(run_dir: str, ncores: int, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in [env.get("PYTHONPATH")] if p])
    tmp = os.path.join(run_dir, "tmp")
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        submit += [f"--conf spark.eventLog.{k}={v}" for k, v in (
            ("enabled", "true"),
            ("dir", "file://" + os.path.join(run_dir, "eventlog")),
            ("compress", "false"),
            ("rolling.enabled", "true"),
        )]
    env.update({
        "SPARK_GRAFT_CPUS": str(ncores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def _spawn(args: "list[str]", env: dict, cwd: str, log_path: str,
           timeout: float) -> "tuple[dict, float]":
    """Run one worker to completion; returns its result and the time
    it was spawned.  Every process it started is stopped before this
    returns, also on failure."""
    out = os.path.join(cwd, "worker.json")
    with open(log_path, "ab") as log:
        ticks = host.cpu_ticks()
        t_spawn = time.time()
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             *args, "--out", out],
            env=env, cwd=cwd, stdout=log, stderr=log,
            start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            host.reap_group(p.pid)
            p.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(
            f"worker {args[:2]} "
            f"{'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    res["spawn_ticks"] = ticks
    return res, t_spawn


def _median(xs) -> float:
    """Median; 0.0 when every execution failed and nothing was timed."""
    return statistics.median(xs) if xs else 0.0


def pass_walls(full: dict) -> "list[float]":
    """Summed query walls of each pass; index 0 is the cold pass."""
    walls = [0.0] * (1 + max(e["pass"] for e in full["execs"]))
    for e in full["execs"]:
        walls[e["pass"]] += e["wall"]
    return walls


def warm_walls(full: dict) -> "list[float]":
    """Summed query walls of each timed warm pass."""
    return [w for p, w in enumerate(pass_walls(full))
            if workloads.is_timed_warm(p)]


def pass_cpu(full: dict) -> "list[float]":
    """CPU seconds the worker's processes used in each pass's queries."""
    cpu = [0.0] * (1 + max(e["pass"] for e in full["execs"]))
    for e in full["execs"]:
        if "cpu" in e:
            cpu[e["pass"]] += e["cpu"][1] - e["cpu"][0]
    return cpu


def pass_steal(full: dict) -> "list[float]":
    """Steal share of each pass (index 0 is the cold pass), from its
    first query's start to its last query's end."""
    spans: "dict[int, list]" = {}
    for e in full["execs"]:
        if "ticks" in e:
            spans.setdefault(e["pass"], [e["ticks"][0], None])[1] = \
                e["ticks"][1]
    return [host.steal_share(*spans[p]) for p in sorted(spans)]


def end_to_end(full: dict, setup_s: float, input_rows: int) -> dict:
    execs = [e for e in full["execs"] if not e.get("failed")]
    warm_pass = _median(warm_walls(full))
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (pass_walls(full)[0], "s"),
        "warm_pass_s": (warm_pass, "s"),
        "query_p50_s": (_median([e["wall"] for e in execs
                                 if workloads.is_timed_warm(e["pass"])]),
                        "s"),
        "input_rows_per_s": (input_rows / warm_pass if warm_pass else 0.0,
                             "1/s"),
    }


def query_walls(full: dict) -> dict:
    """Per query: cold wall and median timed warm wall, in seconds."""
    out = {}
    for e in full["execs"]:
        out.setdefault(e["query"], [None, []])
        if e["pass"] == 0:
            out[e["query"]][0] = e["wall"]
        elif workloads.is_timed_warm(e["pass"]):
            out[e["query"]][1].append(e["wall"])
    return {q: {"cold_s": c, "warm_s": _median(w)} for q, (c, w) in out.items()}


def count_failures(full: dict) -> "tuple[int, int, set]":
    """(attempted, failed, bad queries): every timed execution of a
    query that raised or whose output failed the check is a failure."""
    bad = set(full["errors"]) | set(full["mismatches"])
    execs = full["execs"]
    return len(execs), sum(1 for e in execs if e["query"] in bad), bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("cassandra_join_library_spark/__init__.py",
                 "scripts/make_scaled_sf.py"):
        if not os.path.isfile(os.path.join(root, need)):
            return _fail(f"{need} not found: run from a checkout root")

    stamp = host.stamp_start()
    ncores = stamp["nproc"]
    wl = workloads.WORKLOADS[args.workload]
    cache = os.path.join(root, CACHE)
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "out", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    log_path = os.path.join(run_dir, "worker.log")
    env = _worker_env(run_dir, ncores, bool(args.trace))
    try:
        with open(log_path, "ab") as log:
            data_dir, rows = stage.ensure(
                wl.scale, cache, _worker_env(run_dir, ncores, False),
                run_dir, log)
        full, t_full = _spawn(
            ["--workload", wl.name, "--seed", str(args.seed),
             "--trace", str(args.trace), "--seconds", str(args.seconds),
             "--data", data_dir, "--scratch", os.path.join(run_dir, "out")],
            env, run_dir, log_path, FULL_TIMEOUT)
        setup_s = full["ready"] - t_full
        if args.trace:
            import eventlog

            layers, per_query = eventlog.layer_report(
                full, os.path.join(run_dir, "eventlog"))
        left_bytes = (host.dir_bytes(run_dir)
                      - os.path.getsize(log_path))
    except (RuntimeError, OSError, subprocess.SubprocessError) as exc:
        return _fail(str(exc))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, bad = count_failures(full)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                   end_to_end(full, setup_s, sum(rows.values())).items()}
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "host": host.stamp_end(stamp),
        "queries": [q for q, _ in full["plan"]],
        "passes": 1 + max(e["pass"] for e in full["execs"]),
        "failed_frac": failed / attempted,
        "errors": full["errors"], "mismatches": full["mismatches"],
        # not a bounded metric: G1's adaptive heap growth moved it
        # between 1.3 and 2.4 GB across runs of the same code
        "peak_rss_mb": full["peak_rss_mb"],
        "pass_walls_s": pass_walls(full),
        "setup_steal": host.steal_share(full["spawn_ticks"],
                                        full["ready_ticks"]),
        "pass_steal": pass_steal(full),
        "pass_cpu_s": pass_cpu(full),
        "check_s": full["check_s"],
        "run_bytes_left": left_bytes,
        "input_rows": rows,
    }
    detail["per_query"] = per_query if args.trace else query_walls(full)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
