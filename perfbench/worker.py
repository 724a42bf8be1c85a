"""The measured process of the benchmark (started by ``run.py``).

It starts the program, then runs one cold pass, untimed warm-up passes
and timed warm passes for ``--seconds``, one query at a time from one
client, and afterwards checks every query's output (untimed): the
JSON-lines files the last warm pass wrote, or for queries on the noop
sink a collect of the DataFrame the last warm pass built.  Results go
to ``--out`` as JSON; the ``ready`` time is absolute so the parent can
measure set-up from the moment it spawned this process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from host import cpu_ticks, dir_bytes, group_cpu_s


def _setup() -> dict:
    """Start the program the way a user of the library does; return
    the session, the registry and the absolute time stamps."""
    t0 = time.time()
    import cassandra_join_library_spark as pkg

    spark = pkg.get_spark(app_name="perfbench")
    t2 = time.time()
    from cassandra_join_library_spark.registry import all_queries

    queries = all_queries()
    t3 = time.time()
    from cassandra_join_library_spark.sources.catalog import (
        ensure_session_confs,
    )

    ensure_session_confs(spark)
    return {
        "spark": spark, "queries": queries, "ready": time.time(),
        "ready_ticks": cpu_ticks(),
        "session_start_s": t2 - t0,
        "registry_import_s": t3 - t2,
    }


def _run_query(spark, fn, name, sink, sf_dir, out_dir, group, pass_no,
               tracer, keep):
    """Build, (traced: plan,) execute one query; return its timings.
    Its Spark jobs carry the job group ``<group>#build|#exec`` and the
    pass number in their description.  With ``keep`` the output check
    gets what this execution produced: a JSON-lines output stays on
    disk and ``rec["written"]`` holds its path and schema; for the noop
    sink ``rec["built"]`` holds the DataFrame the query built."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    rec = {"query": name, "sink": sink, "ticks": [cpu_ticks()],
           "cpu": [group_cpu_s(os.getpgid(0))]}
    sc.setJobGroup(f"{group}#build", f"{group}#build pass={pass_no}")
    if tracer is not None:
        tracer.context = (name, pass_no, "build")
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    sc.setJobGroup(f"{group}#exec", f"{group}#exec pass={pass_no}")
    if tracer is not None:
        tracer.context = (name, pass_no, "exec")
        # force Catalyst's physical plan apart from execution
        df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    path = os.path.join(out_dir, name)
    if sink == "json":
        from cassandra_join_library_spark.sources import sinks

        sinks.write_json_lines(df, path)
    else:
        df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    rec["ticks"].append(cpu_ticks())
    rec["cpu"].append(group_cpu_s(os.getpgid(0)))
    sc.setJobGroup("perfbench#idle", "perfbench#idle")
    if tracer is not None:
        tracer.context = None
        if sink == "json":
            rec["sink_bytes"] = dir_bytes(path)
    if sink == "json" and keep:
        rec["written"] = (path, df.schema)
    elif keep:
        rec["built"] = df
    elif sink == "json":
        shutil.rmtree(path, ignore_errors=True)
    rec.update(build=(t0, t1), plan=(t1, t2), exec=(t2, t3),
               wall=t3 - t0)
    return rec


def _peak_rss_mb() -> float:
    """VmHWM of this process plus the driver JVM it launched, in MiB.
    Spark's own Python workers are left out: how many of them are
    alive at the end depends on task scheduling, not on the program."""
    me = str(os.getpid())
    total_kb = 0
    for pid in [me] + [p for p in os.listdir("/proc") if p.isdigit()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if pid == me or (status.get("Name", "").strip() == "java"
                         and _descends_from(pid, me)):
            total_kb += int(status.get("VmHWM", "0 kB").split()[0])
    return total_kb / 1024.0


def _descends_from(pid: str, ancestor: str) -> bool:
    while pid not in ("0", "1", ancestor):
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            return False
    return pid == ancestor


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True, help="input scale directory")
    ap.add_argument("--scratch", required=True,
                    help="per-run output directory")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    st = _setup()
    result = {k: v for k, v in st.items() if k not in ("spark", "queries")}
    spark, queries = st["spark"], st["queries"]
    result["registry_queries"] = len(queries)

    import check
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    plan = list(wl.queries)
    result["plan"] = plan
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()

    execs, errors, written, built = [], {}, {}, {}
    # one cold pass, untimed warm-up passes, then a timed warm-pass
    # count fixed by --seconds and the nominal pass time: the program
    # keeps warming pass after pass, so a count that grew with its
    # speed would shift the median
    last = workloads.WARMUP_PASSES + workloads.warm_passes(args.seconds)
    for pass_no in range(1 + last):
        for name, sink in workloads.pass_order(plan, args.seed, pass_no):
            group = f"{wl.name}/{name}"
            try:
                rec = _run_query(spark, queries[name], name, sink,
                                 args.data, args.scratch, group, pass_no,
                                 tracer, keep=pass_no == last)
            except Exception:  # counted against the query, run goes on
                errors.setdefault(name, traceback.format_exc(limit=3))
                rec = {"query": name, "failed": True, "wall": 0.0}
            if "written" in rec:
                written[name] = rec.pop("written")
            if "built" in rec:
                built[name] = rec.pop("built")
            rec["pass"] = pass_no
            execs.append(rec)
    result["peak_rss_mb"] = _peak_rss_mb()
    result["execs"] = execs

    t_check = time.time()
    mismatches = check.check_outputs(spark, queries, [q for q, _ in plan],
                                     args.data, written, built)
    result["check_s"] = time.time() - t_check
    for path, _ in written.values():
        shutil.rmtree(path, ignore_errors=True)
    result["errors"] = errors
    result["mismatches"] = mismatches
    if tracer is not None:
        result["spans"] = tracer.spans
        result["cores"] = spark.sparkContext.defaultParallelism
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
