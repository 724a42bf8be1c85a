"""Repeat ``run.py`` over seeds and summarise each metric's spread.

    python3 perfbench/repeat.py --workloads join_sf0.1 llm_build_sf0.01 \\
        --seeds 1-10 --seconds 12 --trace 0 --out summary.json

Runs one at a time, seed-major (every workload for seed 1, then for
seed 2, ...), so slow drift of the host spreads over all workloads.
Per workload and metric it reports the median, the quartiles from
``statistics.quantiles(values, n=4)`` and their distance as a share of
the median (``iqr_frac``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> "list[int]":
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: "list[float]") -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_frac": (q3 - q1) / med if med else 0.0,
            "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    runs = {w: [] for w in args.workloads}
    for seed in args.seeds:
        for w in args.workloads:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", args.seconds, "--trace", args.trace],
                capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            detail = json.loads(lines[-2])["detail"]
            result = json.loads(lines[-1])
            runs[w].append({"detail": detail, "result": result})
            print(w, seed, json.dumps(result), flush=True)

    summary = {}
    for w, rs in runs.items():
        names = rs[0]["result"]["metrics"]
        summary[w] = {
            "runs": len(rs),
            "correct": all(r["result"]["correct"] for r in rs),
            "failed": sum(r["result"]["failed"] for r in rs),
            "attempted": sum(r["result"]["attempted"] for r in rs),
            "foreign_jvm_runs": sum(r["detail"]["host"]["foreign_jvm_flag"]
                                    for r in rs),
            "metrics": {
                k: {"unit": names[k]["unit"], **summarise(
                    [r["result"]["metrics"][k]["value"] for r in rs])}
                for k in names},
            "details": [r["detail"] for r in rs],
        }
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1)
    for w, s in summary.items():
        print(w, {k: round(m["iqr_frac"], 3) for k, m in s["metrics"].items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
