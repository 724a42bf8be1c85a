"""Input staging: the committed sf0.01 tables, and sf0.1 made from them
once per checkout by ``scripts/make_scaled_sf.py``.

Staging runs before any measured process and is never timed.  The
script runs its own ``local[8]`` session, so it must not overlap a
measurement; ``run.py`` calls ``ensure`` before it starts a worker.
Row counts of every staged table are checked before each run.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import host
from workloads import BASE_SCALE, HERE, REPLICAS, SINGLE_COPY, TABLES

BASE_DIR = os.path.join(HERE, "data", BASE_SCALE)


def table_rows(sf_dir: str) -> "dict[str, int]":
    """Rows per table, read from parquet footers by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        out = {}
        for t in TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(src):
                src = os.path.join(src, "*.parquet")
            out[t] = con.execute(
                f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
        return out
    finally:
        con.close()


def expected_rows(scale: str, base: "dict[str, int]") -> "dict[str, int]":
    reps = REPLICAS[scale]
    return {t: n if t in SINGLE_COPY else n * reps for t, n in base.items()}


def ensure(scale: str, cache: str, env: dict, cwd: str,
           log) -> "tuple[str, dict]":
    """Directory of ``scale`` and its row counts; stages it first if
    the cache does not hold it yet.  Raises if the counts are wrong."""
    base = table_rows(BASE_DIR)
    if scale == BASE_SCALE:
        return BASE_DIR, base
    want = expected_rows(scale, base)
    dst = os.path.join(cache, scale)
    if not os.path.isdir(dst):
        tmp = dst + ".staging"
        shutil.rmtree(tmp, ignore_errors=True)
        script = os.path.join(os.getcwd(), "scripts", "make_scaled_sf.py")
        p = subprocess.Popen(
            [sys.executable, script, "--src", BASE_DIR, "--dst", tmp,
             "--replicas", str(REPLICAS[scale])],
            env=env, cwd=cwd, stdout=log, stderr=log,
            start_new_session=True)
        try:
            code = p.wait(timeout=800)
        finally:
            host.reap_group(p.pid)
            p.wait()
        if code != 0:
            raise RuntimeError(f"staging {scale} failed with exit {code}")
        os.rename(tmp, dst)
    got = table_rows(dst)
    if got != want:
        raise RuntimeError(f"{scale} row counts {got} != expected {want}; "
                           f"delete {dst} to stage it again")
    return dst, got
