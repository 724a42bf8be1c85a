"""Host conditions of a run and the processes it leaves behind."""

from __future__ import annotations

import os
import signal
import time
from importlib import metadata


def _proc_stat(pid: str) -> "tuple[str, int, int] | None":
    """(comm, ppid, pgrp) of a live process; None if it has ended
    (zombies included: they hold no resources)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    if fields[0] == "Z":
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], int(fields[1]), int(fields[2])


def java_pids() -> "list[int]":
    return [int(p) for p in os.listdir("/proc")
            if p.isdigit() and (_proc_stat(p) or ("",))[0] == "java"]


def group_pids(pgid: int) -> "list[int]":
    return [int(p) for p in os.listdir("/proc")
            if p.isdigit() and (_proc_stat(p) or ("", 0, -1))[2] == pgid]


def reap_group(pgid: int, timeout: float = 20.0) -> int:
    """Stop every process still in process group ``pgid`` (SIGTERM,
    SIGKILL after half the timeout) and wait until all have ended;
    returns how many were left running."""
    start = time.time()
    left = group_pids(pgid)
    stray = len(left)
    while left:
        late = time.time() - start > timeout / 2
        try:
            os.killpg(pgid, signal.SIGKILL if late else signal.SIGTERM)
        except ProcessLookupError:
            break
        time.sleep(0.2)
        left = group_pids(pgid)
        if left and time.time() - start > timeout:
            raise RuntimeError(f"processes {left} would not stop")
    return stray


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed while walking
                pass
    return total


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return -1.0


def _version(pkg: str) -> str:
    try:
        return metadata.version(pkg)
    except metadata.PackageNotFoundError:
        return "absent"


def cpu_ticks() -> "list[int]":
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def group_cpu_s(pgid: int) -> float:
    """CPU seconds (user + system) that the live processes of process
    group ``pgid`` have used so far."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            total += int(fields[11]) + int(fields[12])
    return total / hz


def steal_share(before: "list[int]", after: "list[int]") -> float:
    """Share of the CPU time this VM asked for between two
    ``cpu_ticks`` readings that the hypervisor gave to someone else."""
    d = [a - b for a, b in zip(after, before)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted > 0 else 0.0


def stamp_start() -> dict:
    """Conditions before the run starts any process of its own."""
    jvms = java_pids()
    return {
        "cpu_ticks_before": cpu_ticks(),
        "load_before": os.getloadavg(),
        "mem_available_mb": round(mem_available_mb(), 1),
        "foreign_jvms": len(jvms),
        "foreign_jvm_flag": bool(jvms),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": _version("pyspark"),
        "duckdb": _version("duckdb"),
    }


def stamp_end(stamp: dict) -> dict:
    """Adds the load after the run and the share of CPU time the
    hypervisor took from this VM during it (steal)."""
    before, after = stamp.pop("cpu_ticks_before"), cpu_ticks()
    delta = [a - b for a, b in zip(after, before)]
    stamp["load_after"] = os.getloadavg()
    stamp["steal_frac"] = delta[7] / sum(delta) if sum(delta) else 0.0
    return stamp
