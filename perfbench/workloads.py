"""Workload definitions: which registered queries each workload runs,
at which scale, through which sink, and in which order.

The seed never changes the input tables.  It shuffles the query order
of every pass.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

#: the ten input tables every scale holds: ``parity.TABLES``, copied so
#: the parent process of a run never imports pyspark
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: tables make_scaled_sf.py keeps single-copy; all others scale
SINGLE_COPY = ("region", "nation")

#: committed base scale, a copy of the sf0.01 test data (TESTDATA.md)
BASE_SCALE = "sf0.01"

#: scale -> replicas of the base made by scripts/make_scaled_sf.py
REPLICAS = {"sf0.01": 1, "sf0.1": 10}


#: warm-pass wall of each workload on the calibration host; with
#: --seconds it fixes the number of timed warm passes (see ``warm_passes``)
NOMINAL_PASS_S = 4.0

#: untimed passes between the cold pass and the timed warm passes: the
#: JVM is still compiling hot code after the cold pass (the first pass
#: after it ran 10-35 % slower than the next)
WARMUP_PASSES = 1


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str
    #: (query, sink) pairs; sink is "json" (JSON-lines, the reference's
    #: result format) or "noop" (every column computed, nothing kept)
    queries: "tuple[tuple[str, str], ...]"


#: JoinExecutor joins at sf0.1 written through the JSON-lines sink:
#: Spark execution and the sink take three quarters or more of a warm
#: pass, query build (JoinExecutor compile) the rest
JOIN = Workload(
    name="join_sf0.1",
    scale="sf0.1",
    queries=(
        ("join_left", "json"),
        ("join_composite", "json"),
        ("theta_neq", "json"),
    ),
)

#: the LLM-pipeline query whose build step launches the most eager Spark
#: jobs (lineage cuts, sizing counts) before execution starts
LLM_BUILD = Workload(
    name="llm_build_sf0.01",
    scale="sf0.01",
    queries=(
        ("dedup_survivors", "noop"),
    ),
)

WORKLOADS = {w.name: w for w in (JOIN, LLM_BUILD)}


def pass_order(queries: "list[tuple[str, str]]", seed: int,
               pass_no: int) -> "list[tuple[str, str]]":
    """Seed- and pass-dependent shuffle of one pass's queries."""
    order = list(queries)
    random.Random(f"order:{seed}:{pass_no}").shuffle(order)
    return order


def warm_passes(seconds: float) -> int:
    """Timed warm passes of one run: enough to fill ``seconds`` at the
    nominal pass time, at least three.  Independent of how fast the
    program under test is, so every commit runs the same passes."""
    return max(3, math.ceil(seconds / NOMINAL_PASS_S))


def is_timed_warm(pass_no: int) -> bool:
    """Whether a pass is one of the timed warm passes: pass 0 is the
    cold pass, the next ``WARMUP_PASSES`` are untimed warm-up."""
    return pass_no > WARMUP_PASSES
