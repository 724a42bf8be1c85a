"""Output check: every query of a run against its DuckDB oracle.

Runs after the timed passes and is not timed.  A query written through
the JSON-lines sink is checked on the files its last timed execution
wrote, read back with the query's own schema; a query on the noop sink
is checked by collecting the DataFrame its last timed execution built
(the noop sink keeps no rows, so that plan runs once more).  The
repo's oracle SQL runs in DuckDB over the same input files, and
``parity.compare`` decides equality (exact values, order-insensitive).
DuckDB gets no more threads than the host has cores.
"""

from __future__ import annotations

import os
import traceback


def duck_connection(sf_dir: str, threads: int):
    """DuckDB connection with one view per input table of ``sf_dir``
    (a single parquet file or a directory of part files)."""
    import duckdb

    from cassandra_join_library_spark.parity import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(src):
            src = os.path.join(src, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def compare_frames(name: str, got, want) -> "str | None":
    """``None`` when the two pandas frames hold the same rows, else the
    reason they differ."""
    from cassandra_join_library_spark.parity import compare

    try:
        compare(got, want, name)
    except AssertionError as exc:
        return str(exc) or "results differ"
    return None


def check_outputs(spark, queries, names, sf_dir,
                  written, built) -> "dict[str, str]":
    """Check each named query once; returns ``{query: reason}`` for
    every query whose output does not match its oracle.  ``written``
    maps a query to the ``(path, schema)`` of JSON-lines output a timed
    execution wrote; those files are read back with that schema and
    checked.  ``built`` maps a query to the DataFrame a timed execution
    built; it is collected.  Any other query is built and collected
    once more."""
    from cassandra_join_library_spark.registry import all_oracles

    oracles = all_oracles()
    con = duck_connection(sf_dir, len(os.sched_getaffinity(0)))
    bad = {}
    try:
        for name in dict.fromkeys(names):
            if name not in oracles:
                bad[name] = "no oracle registered"
                continue
            try:
                if name in written:
                    path, schema = written[name]
                    got = spark.read.schema(schema).json(path).toPandas()
                elif name in built:
                    got = built[name].toPandas()
                else:
                    got = queries[name](spark, sf_dir).toPandas()
                want = con.execute(oracles[name]).df()
            except Exception:  # a crash in the check fails the query
                bad[name] = traceback.format_exc(limit=2)
                continue
            reason = compare_frames(name, got, want)
            if reason is not None:
                bad[name] = reason
    finally:
        con.close()
    return bad
