"""In-process spans for the traced run, recorded from outside the
program: the benchmark wraps the public functions of the package's
layer modules and times every call into them.

Nothing in the package is edited.  ``install`` swaps each public
function for a timing wrapper, on its defining module and on every
package module that imported it by name, so ``from .x import f``
call sites are timed too.  Calls made through closures or default
arguments captured before install are not seen.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time

PKG = "cassandra_join_library_spark"


class Tracer:
    """Collects ``(layer, function, t0, t1, depth, context, extra)``
    spans in memory; ``depth`` 0 marks an outermost call of its layer."""

    def __init__(self) -> None:
        self.spans: "list[tuple]" = []
        self.context: "tuple | None" = None  # (query, pass, phase)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _depths(self) -> dict:
        d = getattr(self._local, "depths", None)
        if d is None:
            d = self._local.depths = {}
        return d

    def wrap(self, layer: str, fn, pre=None):
        """Timing wrapper for ``fn``; ``pre(*args)`` may return a dict
        stored with the span (taken before the call runs)."""
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__qualname__}"

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depths = self._depths()
            depth = depths.get(layer, 0)
            extra = pre(*args) if pre is not None else None
            depths[layer] = depth + 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                depths[layer] = depth
                with self._lock:
                    self.spans.append(
                        (layer, name, t0, t1, depth, self.context, extra))

        return timed

    def install(self) -> None:
        """Wrap the layer functions of the loaded package modules."""
        from cassandra_join_library_spark.plans import executor
        from cassandra_join_library_spark.sources import catalog, sinks

        targets = {}  # original function -> wrapper

        def add(layer, fn, pre=None):
            if fn not in targets:
                targets[fn] = self.wrap(layer, fn, pre)

        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                    modname.startswith(f"{PKG}.operators.")
                    or modname.startswith(f"{PKG}.functions.")):
                continue
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == modname):
                    add("operators", obj)

        cache = getattr(catalog, "_SCHEMA_CACHE", None)

        def schema_hit(spark, path, *_):
            if cache is None:
                return None
            return {"hit": (spark.sparkContext.applicationId, path) in cache}

        add("sources.load", catalog.read_parquet_cached, schema_hit)
        for fn_name in ("load_table", "load_events"):
            if hasattr(catalog, fn_name):
                add("sources.load", getattr(catalog, fn_name))
        if hasattr(catalog, "spread_input"):
            add("sources.spread_input", catalog.spread_input)
        for name, obj in vars(sinks).items():
            if (inspect.isfunction(obj) and not name.startswith("_")
                    and obj.__module__ == sinks.__name__):
                add("sources.sink", obj)

        # methods: wrapped on their class, which every caller shares
        for cls in vars(catalog).values():
            if (inspect.isclass(cls) and issubclass(cls, catalog.Catalog)
                    and "load" in vars(cls)):
                cls.load = self.wrap("sources.load", vars(cls)["load"])
        JE = executor.JoinExecutor
        JE.execute = self.wrap("plans.compile", vars(JE)["execute"])

        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG
                                   or modname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                try:
                    wrapper = targets.get(obj)
                except TypeError:  # unhashable module attribute
                    continue
                if wrapper is not None:
                    setattr(mod, name, wrapper)
