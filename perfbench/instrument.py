"""In-process instrumentation for the traced run, and the path redirect
every run needs.

Everything here patches the engine from the outside (module attributes,
function code constants, the DataFrame class); no engine file changes.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
import types
from pathlib import Path

PACKAGE = "sales_agent_graphdb_spark"

# Layer modules (under PACKAGE, named as in the metric prefix) whose
# public DataFrame-returning functions are wrapped. Only functions
# annotated to return a DataFrame are wrapped: those run on the driver
# only, so a wrapper is never pickled into a Python worker.
LAYER_MODULES = (
    "plans.graph_planner",
    "plans.router",
    "operators.graph",
    "operators.lsh",
    "operators.ann",
    "operators.fulltext",
    "operators.chunker",
)


class Tracer:
    """Spans and per-call layer counters, kept in memory.

    A span is recorded only while a call is open (``begin``/``end``), so
    functions the engine runs at import time (oracle SQL builders,
    registration) are not counted.
    """

    def __init__(self) -> None:
        self.call: str | None = None
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []

    def begin(self, call_id: str) -> None:
        self.call = call_id
        self.layers[call_id] = {}
        self._stack = []

    def end(self) -> None:
        self.call = None

    def add(self, key: str, value: float) -> None:
        if self.call is not None:
            acc = self.layers[self.call]
            acc[key] = acc.get(key, 0.0) + value

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``; count ``name.calls``
        and ``name.s``."""
        if self.call is None:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "call": self.call, "name": name, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.add(f"{name}.calls", 1)
            self.add(f"{name}.s", time.perf_counter() - t0)
            rec["end"] = time.time()
            self._stack.pop()


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return tracer.span(name, fn, *args, **kwargs)

    return wrapper


def wrap_layers(tracer: Tracer) -> None:
    """Wrap the layer functions. Must run before the query modules are
    imported, so that their ``from ... import fn`` binds the wrapper."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.sources import stamp

    for prefix in LAYER_MODULES:
        modname = f"{PACKAGE}.{prefix}"
        mod = importlib.import_module(modname)
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != modname
                or "DataFrame" not in str(inspect.signature(fn).return_annotation)
            ):
                continue
            setattr(mod, attr, _wrap(tracer, f"{prefix}.{attr}", fn))
    catalog.load_table = _wrap(tracer, "catalog.load_table", catalog.load_table)
    stamp.ensure = _wrap_ensure(tracer, stamp.ensure)


def _wrap_ensure(tracer: Tracer, ensure):
    """``sources.stamp.ensure`` counts calls, hits (the layout was fresh,
    nothing built) and the seconds spent in builds."""

    @functools.wraps(ensure)
    def wrapper(layout_dir, src_path, version, build, valid=None):
        built = []

        def timed_build():
            t0 = time.perf_counter()
            try:
                return build()
            finally:
                built.append(time.perf_counter() - t0)

        try:
            return tracer.span("sources.stamp.ensure", ensure, layout_dir, src_path,
                               version, timed_build, valid)
        finally:
            tracer.add("sources.stamp.hits", 0 if built else 1)
            tracer.add("sources.stamp.build_s", sum(built))

    return wrapper


def wrap_checkpoint(spark, tracer: Tracer) -> None:
    """Count ``DataFrame.localCheckpoint`` / ``checkpoint`` calls and
    time, on the concrete DataFrame class the session returns."""
    cls = type(spark.range(1))
    for attr in ("localCheckpoint", "checkpoint"):
        setattr(cls, attr, _wrap(tracer, "checkpoint", getattr(cls, attr)))


def redirect_paths(old: str, new: str) -> None:
    """Point every absolute path under ``old`` that the engine's modules
    hold (module-level strings and paths, string constants inside
    functions and methods, nested code included) at ``new`` instead."""
    old = old.rstrip("/")
    new = new.rstrip("/")

    def sub(v):
        if isinstance(v, str) and (v == old or v.startswith(old + "/")):
            return new + v[len(old):]
        if isinstance(v, types.CodeType):
            return v.replace(co_consts=tuple(sub(c) for c in v.co_consts))
        return v

    def patch_fn(fn, owner: str) -> None:
        fn = inspect.unwrap(fn)
        if inspect.isfunction(fn) and fn.__module__ == owner:
            fn.__code__ = sub(fn.__code__)

    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, (str, Path)):
                new_val = sub(str(val))
                if new_val != str(val):
                    setattr(mod, attr, type(val)(new_val))
            elif inspect.isfunction(val):
                patch_fn(val, name)
            elif inspect.isclass(val) and val.__module__ == name:
                for member in vars(val).values():
                    patch_fn(getattr(member, "__func__", member), name)
