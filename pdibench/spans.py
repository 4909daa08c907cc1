"""Span wrappers installed on the package from outside.

`Tracer.install` wraps every public module-level function of the
package's layer subpackages (sources, operators, functions, plans,
streaming) and rebinds every reference to it that an already-imported
package module holds. It must run before ``suite`` is imported: the
suite modules bind operators with ``from ... import``, so a wrapper
installed afterwards would never be called.

A span records (id, parent id, module, function, start, end). The
parent is the innermost open span on the calling thread; a thread
with no open span (``parallel_actions`` workers, the streaming
``foreachBatch`` callback thread) attaches to the innermost open span
of the thread that called `Tracer.set_root_thread`. Self time is a
span's duration minus the union of its children's intervals, because
children on worker threads can overlap.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time

PACKAGE = "patientdataintegration_spark"
LAYERS = ("sources", "operators", "functions", "plans", "streaming")
MATERIALIZE = "plans.materialize.ensure_materialized"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []  # (id, parent, module, func, t0, t1, tag)
        self._lock = threading.Lock()
        self._next_id = 0
        self._local = threading.local()
        self._root_stack: list[int] = []
        self.wrapped = 0

    def set_root_thread(self) -> None:
        self._local.stack = self._root_stack

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _wrap(self, module: str, fn):
        qual = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            tag = None
            if qual == MATERIALIZE:
                final_dir = kwargs.get("final_dir", args[1] if len(args) > 1 else "")
                tag = "hit" if os.path.isfile(os.path.join(final_dir, "_SUCCESS")) else "miss"
            stack = self._stack()
            if stack:
                parent = stack[-1]
            else:
                parent = self._root_stack[-1] if self._root_stack else None
            with self._lock:
                sid = self._next_id
                self._next_id += 1
            stack.append(sid)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                self.spans.append((sid, parent, module, fn.__name__, t0, t1, tag))

        # PySpark reads a UDF body's arity with getfullargspec, which
        # ignores __wrapped__ but honours __signature__
        wrapper.__signature__ = inspect.signature(fn)
        return wrapper

    def install(self) -> None:
        """Wrap the layer functions; call before importing ``suite``."""
        if any(m.startswith(f"{PACKAGE}.suite") for m in sys.modules):
            raise RuntimeError("install the span wrappers before importing the suite")
        originals: dict[int, object] = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                short = mod.__name__[len(PACKAGE) + 1:]
                for name, obj in list(vars(mod).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                    ):
                        continue
                    wrapper = self._wrap(short, obj)
                    originals[id(obj)] = wrapper
                    setattr(mod, name, wrapper)
        # rebind references taken by ``from ... import`` in modules that
        # were imported before their target got wrapped
        for name, mod in list(sys.modules.items()):
            if name != PACKAGE and not name.startswith(f"{PACKAGE}."):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and wrapper is not obj:
                    setattr(mod, attr, wrapper)
        self.wrapped = len(originals)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_stats(spans: list[tuple], t0: float, t1: float) -> dict[str, float]:
    """Per-module and per-layer self seconds and call counts for the
    spans that started inside [t0, t1), plus the materialize hit and
    miss counts."""
    chosen = [s for s in spans if t0 <= s[4] < t1]
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, _m, _f, a, b, _t in chosen:
        if parent is not None:
            children.setdefault(parent, []).append((a, b))
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for sid, _p, module, _f, a, b, tag in chosen:
        kids = [(max(a, x), min(b, y)) for x, y in children.get(sid, []) if y > a and x < b]
        self_s = (b - a) - _union_length(kids)
        layer = module.split(".")[0]
        add(f"{layer}.self_s", self_s)
        add(f"{layer}.calls", 1)
        add(f"{module}.self_s", self_s)
        add(f"{module}.calls", 1)
        if tag is not None:
            add(f"plans.materialize.{tag}s", 1)
    return out
