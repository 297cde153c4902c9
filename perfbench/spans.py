"""In-memory spans around the calls the benchmark makes into each layer.

The tracer wraps package functions from the outside: it replaces every
reference to a function in the package's loaded modules with a wrapper
that records a span (name, start, end, parent span, op id) while the
tracer is enabled and is a plain pass-through while it is not. No
package file changes. Spans stay in memory until ``dump``.

A span's name is ``<layer>.<function>``; its layer is the first
component. Self time is a span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time

PACKAGE = "eth_options_data_pipeline_spark"
LAYERS = ("cli", "session", "sources", "pipeline", "operators", "sinks", "queries", "streaming")


class Tracer:
    """Records spans while ``enabled``; ``op`` tags the spans of one op."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op = None
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        traced.perfbench_traced = True
        return traced

    def wrap(self, fn, name: str) -> None:
        """Route every package-module reference to ``fn`` through a
        span named ``name``."""
        traced = self._wrapper(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``, and the
        public methods of the classes it defines."""
        short = module.__name__.rsplit(".", 1)[-1]
        prefix = layer if short == layer else f"{layer}.{short}"
        for attr, val in list(vars(module).items()):
            if attr.startswith("_") or getattr(val, "__module__", None) != module.__name__:
                continue
            if inspect.isfunction(val) and not getattr(val, "perfbench_traced", False):
                self.wrap(val, f"{prefix}.{attr}")
            elif inspect.isclass(val):
                for meth, fn in list(vars(val).items()):
                    if inspect.isfunction(fn) and not meth.startswith("_"):
                        setattr(val, meth, self._wrapper(fn, f"{prefix}.{attr}.{meth}"))

    def op_spans(self, op) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name, "op": t.op,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.perf_counter(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer over ``spans``. Children run
    synchronously inside their parent, so the time they cover is the
    sum of their durations."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
    return out


def durations(spans: list[dict], name: str) -> float:
    """Total seconds of the spans called ``name``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)
