"""Spans around the engine's public functions, recorded from outside.

``Tracer.install`` replaces every public function of the traced modules
with a wrapper in every engine module that bound it (``queries.shared`` as
well as ``reuse.shared``) and ``uninstall`` restores the originals. The
engine's code is not edited.

Each span records name, layer, start, end, parent span and op. While a span
is open the Spark job description is ``<op>|<phase>|<span name>``,
so the event log attributes every job to the innermost traced call that
started it. Spans are kept in memory; ``dump`` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass

PACKAGE = "etl_ecommerce_data_spark"

# module -> layer name of its spans
TRACED_MODULES = {
    f"{PACKAGE}.sources.registry": "sources",
    f"{PACKAGE}.sources.readers": "sources",
    f"{PACKAGE}.sources.bucketing": "sources",
    f"{PACKAGE}.operators.dedup": "operators.dedup",
    f"{PACKAGE}.operators.similarity": "operators.similarity",
    f"{PACKAGE}.operators.joins": "operators.joins",
    f"{PACKAGE}.operators.cleaning": "operators.cleaning",
    f"{PACKAGE}.reuse": "reuse",
    f"{PACKAGE}.pipeline": "pipeline",
    f"{PACKAGE}.validation": "validation",
}


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    phase: str
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = ""
        self.phase = ""

    # -- spans -------------------------------------------------------------
    def _describe(self, name: str) -> None:
        self._sc.setJobDescription(f"{self.op}|{self.phase}|{name}")

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, self.op, self.phase, layer, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._describe(name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        self._describe(self._stack[-1].name if self._stack else self.phase)

    # -- patching ------------------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of ``TRACED_MODULES`` wherever an
        engine module bound it."""
        originals: dict[int, tuple[object, str, str]] = {}
        for mod_name, layer in TRACED_MODULES.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                    and not attr.startswith("_")
                ):
                    originals[id(fn)] = (fn, f"{layer}.{attr}", layer)
        wrappers = {
            key: self._wrap(fn, name, layer) for key, (fn, name, layer) in originals.items()
        }
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and originals[id(val)][0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self._t, self._layer, self._name = tracer, layer, name

    def __enter__(self) -> Span:
        self._sp = self._t._open(self._layer, self._name)
        return self._sp

    def __exit__(self, *exc) -> None:
        self._t._close(self._sp)


def top_level(spans: list[Span], layer_prefix: str) -> list[Span]:
    """Spans of a layer whose parent is not in the same layer (nested calls
    within one layer are counted once)."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if not s.layer.startswith(layer_prefix):
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is None or not p.layer.startswith(layer_prefix):
            out.append(s)
    return out
