"""In-memory span tracer installed around the program's public layer
functions from outside the program.

``Tracer.install()`` wraps every public function defined in the
modules of ``hadoop_main_spark.{tables,sources,operators,streaming}``
and rebinds each name that refers to it in any loaded module of the
package — the defining module's attribute and every copy made by
``from x import f`` — so all call sites are covered.
``uninstall()`` restores the originals. A wrapper pickled into a
Python worker is pickled by reference and resolves to the original
function there, so executors never record spans.

A span is (name, start, end, parent index, query). A layer's self
time is its spans' duration minus the time covered by their direct
children.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "hadoop_main_spark"
LAYER_PACKAGES = ("tables", "sources", "operators", "streaming")
#: public ``sources`` functions whose spans make up ``sink.write_s``
SINK_FUNCTIONS = ("write_mapfile", "write_sequencefile", "create_har", "distcp")


_INHERITED = object()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None


def layer_of(module: str) -> str:
    """'hadoop_main_spark.operators.graph' -> 'operators.graph';
    'hadoop_main_spark.sources.har' -> 'sources'."""
    parts = module.split(".")
    if parts[1] == "operators" and len(parts) > 2:
        return f"operators.{parts[2]}"
    return parts[1]


def _layer_modules():
    for pkg_name in LAYER_PACKAGES:
        mod = importlib.import_module(f"{PACKAGE}.{pkg_name}")
        yield mod
        for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
            yield importlib.import_module(f"{mod.__name__}.{info.name}")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.query: str | None = None
        #: set by the caller while REGISTRY[q].build runs; only then
        #: are collects and checkpoints counted
        self.in_build = False
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.query)
        )
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def close(self, index: int) -> None:
        self.spans[index].end = time.perf_counter()
        self._stack().pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            index = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(index)

        return traced

    # -- install / uninstall -----------------------------------------------

    def install(self, dataframe_class: type) -> None:
        """``dataframe_class`` is the session's concrete DataFrame class
        (PySpark's public ``DataFrame`` is an abstract parent)."""
        wrappers: dict[int, object] = {}
        for mod in _layer_modules():
            for attr, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and not attr.startswith("_")
                    and obj.__module__ == mod.__name__
                    and id(obj) not in wrappers
                ):
                    wrappers[id(obj)] = self._wrap(obj, f"{layer_of(mod.__name__)}:{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = wrappers.get(id(obj))
                if wrapper is not None:
                    self._patches.append((mod, attr, obj))
                    setattr(mod, attr, wrapper)
        self._patch_dataframe(dataframe_class)

    def _patch_dataframe(self, DataFrame: type) -> None:
        """Count driver round trips and checkpoints made inside build()."""
        tracer = self

        def counting(fn, key):
            @functools.wraps(fn)
            def counted(df, *args, **kwargs):
                outer = not getattr(tracer._local, "in_df_call", False)
                if outer and tracer.in_build:
                    tracer.counts[key(args, kwargs)] += 1
                tracer._local.in_df_call = True
                try:
                    return fn(df, *args, **kwargs)
                finally:
                    tracer._local.in_df_call = not outer

            return counted

        def collect_key(args, kwargs):
            return "driver.collects"

        def checkpoint_key(args, kwargs):
            eager = args[0] if args else kwargs.get("eager", True)
            return "checkpoints.eager" if eager else "checkpoints.lazy"

        for names, key in (
            (("collect", "toPandas", "first", "take", "head", "toArrow"), collect_key),
            (("localCheckpoint", "checkpoint"), checkpoint_key),
        ):
            for name in names:
                if hasattr(DataFrame, name):
                    # an inherited method is restored by deleting the override
                    own = DataFrame.__dict__.get(name, _INHERITED)
                    self._patches.append((DataFrame, name, own))
                    setattr(DataFrame, name, counting(getattr(DataFrame, name), key))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if original is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # -- aggregation -----------------------------------------------------------

    def layer_totals(self, first_span: int = 0) -> dict[str, float]:
        """Self seconds and call counts per layer over spans recorded
        since ``first_span``, plus ``sink.write_s``."""
        spans = self.spans[first_span:]
        child_time = defaultdict(float)
        for span in spans:
            if span.parent is not None and span.parent >= first_span:
                child_time[span.parent] += span.end - span.start
        out: dict[str, float] = defaultdict(float)
        for i, span in enumerate(spans, start=first_span):
            layer, _, func = span.name.partition(":")
            out[f"{layer}.self_s"] += span.end - span.start - child_time[i]
            out[f"{layer}.calls"] += 1
            if func in SINK_FUNCTIONS:
                out["sink.write_s"] += span.end - span.start
        return dict(out)

    def self_times_by_query(self) -> dict[str, dict[str, float]]:
        """Self seconds per query and layer over every recorded span."""
        child_time = defaultdict(float)
        for span in self.spans:
            if span.parent is not None:
                child_time[span.parent] += span.end - span.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, span in enumerate(self.spans):
            layer = span.name.partition(":")[0]
            out[span.query][layer] += span.end - span.start - child_time[i]
        return {q: {k: round(v, 4) for k, v in layers.items()} for q, layers in out.items()}
