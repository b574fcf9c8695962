"""Spans around the calls into each layer, recorded from the benchmark.

A span is (id, name, layer, op, parent, start, end). Spans live in memory
and are written out once, at the end of the run. The engine's public
functions are wrapped by rebinding the module attributes that hold
them: plan modules bind ``load_table`` at import time, so every module
of the package that holds the original object gets the wrapper.

While a span is open, the Spark job group names it, so each Spark job
can be attributed to the innermost span that started it.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PACKAGE = "ray_mapreduce_spark"
_GROUP = "span-"


def span_of_group(group: str) -> int | None:
    """The id of the span a Spark job group names, if any."""
    return int(group[len(_GROUP):]) if group.startswith(_GROUP) else None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = ""
        self.enabled = False
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"id": idx, "name": name, "layer": layer, "op": self.op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(idx)
        self.sc.setJobGroup(f"{_GROUP}{idx}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"{_GROUP}{self.stack[-1]}", self.spans[self.stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def patch(self, module: str, attr: str, layer: str) -> None:
        """Wrap ``module.attr`` everywhere the package binds it."""
        orig = getattr(sys.modules[module], attr)
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "")
            if (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def write(self, path: str, before: list[tuple[str, float, float]] = ()) -> None:
        """Write the spans, after root spans for the (name, start, end)
        intervals in ``before``; times are seconds from the first start."""
        first = [
            {"id": None, "name": n, "layer": n.split(".")[0], "op": "", "parent": None, "start": a, "end": b}
            for n, a, b in before
        ]
        t0 = min((s["start"] for s in first + self.spans), default=0.0)
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in first + self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)
