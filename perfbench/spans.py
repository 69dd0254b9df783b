"""Span recorder for the traced run.

Spans are recorded from outside the package: ``Tracer.wrap_all``
replaces module-level public functions with wrappers that open a span
around each call. Each op also runs under its own job group (the unit
``cancelJobGroup`` caps); inside it, each span tags the Spark jobs it
starts with its id through the ``spark.job.description`` local property,
so the event-log reader can attribute jobs, stages and tasks to spans
afterwards. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time

# (module, function) pairs wrapped in the traced run. ``model.cypher``
# imports ``parse_cypher`` and ``compile_query`` at call time, and the
# compiler calls ``dml.apply_*`` through the module, so wrapping the
# module attribute catches every call.
WRAPPED = [
    ("rust_graph_db_spark.parser", "parse_cypher"),
    ("rust_graph_db_spark.compiler", "compile_query"),
    ("rust_graph_db_spark.dml", "apply_create"),
    ("rust_graph_db_spark.dml", "apply_set"),
    ("rust_graph_db_spark.dml", "apply_merge"),
    ("rust_graph_db_spark.dml", "apply_delete"),
    ("rust_graph_db_spark.storage", "save_graph"),
    ("rust_graph_db_spark.storage", "load_graph"),
    ("rust_graph_db_spark.operators.traversal", "bfs_distances"),
    ("rust_graph_db_spark.operators.graph_algos", "pagerank"),
    ("rust_graph_db_spark.operators.graph_algos", "connected_components"),
    ("rust_graph_db_spark.operators.dedup", "exact_dedup_keep_ids"),
    ("rust_graph_db_spark.operators.dedup", "ngram_jaccard_pairs"),
    ("rust_graph_db_spark.operators.similarity", "lsh_cosine_pairs"),
]

SPAN_TAG = "pbspan:"


class Tracer:
    """In-memory span store. ``enabled`` gates recording so one process
    can time the same op list with and without spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = False
        self._originals: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the body. Spans nest; a span with no
        parent is one op, and its descendants share its id as root."""
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "start": time.time() * 1000.0, "end": None}
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.job.description", f"{SPAN_TAG}{sp['id']}")
        try:
            yield sp
        finally:
            sp["end"] = time.time() * 1000.0
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.job.description",
                f"{SPAN_TAG}{self.stack[-1]['id']}" if self.stack else None)

    def wrap_all(self) -> None:
        for mod_name, fn_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            label = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"
            setattr(mod, fn_name, self._wrapper(orig, label))
            self._originals.append((mod, fn_name, orig))

    def _wrapper(self, fn, label: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)
        return traced

    def unwrap_all(self) -> None:
        for mod, fn_name, orig in reversed(self._originals):
            setattr(mod, fn_name, orig)
        self._originals.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def self_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
