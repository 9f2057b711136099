"""Layer spans recorded from outside the program.

The tracer wraps the reuse hook passed to ``run_pipeline`` and, for the
duration of a traced run, the layer functions ``kgp.stages.pipeline``
calls. Each span records name, layer, start, end, parent, thread and run
id, and sets the Spark job description to ``<run>:<layer>/<name>`` so
event-log stages can be attributed to the layer. Spans stay in memory
until the caller writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import asdict, dataclass

LAYERS = ("mentions", "relations", "coref", "linking", "triples", "graph")

# reuse-point name -> layer (the pin that materializes the layer)
PIN_LAYER = {
    "tagged": "mentions",
    "relations": "relations",
    "clusters": "coref",
    "triples": "triples",
    "graph_ids": "graph",
    "graph_fwd": "graph",
}

# public layer functions called from kgp.stages.pipeline -> layer
CALL_LAYER = {
    "tag_turns": "mentions",
    "re_pairs": "relations",
    "classify_relations": "relations",
    "coref_pairs": "coref",
    "score_coref_pairs": "coref",
    "cluster_unionfind": "coref",
    "build_alias_artifacts": "linking",
    "link_clusters": "triples",
    "assemble_triples": "triples",
    "materialize_graph": "graph",
}

BRANCH_LAYERS = ("relations", "coref", "linking")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: str | None
    thread: str
    run_id: str


class Tracer:
    def __init__(self, spark_context, run_id: str):
        self.sc, self.run_id = spark_context, run_id
        self.spans: list[Span] = []
        self.results: dict[str, object] = {}  # last return value per wrapped call
        self.cost_s = 0.0  # time spent in span bookkeeping (the tracing overhead)
        self.pins = 0
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        enter = time.monotonic()
        stack = self._stack.__dict__.setdefault("names", [])
        parent = stack[-1] if stack else None
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{self.run_id}:{layer}/{name}")
        stack.append(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            self.sc.setJobDescription(prev_desc)
            span = Span(name, layer, start, end, parent, threading.current_thread().name, self.run_id)
            with self._lock:
                self.spans.append(span)
                self.cost_s += (start - enter) + (time.monotonic() - end)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            self.results[name] = out
            return out

        return traced

    def reuse(self, base):
        """The reuse hook ``base`` with one span per pin."""

        def traced(df, name=None):
            with self._lock:
                self.pins += 1
            with self.span(name, PIN_LAYER.get(name, "reuse")):
                return base(df, name)

        return traced

    @contextlib.contextmanager
    def patch_layer_calls(self):
        """Wrap the layer functions ``run_pipeline`` looks up in its module."""
        import kgp.stages.pipeline as pipeline

        saved = {name: getattr(pipeline, name) for name in CALL_LAYER}
        try:
            for name, fn in saved.items():
                setattr(pipeline, name, self.wrap(fn, name, CALL_LAYER[name]))
            yield
        finally:
            for name, fn in saved.items():
                setattr(pipeline, name, fn)

    def dump(self, t0: float) -> list[dict]:
        """Spans relative to ``t0``, each with its self time (duration
        minus the part of it that its child spans cover)."""
        out = []
        for s in sorted(self.spans, key=lambda s: s.start):
            kids = [(c.start, c.end) for c in self.spans if c.parent == s.name and c.thread == s.thread]
            d = asdict(s)
            d["start"], d["end"] = s.start - t0, s.end - t0
            d["self_s"] = (s.end - s.start) - covered(kids, s.start, s.end)
            out.append(d)
        return out


def covered(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
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


def layer_windows(spans: list[Span]) -> dict[str, tuple[float, float]]:
    """layer -> (first span start, last span end)."""
    win: dict[str, tuple[float, float]] = {}
    for s in spans:
        lo, hi = win.get(s.layer, (s.start, s.end))
        win[s.layer] = (min(lo, s.start), max(hi, s.end))
    return win
