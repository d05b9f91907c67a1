"""In-memory spans around public calls, and Spark counters from the event log.

A span records its wall time and its self time (wall minus the wall of its
direct child spans). Spans that launch Spark jobs tag them with the local
property ``perfbench.span`` so the event log attributes every job, stage and
task to the span that ran it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext to tag jobs with, or None
        self.wall = defaultdict(float)
        self.self_time = defaultdict(float)
        self._stack: list[list] = []  # [name, start, child wall]

    def enter(self, name: str):
        self._stack.append([name, time.perf_counter(), 0.0])
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, name)

    def exit(self):
        name, start, child = self._stack.pop()
        dt = time.perf_counter() - start
        self.wall[name] += dt
        self.self_time[name] += dt - child
        if self._stack:
            self._stack[-1][2] += dt
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, self._stack[-1][0] if self._stack else None)

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name):
        """Replace ``owner.attr`` with a spanning wrapper; ``name`` is a
        string or a function of the call's arguments. Returns an undo
        callable."""
        fn = getattr(owner, attr)
        naming = name if callable(name) else (lambda *a, **k: name)

        def wrapped(*args, **kwargs):
            self.enter(naming(*args, **kwargs))
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit()

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, fn)


class _Span:
    __slots__ = ("tracer", "name")

    def __init__(self, tracer, name):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.tracer.enter(self.name)

    def __exit__(self, *exc):
        self.tracer.exit()


class NullTracer(Tracer):
    """Span calls that record nothing: the untraced path."""

    def enter(self, name):
        pass

    def exit(self):
        pass


# -- htmlx.core ------------------------------------------------------------

# layer -> the names ``htmlx.core.extract`` binds at import and calls per doc
CORE_LAYERS = {
    "encoding": ("detect_and_convert_to_utf8",),
    "dom": ("parse", "tree_depth_exceeds"),
    "sanitize": ("sanitize_dom",),
    "scorer": ("score_all_nodes", "select_best_candidate"),
    "extraction": ("clean_content_node", "extract_text_with_structure_and_images", "clean_text"),
    "media": ("has_media_reference", "extract_videos_and_audios", "extract_videos", "extract_audios"),
}


def wrap_core(tracer: Tracer) -> list:
    """Wrap ``Extractor.extract`` and every core layer's names in spans;
    returns undo callables."""
    from htmlx.core import extract

    undo = [tracer.wrap(extract.Extractor, "extract", "core.extract")]
    for layer, names in CORE_LAYERS.items():
        undo += [tracer.wrap(extract, n, f"core.{layer}") for n in names]
    return undo


def core_metrics(tracer: Tracer, docs: int) -> dict:
    """Per-doc self µs by layer, the extract wrapper's own self time and the
    total, from a tracer that ``wrap_core`` fed."""
    n = max(docs, 1)
    out = {f"core.{layer}.us_per_doc": tracer.self_time[f"core.{layer}"] / n * 1e6
           for layer in CORE_LAYERS}
    out["core.extract.self_us_per_doc"] = tracer.self_time["core.extract"] / n * 1e6
    out["core.total.us_per_doc"] = tracer.wall["core.extract"] / n * 1e6
    return out


def trace_core(tracer: Tracer, pages: list[bytes]) -> dict:
    """One single-process pass of ``Extractor.extract`` over ``pages`` with
    every core layer wrapped. Returns ``core_metrics``, the error count and
    the mean DOM node count."""
    from htmlx.core import dom, encoding, extract

    undo = wrap_core(tracer)
    ex = extract.Extractor(extract.Config())
    errors = 0
    try:
        for html in pages:
            errors += bool(ex.extract(html).error)
    finally:
        for u in undo:
            u()
    nodes = 0
    for html in pages:
        stack = [dom.parse(encoding.detect_and_convert_to_utf8(html, "")[0])]
        while stack:
            n = stack.pop()
            nodes += 1
            c = n.last_child
            while c is not None:
                stack.append(c)
                c = c.prev_sibling
    out = core_metrics(tracer, len(pages))
    out["core.dom.nodes_per_doc"] = nodes / max(len(pages), 1)
    out["core.errors"] = errors
    return out


# -- Spark event log -------------------------------------------------------

ARROW_TO_PYTHON = "data sent to Python workers"
ARROW_FROM_PYTHON = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-span Spark counters from the uncompressed, non-rolling event logs
    in ``log_dir``:
    jobs, tasks, executor run/CPU/GC seconds, shuffle write, spill and the
    Arrow bytes to and from Python workers."""
    stage_span: dict[int, str] = {}
    acc = defaultdict(lambda: defaultdict(float))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or "-"
                    acc[span]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = span
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc[stage_span.get(ev["Stage ID"], "-")]
                    a["tasks"] += 1
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    a = acc[stage_span.get(info["Stage ID"], "-")]
                    for u in info.get("Accumulables", ()):
                        if u.get("Name") == ARROW_TO_PYTHON:
                            a["arrow_to_python_mb"] += float(u.get("Value", 0)) / 1e6
                        elif u.get("Name") == ARROW_FROM_PYTHON:
                            a["arrow_from_python_mb"] += float(u.get("Value", 0)) / 1e6
    return {k: dict(v) for k, v in acc.items()}
