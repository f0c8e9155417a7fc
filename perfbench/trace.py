"""Span tracing of the per-document layers, installed from outside.

The traced run swaps the pipeline's Arrow stage functions for
``traced_stage`` while the DataFrame is built (``traced_stages``). In
each Spark Python worker, ``traced_stage`` wraps the public function of
every layer for the duration of the task, runs the real stage, and
writes the recorded spans to ``<trace_dir>`` when the task's iterator
ends. Nothing in the program is edited; untraced tasks that reuse the
same worker run the unwrapped functions.

A span is ``(name, start_ns, end_ns, parent_index, doc_id)``. The
layer's self time is its duration minus the durations of its direct
children (``self_times``).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
import types
import uuid
from collections import Counter
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List, Optional, Tuple

PKG = "docling_core_spark"
PIPELINE = f"{PKG}.pipeline"

# (span name, module, attribute, per-document entry point?). A class
# entry times its constructor.
SPANNED: List[Tuple[str, str, str, bool]] = [
    ("pipeline.doc", PIPELINE, "process_doc", True),
    ("pipeline.doc", PIPELINE, "roundtrip_doc", True),
    ("pipeline.doc", PIPELINE, "json_roundtrip_doc", True),
    ("pipeline.doc", PIPELINE, "chunk_rows_doc", True),
    ("parse.spans", f"{PKG}.parse.spans", "parse_span_doc", False),
    ("parse.doctags", f"{PKG}.parse.doctags", "parse_doctags", False),
    ("model.validate", f"{PKG}.model.validate", "validate_doc", False),
    ("model.doc.context", f"{PKG}.model.doc", "SharedDocContext", False),
    ("model.doc.iterate_items", f"{PKG}.model.doc", "iterate_items", False),
    ("model.json_io.dump", f"{PKG}.model.json_io", "to_reference_json", False),
    ("model.json_io.load", f"{PKG}.model.json_io", "from_reference_json",
     False),
    ("serialize.markdown", f"{PKG}.serialize.markdown", "serialize_markdown",
     False),
    ("serialize.doctags", f"{PKG}.serialize.doctags", "export_to_doctags",
     False),
    ("serialize.html", f"{PKG}.serialize.html", "export_to_html", False),
    ("serialize.etree", f"{PKG}.serialize.etree", "export_to_element_tree",
     False),
    ("serialize.spanseq", f"{PKG}.serialize.spanseq", "span_seq_from_result",
     False),
    ("chunk.hybrid", f"{PKG}.chunk.hybrid", "hybrid_chunk_doc", False),
    ("chunk.hierarchical", f"{PKG}.chunk.hierarchical", "chunk_doc", False),
    ("chunk.wordpiece", f"{PKG}.chunk.wordpiece", "wordpiece_count_tokens",
     False),
    ("chunk.semsplit", f"{PKG}.chunk.semsplit", "semsplit_chunk", False),
]

# Arrow stage functions of the pipeline module that the traced run
# replaces; `_chunk_batches` is a factory taking the chunker settings.
STAGES = ("_process_batches", "_roundtrip_batches", "_json_roundtrip_batches")
STAGE_FACTORIES = ("_chunk_batches",)


def _anomalies(counts: Counter, result) -> None:
    diags = result[1]
    counts["parse.spans.anomalies"] += (
        diags["unknown_kind"] + diags["unbalanced_close"]
        + diags["dangling_caption"] + diags["bad_table"]
    )


def _invalid(counts: Counter, violations) -> None:
    counts["model.validate.invalid_trees"] += violations["broken_tree"] > 0


def _out_bytes(counts: Counter, result) -> None:
    text = result if isinstance(result, str) else result.text
    counts["serialize.out_bytes"] += len(text.encode())


def _chunks(counts: Counter, chunks) -> None:
    counts["chunk.chunks"] += len(chunks)


ON_RESULT: Dict[str, Callable] = {
    "parse.spans": _anomalies,
    "model.validate": _invalid,
    "serialize.markdown": _out_bytes,
    "serialize.doctags": _out_bytes,
    "serialize.html": _out_bytes,
    "serialize.etree": _out_bytes,
    "chunk.hybrid": _chunks,
}


class _Patches:
    """Every reference to a set of functions inside the package: module
    globals (``from x import f`` binds a copy of the name), class
    attributes and default argument values (a dataclass field default
    lives in ``__init__.__defaults__``)."""

    def __init__(self):
        self._sites: List[Tuple[object, object, object, object]] = []

    def add_everywhere(self, old, new) -> None:
        for mod in [m for n, m in list(sys.modules.items())
                    if n == PKG or n.startswith(PKG + ".")]:
            for owner in [mod] + [
                c for c in vars(mod).values()
                if isinstance(c, type) and c.__module__ == mod.__name__
            ]:
                for key, val in list(vars(owner).items()):
                    if val is old:
                        self._sites.append((owner, key, old, new))
                    elif isinstance(val, types.FunctionType):
                        self._add_defaults(val, old, new)

    def add(self, owner, key, new) -> None:
        self._sites.append((owner, key, getattr(owner, key), new))

    def _add_defaults(self, fn, old, new) -> None:
        if fn.__defaults__ and any(d is old for d in fn.__defaults__):
            self._sites.append((
                fn, "__defaults__", fn.__defaults__,
                tuple(new if d is old else d for d in fn.__defaults__),
            ))

    def apply(self) -> None:
        for owner, key, _old, new in self._sites:
            setattr(owner, key, new)

    def revert(self) -> None:
        for owner, key, old, _new in reversed(self._sites):
            setattr(owner, key, old)


class Tracer:
    """Per-worker-process span recorder."""

    def __init__(self):
        self.spans: List[Optional[tuple]] = []
        self.stack: List[int] = []
        self.counts: Counter = Counter()
        self.doc: Optional[str] = None
        self._patches = self._build_patches()

    def _wrap(self, name: str, fn, per_doc: bool):
        spans, stack, clock = self.spans, self.stack, time.perf_counter_ns
        on_result = ON_RESULT.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            prev_doc = self.doc
            if per_doc:
                self.doc = args[0]
            idx = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = clock()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = clock()
                stack.pop()
                spans[idx] = (name, t0, t1, parent, self.doc)
                self.doc = prev_doc
            if on_result is not None:
                on_result(self.counts, out)
            return out

        return traced

    def _build_patches(self) -> _Patches:
        patches = _Patches()
        for name, mod_name, attr, per_doc in SPANNED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            if isinstance(fn, type):
                patches.add(fn, "__init__", self._wrap(
                    name, fn.__init__, per_doc))
            else:
                patches.add_everywhere(fn, self._wrap(name, fn, per_doc))
        patches.add(*self._walk_counter())
        return patches

    def _walk_counter(self):
        """`walk` is the recursive generator nested in
        `model.doc._walk_items`, so it has no name to wrap. Each call
        runs `is_group(node)` once, looked up in the module's globals:
        count the calls whose caller is walk's code object."""
        from docling_core_spark.model import doc as D

        walk_code = next(
            c for c in D._walk_items.__code__.co_consts
            if isinstance(c, types.CodeType) and c.co_name == "walk"
        )
        is_group, counts, getframe = D.is_group, self.counts, sys._getframe

        def counting_is_group(node):
            if getframe(1).f_code is walk_code:
                counts["model.doc.walk_calls"] += 1
            return is_group(node)

        return D, "is_group", counting_is_group

    def install(self) -> None:
        self._patches.apply()

    def uninstall(self) -> None:
        self._patches.revert()

    def span(self, name: str, t0: int, t1: int) -> None:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append((name, t0, t1, parent, self.doc))

    def flush(self, trace_dir: str, t0: int) -> None:
        """Write the task's spans, then, on a second line, a
        ``trace.flush`` span from ``t0`` to the end of that write."""
        from pyspark import TaskContext

        task = TaskContext.get()
        path = os.path.join(trace_dir, f"{os.getpid()}-{uuid.uuid4().hex}.json")
        payload = json.dumps({"task_id": task.taskAttemptId() if task else None,
                              "spans": self.spans, "counts": self.counts})
        with open(path, "w") as fh:
            fh.write(payload)
            fh.flush()
            fh.write("\n" + json.dumps(
                ["trace.flush", t0, time.perf_counter_ns(), -1, None]))
        self.spans.clear()
        self.counts.clear()


# One tracer per worker process: the wrappers it installs are
# process-wide, so the recorder they write to is too.
_WORKER_TRACER: Optional[Tracer] = None


def _timed_batches(tracer: Tracer, batches: Iterator) -> Iterator:
    """The stage's input iterator; each pull is an `arrow_in` span
    (Arrow read from the JVM plus the Arrow->pandas conversion)."""
    clock = time.perf_counter_ns
    it = iter(batches)
    while True:
        parent = tracer.stack[-1] if tracer.stack else -1
        idx = len(tracer.spans)
        tracer.spans.append(None)
        t0 = clock()
        try:
            pdf = next(it)
        except StopIteration:
            tracer.spans[idx] = ("pipeline.arrow_in", t0, clock(), parent,
                                 None)
            return
        tracer.spans[idx] = ("pipeline.arrow_in", t0, clock(), parent, None)
        yield pdf


def traced_stage(trace_dir: str, module: str, attr: str,
                 factory_args: Optional[tuple], batches: Iterator):
    """Run the pipeline stage ``module.attr`` with every layer wrapped.
    Spans: ``pipeline.batch`` around each step of the stage generator
    (its self time is the pandas frame build), ``pipeline.arrow_in``
    around each input pull, ``pipeline.arrow_out`` from each yield to
    the next resume (pandas->Arrow and the write to the JVM). The
    tracer's own cost is spanned too: ``trace.install`` (building the
    tracer in a new worker, then installing the wrappers) and
    ``trace.flush`` (removing them and writing the spans)."""
    global _WORKER_TRACER
    clock = time.perf_counter_ns
    t0 = clock()
    if _WORKER_TRACER is None:
        _WORKER_TRACER = Tracer()
    tracer = _WORKER_TRACER
    stage = getattr(importlib.import_module(module), attr)
    if factory_args is not None:
        stage = stage(*factory_args)
    tracer.install()
    tracer.span("trace.install", t0, clock())
    try:
        gen = stage(_timed_batches(tracer, batches))
        while True:
            idx = len(tracer.spans)
            tracer.spans.append(None)
            tracer.stack.append(idx)
            t0 = clock()
            try:
                out = next(gen)
            except StopIteration:
                out = None
            finally:
                tracer.stack.pop()
                tracer.spans[idx] = ("pipeline.batch", t0, clock(), -1, None)
            if out is None:
                break
            t0 = clock()
            yield out
            tracer.span("pipeline.arrow_out", t0, clock())
    finally:
        t0 = clock()
        tracer.uninstall()
        tracer.flush(trace_dir, t0)


def passthrough_batches(batches: Iterator) -> Iterator:
    """A trivial stage (doc ids in, doc ids out): traced like a pipeline
    stage, it measures the Python-runner time that passes outside any
    stage function."""
    for pdf in batches:
        yield pdf[["doc_id"]]


def trivial_stage(trace_dir: str):
    """The ``mapInPandas`` function of the trivial stage, traced."""
    return functools.partial(traced_stage, trace_dir, __name__,
                             "passthrough_batches", None)


def _traced_factory(trace_dir: str, attr: str, *factory_args):
    return functools.partial(traced_stage, trace_dir, PIPELINE, attr,
                             factory_args)


@contextmanager
def traced_stages(trace_dir: str):
    """While active, DataFrames built through the pipeline module run
    their Arrow stage under ``traced_stage``. The stage function is
    pickled when the DataFrame is built, so the DataFrame stays traced
    after the context exits."""
    from docling_core_spark import pipeline as P

    patches = _Patches()
    for attr in STAGES:
        patches.add(P, attr, functools.partial(
            traced_stage, trace_dir, PIPELINE, attr, None))
    for attr in STAGE_FACTORIES:
        patches.add(P, attr, functools.partial(_traced_factory, trace_dir,
                                               attr))
    patches.apply()
    try:
        yield
    finally:
        patches.revert()


def self_times(spans: List[list]) -> Dict[str, Tuple[int, int]]:
    """{span name: (total self ns, number of spans)} for one worker
    file; children are found through the parent index."""
    child_ns = [0] * len(spans)
    for name, t0, t1, parent, _doc in spans:
        if parent >= 0:
            child_ns[parent] += t1 - t0
    out: Dict[str, List[int]] = {}
    for i, (name, t0, t1, _parent, _doc) in enumerate(spans):
        acc = out.setdefault(name, [0, 0])
        acc[0] += t1 - t0 - child_ns[i]
        acc[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def load_trace(trace_dir: str) -> Tuple[Dict[str, Tuple[int, int]], Counter]:
    """Merge every worker file under ``trace_dir``."""
    totals: Dict[str, List[int]] = {}
    counts: Counter = Counter()
    for fn in sorted(os.listdir(trace_dir)):
        with open(os.path.join(trace_dir, fn)) as fh:
            rec = json.loads(fh.readline())
            rec["spans"].extend(json.loads(line) for line in fh)
        for name, (ns, n) in self_times(rec["spans"]).items():
            acc = totals.setdefault(name, [0, 0])
            acc[0] += ns
            acc[1] += n
        counts.update(rec["counts"])
    return {k: (v[0], v[1]) for k, v in totals.items()}, counts


@contextmanager
def timed_cache_fills():
    """Time the first fills of the dedup memo tables (shingles, verified
    pairs, clusters): outermost calls of the memoizing functions during
    which a cache gained an entry. Yields ``{"seconds": total}``."""
    from docling_core_spark.corpus import dedup as CD

    caches = (CD._SHINGLE_CACHE, CD._PAIRS_CACHE, CD._CLUSTERS_CACHE)
    fills = {"seconds": 0.0}
    depth = [0]

    def timed(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = sum(map(len, caches))
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
                if depth[0] == 0 and sum(map(len, caches)) > before:
                    fills["seconds"] += time.perf_counter() - t0

        return wrapper

    patches = _Patches()
    for attr in ("_persisted_shingles", "q_neardup_pairs", "q_dedup_clusters"):
        patches.add(CD, attr, timed(getattr(CD, attr)))
    patches.apply()
    try:
        yield fills
    finally:
        patches.revert()
