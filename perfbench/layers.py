"""Per-layer metrics of a traced run, from the worker spans, the span
counters and the Spark event log."""

from __future__ import annotations

import statistics
from typing import Dict, List

from . import eventlog
from .metrics import DEDUP_STEPS
from .trace import load_trace

# span names whose self time makes up each per-doc metric
PER_DOC_MS = {
    "pipeline.doc.ms_per_doc": ("pipeline.doc",),
    "parse.spans.ms_per_doc": ("parse.spans",),
    "parse.doctags.ms_per_doc": ("parse.doctags",),
    "model.validate.ms_per_doc": ("model.validate",),
    "model.doc.context_ms_per_doc": ("model.doc.context",
                                     "model.doc.iterate_items"),
    "model.json_io.dump_ms_per_doc": ("model.json_io.dump",),
    "model.json_io.load_ms_per_doc": ("model.json_io.load",),
    "serialize.markdown.ms_per_doc": ("serialize.markdown",),
    "serialize.doctags.ms_per_doc": ("serialize.doctags",),
    "serialize.html.ms_per_doc": ("serialize.html",),
    "serialize.etree.ms_per_doc": ("serialize.etree",),
    "serialize.spanseq.ms_per_doc": ("serialize.spanseq",),
    "chunk.hybrid.ms_per_doc": ("chunk.hybrid",),
    "chunk.hierarchical.ms_per_doc": ("chunk.hierarchical",),
    "chunk.wordpiece.ms_per_doc": ("chunk.wordpiece",),
}
# span self time per pass (per job over the whole input), in ms
PER_PASS_MS = {
    "pipeline.batch_self_ms": "pipeline.batch",
    "pipeline.arrow_in_ms": "pipeline.arrow_in",
    "pipeline.arrow_out_ms": "pipeline.arrow_out",
}
# event-log facts of the untraced repetitions (median per repetition)
PIPELINE_FACTS = {
    "pipeline.arrow_bytes_to_py": "arrow_bytes_to_py",
    "pipeline.arrow_bytes_from_py": "arrow_bytes_from_py",
    "pipeline.py_boot_ms": "py_boot_ms",
    "pipeline.py_init_ms": "py_init_ms",
    "pipeline.py_total_ms": "py_total_ms",
    "pipeline.tasks": "py_tasks",
    "pipeline.task_max_over_median": "task_max_over_median",
    "pipeline.gc_ms": "gc_ms",
}
CORPUS_FACTS = {
    "corpus.dedup.shuffle_bytes": "shuffle_bytes",
    "corpus.dedup.spill_bytes": "spill_bytes",
    "corpus.dedup.tasks": "tasks",
}


def _median_facts(groups: Dict[str, List[dict]], prefix: str,
                  names: Dict[str, str]) -> Dict[str, float]:
    facts = [eventlog.group_facts(tasks) for g, tasks in groups.items()
             if g.startswith(prefix)]
    if not facts:
        return {}
    return {m: statistics.median(f[k] for f in facts) for m, k in names.items()}


def per_layer(workload, plain: List[float], traced: List[float],
              steps_plain: List[dict], walls: List[float],
              extras: List[dict], trace_dir: str, trivial_dir: str,
              event_log: str) -> Dict[str, float]:
    groups = eventlog.tasks_by_group(eventlog.read_events(event_log))
    out: Dict[str, float] = {
        "trace.overhead_frac":
            statistics.median(traced) / statistics.median(plain) - 1.0,
    }
    if workload.name == "dedup":
        out.update(_median_facts(groups, "untraced-", CORPUS_FACTS))
        for q in DEDUP_STEPS:
            out[f"corpus.dedup.{q}_s"] = statistics.median(
                s[q] for s in steps_plain)
        out["corpus.dedup.cache_build_s"] = statistics.median(
            e["cache_build_s"] for e in extras)
        cand = statistics.median(e["candidate_pairs"] for e in extras)
        verified = statistics.median(e["verified_pairs"] for e in extras)
        out["corpus.dedup.candidate_pairs"] = cand
        out["corpus.dedup.verified_pairs"] = verified
        out["corpus.dedup.verify_yield"] = verified / cand if cand else 0.0
        # driver-side spans: the chain steps over the repetition's wall
        # time (which also clears the memo caches and counts docs out)
        out["trace.coverage"] = statistics.median(
            sum(s.values()) / w for s, w in zip(steps_plain, walls))
        return out

    out.update(_median_facts(groups, "untraced-", PIPELINE_FACTS))
    self_ns, counts = load_trace(trace_dir)
    passes = len(traced)
    docs = workload.n_docs * passes

    def ns(*names):
        return sum(self_ns.get(n, (0, 0))[0] for n in names)

    def calls(name):
        return self_ns.get(name, (0, 0))[1]

    for metric, names in PER_DOC_MS.items():
        out[metric] = ns(*names) / docs / 1e6
    for metric, name in PER_PASS_MS.items():
        out[metric] = ns(name) / passes / 1e6
    out["model.doc.iterate_items_calls_per_doc"] = (
        calls("model.doc.iterate_items") / docs)
    out["model.doc.walk_calls_per_doc"] = counts["model.doc.walk_calls"] / docs
    out["chunk.wordpiece.calls_per_doc"] = calls("chunk.wordpiece") / docs
    out["chunk.semsplit.calls"] = calls("chunk.semsplit") / passes
    out["chunk.chunks_per_doc"] = counts["chunk.chunks"] / docs
    out["serialize.out_bytes_per_doc"] = counts["serialize.out_bytes"] / docs
    out["parse.spans.anomalies"] = counts["parse.spans.anomalies"] / passes
    out["model.validate.invalid_trees"] = (
        counts["model.validate.invalid_trees"] / passes)
    # layer self time (the tracer's own spans included) over the Python
    # runner time of the traced jobs; the rest is runner time outside
    # the stage function, which the trivial stage measures on its own
    def runner_and_span_ms(prefix, spans):
        jobs = [eventlog.group_facts(t)["py_total_ms"]
                for g, t in groups.items() if g.startswith(prefix)]
        span_ms = sum(v[0] for v in spans.values()) / 1e6
        return sum(jobs), span_ms, len(jobs)

    py_ms, span_ms, _ = runner_and_span_ms("traced-", self_ns)
    out["trace.coverage"] = span_ms / py_ms if py_ms else 0.0
    out["trace.tracer_ms"] = ns("trace.install", "trace.flush") / passes / 1e6
    out["pipeline.py_outside_stage_ms"] = (py_ms - span_ms) / passes
    floor_ms, floor_span_ms, jobs = runner_and_span_ms(
        "trivial-", load_trace(trivial_dir)[0])
    floor = (floor_ms - floor_span_ms) / jobs if jobs else 0.0
    out["pipeline.trivial_outside_stage_ms"] = floor
    # the same coverage with the trivial stage's outside time, once per
    # stage of a pass, taken off the runner time, as Spark's own share
    above = py_ms - floor * passes * workload.n_stages
    out["trace.coverage_above_floor"] = span_ms / above if above > 0 else 0.0
    return out
