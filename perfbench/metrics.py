"""Metric names and units. ``BENCHMARK.json`` lists the same names; a
test keeps the two in step."""

from __future__ import annotations

# (name, unit, better, bound) -- printed with --trace 0. The scaling
# efficiency of the workloads that start with run_pipeline is printed
# too but not gated: the gated metric set is the same for every
# workload, and a single-slot leg on every workload does not fit the
# run budget.
END_TO_END = [
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

DEDUP_STEPS = ("minhash_signatures", "lsh_buckets", "neardup_pairs",
               "dedup_clusters", "dedup_exact", "simhash_neardup")

# (name, unit, better) -- printed with --trace 1. Counts and times "per
# pass" are per job over the workload's whole input.
PER_LAYER = [
    ("pipeline.arrow_bytes_to_py", "B", "lower"),
    ("pipeline.arrow_bytes_from_py", "B", "lower"),
    ("pipeline.py_boot_ms", "ms", "lower"),
    ("pipeline.py_init_ms", "ms", "lower"),
    ("pipeline.py_total_ms", "ms", "lower"),
    ("pipeline.batch_self_ms", "ms", "lower"),
    ("pipeline.arrow_in_ms", "ms", "lower"),
    ("pipeline.arrow_out_ms", "ms", "lower"),
    ("pipeline.py_outside_stage_ms", "ms", "lower"),
    ("pipeline.trivial_outside_stage_ms", "ms", "lower"),
    ("pipeline.doc.ms_per_doc", "ms/doc", "lower"),
    ("pipeline.tasks", "count", "lower"),
    ("pipeline.task_max_over_median", "ratio", "lower"),
    ("pipeline.gc_ms", "ms", "lower"),
    ("parse.spans.ms_per_doc", "ms/doc", "lower"),
    ("parse.spans.anomalies", "count", "lower"),
    ("parse.doctags.ms_per_doc", "ms/doc", "lower"),
    ("model.validate.ms_per_doc", "ms/doc", "lower"),
    ("model.validate.invalid_trees", "count", "lower"),
    ("model.doc.context_ms_per_doc", "ms/doc", "lower"),
    ("model.doc.iterate_items_calls_per_doc", "calls/doc", "lower"),
    ("model.doc.walk_calls_per_doc", "calls/doc", "lower"),
    ("model.json_io.dump_ms_per_doc", "ms/doc", "lower"),
    ("model.json_io.load_ms_per_doc", "ms/doc", "lower"),
    ("serialize.markdown.ms_per_doc", "ms/doc", "lower"),
    ("serialize.doctags.ms_per_doc", "ms/doc", "lower"),
    ("serialize.html.ms_per_doc", "ms/doc", "lower"),
    ("serialize.etree.ms_per_doc", "ms/doc", "lower"),
    ("serialize.spanseq.ms_per_doc", "ms/doc", "lower"),
    ("serialize.out_bytes_per_doc", "B/doc", "lower"),
    ("chunk.hybrid.ms_per_doc", "ms/doc", "lower"),
    ("chunk.hierarchical.ms_per_doc", "ms/doc", "lower"),
    ("chunk.wordpiece.calls_per_doc", "calls/doc", "lower"),
    ("chunk.wordpiece.ms_per_doc", "ms/doc", "lower"),
    ("chunk.semsplit.calls", "count", "lower"),
    ("chunk.chunks_per_doc", "count", "lower"),
    *[(f"corpus.dedup.{q}_s", "s", "lower") for q in DEDUP_STEPS],
    ("corpus.dedup.cache_build_s", "s", "lower"),
    ("corpus.dedup.shuffle_bytes", "B", "lower"),
    ("corpus.dedup.spill_bytes", "B", "lower"),
    ("corpus.dedup.tasks", "count", "lower"),
    ("corpus.dedup.candidate_pairs", "count", "lower"),
    ("corpus.dedup.verified_pairs", "count", "higher"),
    ("corpus.dedup.verify_yield", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("trace.coverage_above_floor", "ratio", "higher"),
    ("trace.tracer_ms", "ms", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
