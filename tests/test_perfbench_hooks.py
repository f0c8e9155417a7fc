"""The program names the traced benchmark (perfbench/trace.py) reaches
into: the pipeline's stage functions and per-doc entry points, and the
dedup memo families and memoizing functions. A rename that breaks the
tracer fails here instead of silently zeroing a benchmark layer."""

from perfbench.trace import load_trace, timed_cache_fills, traced_stages

SF = "/root/testdata/sf0.001"


def test_traced_pipeline_records_doc_spans_and_walks(spark, tmp_path):
    from docling_core_spark.pipeline import run_pipeline, synth_docs

    docs = synth_docs(spark, 3, partitions=1, include_shapes=False)
    with traced_stages(str(tmp_path)):
        out = run_pipeline(docs)
    assert out.count() == 3
    self_ns, counts = load_trace(str(tmp_path))
    assert self_ns["pipeline.doc"][1] == 3
    assert counts["model.doc.walk_calls"] > 0


def test_timed_cache_fills_sees_dedup_memo(spark):
    from docling_core_spark.corpus import dedup as CD

    CD.clear_caches()
    try:
        with timed_cache_fills() as fills:
            CD.q_dedup_clusters(spark, SF).count()
        assert fills["seconds"] > 0
    finally:
        CD.clear_caches()
