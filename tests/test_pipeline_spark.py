"""Spark-level tests: the mapInPandas pipeline, distributed generation,
plan shape (no shuffle on the hot path), and the driver entry contract."""

import pytest
from pyspark.sql import functions as F

from docling_core_spark.fixtures import gen_spans
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.pipeline import process_doc, run_pipeline, synth_docs
from docling_core_spark.serialize.markdown import export_to_markdown


@pytest.fixture(scope="module")
def pipe_out(spark):
    docs = synth_docs(spark, 40, partitions=4)
    out = run_pipeline(docs).cache()
    out.count()
    yield out
    out.unpersist()


def test_row_count_and_schema(pipe_out):
    assert pipe_out.count() == 43  # 40 + 3 fixed shapes
    names = [f.name for f in pipe_out.schema.fields]
    assert "span_seq" in names and "markdown" in names
    assert pipe_out.filter(~F.col("tree_valid")).count() == 0


def test_spark_output_matches_local(pipe_out):
    """Distributed result == single-process result for sampled docs."""
    rows = {r["doc_id"]: r for r in pipe_out.collect()}
    for did in ["shape:minimal", "doc-00000000", "doc-00000017"]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        assert rows[did]["markdown"] == export_to_markdown(doc)
        local = process_doc(did, spans)
        got = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in rows[did]["span_seq"]
        ]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in local["span_seq"]
        ]
        assert got == want


def test_stages_take_empty_and_none_spans():
    """Every per-document stage accepts a missing (None) and an empty
    Arrow span array: one row per doc, no chunks, no error."""
    import numpy as np
    import pandas as pd

    from docling_core_spark import pipeline as P

    pdf = pd.DataFrame({
        "doc_id": ["none", "empty"],
        "spans": [None, np.array([], dtype=object)],
    })
    stages = [P._process_batches, P._roundtrip_batches,
              P._json_roundtrip_batches, P._variant_batches]
    for stage in stages:
        assert sum(len(f) for f in stage(iter([pdf]))) == 2, stage
    chunks = P._chunk_batches(True, 64)(iter([pdf]))
    assert sum(len(f) for f in chunks) >= 0
    from docling_core_spark.model.validate import validate_doc

    doc, diags = parse_span_doc("x", None)
    assert diags["n_spans"] == 0 and doc["name"] == "x"
    assert len(doc["pages"]) == 1 and not doc["texts"]
    assert validate_doc(doc)["broken_tree"] == 0


def test_hot_path_has_no_shuffle(spark):
    """Without salting, the plan must contain zero Exchange operators —
    the pipeline is embarrassingly parallel by design."""
    docs = synth_docs(spark, 10, partitions=2)
    plan = run_pipeline(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_salted_path_has_single_shuffle(spark):
    docs = synth_docs(spark, 10, partitions=2)
    plan = run_pipeline(docs, salt_partitions=4)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange") == 1


def test_skew_adversary_processes(spark):
    """A ~10k-span document must flow through bounded Arrow batches."""
    import pandas as pd

    from docling_core_spark import schema as S

    pdf = pd.DataFrame(
        [{"doc_id": "shape:skew", "spans": gen_spans("shape:skew")}]
    )
    docs = spark.createDataFrame(pdf, schema=S.DOCS_SCHEMA)
    out = run_pipeline(docs).collect()
    assert len(out) == 1
    assert out[0]["n_items"] > 9000
    assert out[0]["n_pages"] >= 20


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(E.oracle_sql()).issubset(set(E.queries()))


def test_pipeline_toc_hierarchy_invariants(spark):
    """Every non-title header's parent (when present) is an earlier
    header with a strictly shallower level; sibling indexes are dense
    from 1 within (doc, level, parent)."""
    import __spark_entry__ as E

    rows = E.queries()["pipeline_toc"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        lvl_of = {r.ord: r.level for r in rs}
        for r in rs:
            if r.parent_ord is not None:
                assert r.parent_ord < r.ord
                assert lvl_of[r.parent_ord] < r.level
        groups = {}
        for r in rs:
            groups.setdefault((r.level, r.parent_ord), []).append(r)
        for g in groups.values():
            g.sort(key=lambda r: r.ord)
            assert [r.sib_idx for r in g] == list(range(1, len(g) + 1))


def test_pipeline_sections_cover_all_spans(spark):
    """Sections tile each document exactly: ord ranges are disjoint,
    contiguous, and their span counts sum to the document's span
    count; every non-preamble section starts at its own header ord."""
    import __spark_entry__ as E

    spans = E.queries()["pipeline_span_seq"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    secs = E.queries()["pipeline_sections"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_spans = {}
    for s in spans:
        n_spans[s.doc_id] = n_spans.get(s.doc_id, 0) + 1
    by_doc = {}
    for r in secs:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_spans)
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r.first_ord)
        assert sum(r.n_spans for r in rs) == n_spans[doc]
        prev_end = -1
        for r in rs:
            assert r.first_ord == prev_end + 1
            assert r.last_ord >= r.first_ord
            assert r.n_spans == r.last_ord - r.first_ord + 1
            prev_end = r.last_ord
            if r.section_ord != -1:
                assert r.first_ord == r.section_ord
                assert r.level in (0, 1)
            else:
                assert r.level == -1
