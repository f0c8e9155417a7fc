"""Reference-parity tests: the engine's parse+serialize must match the
reference library's behavior on the same span streams (north rule:
span-sequence equality (kind, text, media_ref, order), plus golden-style
export equality for markdown/doctags/html/etree)."""

import sys
import types

import pytest

from docling_core_spark.fixtures import SHAPE_IDS, gen_spans
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.common import SerParams
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.etree import export_to_element_tree
from docling_core_spark.serialize.html import export_to_html, html_body
from docling_core_spark.serialize.markdown import (
    export_to_markdown,
    serialize_markdown,
)
from docling_core_spark.serialize.spanseq import doc_span_seq

from ref_oracle import build_ref_doc, needs_reference, ref_span_seq


def _stub_latex2mathml():
    if "latex2mathml" not in sys.modules:
        m = types.ModuleType("latex2mathml")
        c = types.ModuleType("latex2mathml.converter")

        def _raise(*a, **k):
            raise RuntimeError("latex2mathml not available in sandbox")

        c.convert_to_element = _raise
        m.converter = c
        sys.modules["latex2mathml"] = m
        sys.modules["latex2mathml.converter"] = c


FUZZ_IDS = SHAPE_IDS + [f"doc-{i:08d}" for i in range(50)]


@pytest.fixture(scope="module")
def corpus():
    _stub_latex2mathml()
    out = {}
    for did in FUZZ_IDS:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        out[did] = (spans, doc, rdoc)
    return out


@needs_reference
def test_span_sequence_invariant(corpus):
    """(kind, text, media_ref, order) equality — the BASELINE.json gate."""
    for did, (_, doc, rdoc) in corpus.items():
        mine = doc_span_seq(doc)
        ref = [tuple(x) for x in ref_span_seq(rdoc)]
        assert mine == ref, f"span seq mismatch for {did}"


@needs_reference
def test_markdown_export(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        assert export_to_markdown(doc) == rdoc.export_to_markdown(), did


@needs_reference
def test_markdown_paged(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        mine = serialize_markdown(
            doc, SerParams(page_break_placeholder="<!-- page-break -->")
        ).text
        ref = rdoc.export_to_markdown(
            page_break_placeholder="<!-- page-break -->"
        )
        assert mine == ref, did


@needs_reference
def test_doctags_export(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        assert export_to_doctags(doc) == rdoc.export_to_doctags(), did


@needs_reference
def test_doctags_minified(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        mine = export_to_doctags(doc, minified=True)
        assert mine == rdoc.export_to_doctags(minified=True), did


@needs_reference
def test_html_export_body(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        mine = html_body(export_to_html(doc))
        ref = html_body(rdoc.export_to_html())
        assert mine == ref, did


@needs_reference
def test_element_tree_export(corpus):
    for did, (_, doc, rdoc) in corpus.items():
        assert (
            export_to_element_tree(doc) == rdoc.export_to_element_tree()
        ), did


@needs_reference
def test_markdown_label_filter(corpus):
    """Exclusion sets (WHERE semantics): label allowlist filter parity."""
    from docling_core_spark.model import labels as L

    labels = frozenset({L.TITLE, L.SECTION_HEADER, L.TEXT})
    for did in ["doc-00000001", "doc-00000002", "shape:minimal"]:
        _, doc, rdoc = corpus[did]
        mine = serialize_markdown(doc, SerParams(labels=labels)).text
        from docling_core.types.doc.labels import DocItemLabel

        ref = rdoc.export_to_markdown(
            labels={
                DocItemLabel.TITLE,
                DocItemLabel.SECTION_HEADER,
                DocItemLabel.TEXT,
            }
        )
        assert mine == ref, did


@needs_reference
def test_markdown_slice(corpus):
    """start/stop slice semantics parity (from_element/to_element)."""
    for did in ["doc-00000003", "doc-00000004"]:
        _, doc, rdoc = corpus[did]
        mine = serialize_markdown(doc, SerParams(start_idx=2, stop_idx=7)).text
        ref = rdoc.export_to_markdown(from_element=2, to_element=7)
        assert mine == ref, did


@needs_reference
def test_markdown_page_filter(corpus):
    """page_no filter parity."""
    for did in ["doc-00000005", "doc-00000006"]:
        _, doc, rdoc = corpus[did]
        mine = serialize_markdown(doc, SerParams(pages=frozenset({1}))).text
        ref = rdoc.export_to_markdown(page_no=1)
        assert mine == ref, did
