"""Serializer parameter-matrix parity (reference test_serialization.py
style): page filters, body slicing, label allowlists, escaping /
placeholder / wrapping toggles must produce byte-identical markdown to
the reference on the same documents."""

import pytest

from docling_core_spark.fixtures import gen_spans
from docling_core_spark.model import labels as L
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.common import SerParams
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import build_ref_doc, needs_reference

DOC_IDS = ["doc-00000003", "doc-00000007", "doc-00000011"]

# (name, our SerParams kwargs, reference export_to_markdown kwargs)
MATRIX = [
    (
        "page_2_only",
        dict(pages=frozenset({2})),
        dict(page_no=2),
    ),
    (
        "slice_2_8",
        dict(start_idx=2, stop_idx=8),
        dict(from_element=2, to_element=8),
    ),
    (
        "labels_text_title",
        dict(labels=frozenset({L.TEXT, L.TITLE, L.SECTION_HEADER})),
        dict(labels=None),  # filled in test (needs enum values)
    ),
    (
        "no_escape",
        dict(escape_underscores=False),
        dict(escape_underscores=False),
    ),
    (
        "custom_image_placeholder",
        dict(image_placeholder="[IMG]"),
        dict(image_placeholder="[IMG]"),
    ),
    (
        "no_chart_tables",
        dict(enable_chart_tables=False),
        dict(enable_chart_tables=False),
    ),
    (
        "page_breaks",
        dict(page_break_placeholder="<!-- pb -->"),
        dict(page_break_placeholder="<!-- pb -->"),
    ),
    (
        "wrapped_40",
        dict(wrap_width=40),
        dict(text_width=40),
    ),
    (
        "no_annotations",
        dict(include_annotations=False),
        dict(include_annotations=False),
    ),
    (
        "marked_annotations",
        dict(mark_annotations=True),
        dict(mark_annotations=True),
    ),
]


@needs_reference
@pytest.mark.parametrize("doc_id", DOC_IDS)
@pytest.mark.parametrize("name,my_kw,ref_kw", MATRIX, ids=[m[0] for m in MATRIX])
def test_markdown_params_match_reference(doc_id, name, my_kw, ref_kw):
    from ref_oracle import install_reference

    install_reference()
    from docling_core.types.doc.labels import DocItemLabel

    spans = gen_spans(doc_id)
    mydoc, _ = parse_span_doc(doc_id, spans)
    refdoc = build_ref_doc(spans, name=doc_id)

    if name == "labels_text_title":
        ref_kw = dict(
            labels={DocItemLabel.TEXT, DocItemLabel.TITLE,
                    DocItemLabel.SECTION_HEADER}
        )

    mine = serialize_markdown(mydoc, SerParams(**my_kw)).text
    ref = refdoc.export_to_markdown(**ref_kw)
    assert mine == ref, name


@needs_reference
@pytest.mark.parametrize("doc_id", DOC_IDS + [f"doc-{i:08d}" for i in range(6)])
def test_export_to_text_matches_reference(doc_id):
    from docling_core_spark.serialize.markdown import export_to_text

    spans = gen_spans(doc_id)
    mydoc, _ = parse_span_doc(doc_id, spans)
    refdoc = build_ref_doc(spans, name=doc_id)
    assert export_to_text(mydoc) == refdoc.export_to_text()
