"""Property-based parity fuzzing: ARBITRARY span streams (not just the
fixture generator's shapes) must produce identical span sequences and
exports through the engine and through the reference's own builder API.

Hypothesis explores adversarial structure the fixture corpus doesn't:
unbalanced opens/closes, captions with no floating owner, page breaks
at stream edges, empty texts, markdown-hostile characters, nested
inline groups inside lists, etc."""

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from docling_core_spark.fixtures import _random_otsl
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.markdown import export_to_markdown
from docling_core_spark.serialize.spanseq import doc_span_seq

from ref_oracle import build_ref_doc, needs_reference, ref_span_seq

# markdown-hostile alphabet: escaping, HTML entities, pipes, headers
_TEXT = st.text(
    alphabet="ab c_*&<>|#`$.-19\t'\"", min_size=0, max_size=24
)

_PLAIN_KINDS = [
    "title", "text", "paragraph", "footnote", "formula", "code",
    "checkbox_selected", "checkbox_unselected", "page_header",
    "page_footer", "list_item", "caption",
] + [f"section_header_level_{i}" for i in (1, 3, 6)]

_STRUCT_KINDS = [
    "ordered_list_open", "ordered_list_close",
    "unordered_list_open", "unordered_list_close",
    "inline_open", "inline_close", "page_break",
]


@st.composite
def span(draw):
    r = draw(st.integers(0, 9))
    if r <= 4:
        return {
            "kind": draw(st.sampled_from(_PLAIN_KINDS)),
            "text": draw(_TEXT),
            "media_ref": "",
        }
    if r <= 6:
        return {
            "kind": draw(st.sampled_from(_STRUCT_KINDS)),
            "text": "",
            "media_ref": "",
        }
    if r == 7:
        return {
            "kind": draw(st.sampled_from(["picture", "chart"])),
            "text": "",
            "media_ref": draw(st.sampled_from(
                ["", "img://f/1", "data:image/png;base64,QUJD=="]
            )),
        }
    if r == 8:
        return {
            "kind": "table_otsl",
            "text": _random_otsl(random.Random(draw(st.integers(0, 9999)))),
            "media_ref": "",
        }
    return {
        "kind": "key_value_region",
        "text": draw(st.sampled_from(
            ["k=v", "a=1;b=2", "noequals", "x=;=y", ""]
        )),
        "media_ref": "",
    }


@st.composite
def span_stream(draw):
    spans = draw(st.lists(span(), min_size=0, max_size=18))
    for i, s in enumerate(spans):
        s["offset"] = i
    return spans


@needs_reference
@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(span_stream())
def test_arbitrary_span_streams_match_reference(spans):
    doc, _diags = parse_span_doc("fuzz", spans)
    rdoc = build_ref_doc(spans, name="fuzz")
    assert doc_span_seq(doc) == [tuple(x) for x in ref_span_seq(rdoc)]
    assert export_to_markdown(doc) == rdoc.export_to_markdown()
    assert export_to_doctags(doc) == rdoc.export_to_doctags()
