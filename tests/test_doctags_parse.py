"""DocTags parser parity: our parse_doctags chain must behave exactly
like the reference's `DoclingDocument.load_from_doctags` chain
(document.py:3323-3993) on identical token streams.

Invariant tested: for a doctags string S produced by our serializer,
  export(our_parse(S)) == export(reference_load(S))
in both doctags and markdown, i.e. parse+reserialize is behaviorally
identical to the reference (including its lossy choices: list-item and
key-value bboxes dropped without page images, media refs dropped).
"""

import pytest

from docling_core_spark.fixtures import SHAPE_IDS, gen_spans
from docling_core_spark.parse.doctags import parse_doctags
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import needs_reference, ref_modules

DOC_IDS = list(SHAPE_IDS) + [f"doc-{i:08d}" for i in range(24)]


def _ref_reload(s: str, name: str):
    """Reference chain; returns None where the reference itself crashes
    (known bug: `<chart>` with image=None hits UnboundLocalError
    `pic_title`, document.py:3926 — the no-image branch never binds it)."""
    R = ref_modules()
    try:
        dt = R.DocTagsDocument.from_multipage_doctags_and_images(s, None)
        return R.DoclingDocument.load_from_doctags(dt, document_name=name)
    except UnboundLocalError:
        return None


@needs_reference
@pytest.mark.parametrize("doc_id", DOC_IDS)
def test_doctags_roundtrip_matches_reference(doc_id):
    doc, _ = parse_span_doc(doc_id, gen_spans(doc_id))
    s = export_to_doctags(doc)
    mine = parse_doctags(s, name=doc_id)
    rdoc = _ref_reload(s, doc_id)
    if rdoc is None:
        pytest.skip("reference load_from_doctags crashes on chart w/o image")
    assert export_to_doctags(mine) == rdoc.export_to_doctags()
    assert serialize_markdown(mine).text == rdoc.export_to_markdown()


@needs_reference
def test_chart_parse_where_reference_crashes():
    """Our parser implements the evident intent for charts without page
    images (classification annotation attached, no crash)."""
    s = (
        "<doctag><chart><loc_10><loc_20><loc_490><loc_40><bar_chart>"
        "<caption><loc_1><loc_2><loc_3><loc_4>cap text</caption>"
        "</chart></doctag>"
    )
    assert _ref_reload(s, "t") is None  # documents the reference bug
    doc = parse_doctags(s, name="t")
    assert len(doc["pictures"]) == 1
    pic = doc["pictures"][0]
    anns = pic["annotations"]
    assert anns and anns[0]["kind"] == "classification"
    assert anns[0]["predicted_classes"][0]["class_name"] == "bar_chart"
    assert len(pic["captions"]) == 1


def test_unclosed_tag_recovery():
    """Unclosed tag at EOF recovers an empty element, but keeps the bbox
    extracted before the content is discarded (document.py:3784-3790)."""
    doc = parse_doctags("<doctag><text><loc_1><loc_2><loc_3><loc_4>hi")
    assert len(doc["texts"]) == 1
    assert doc["texts"][0]["text"] == ""
    prov = doc["texts"][0]["prov"]
    assert len(prov) == 1 and prov[0]["l"] == 1 / 500.0
    assert tuple(prov[0]["charspan"]) == (0, 0)


def test_multipage_split():
    s = "<doctag><text>a</text><page_break><text>b</text></doctag>"
    doc = parse_doctags(s)
    assert len(doc["pages"]) == 2
    assert [t["text"] for t in doc["texts"]] == ["a", "b"]
    assert doc["texts"][1]["prov"] in (None, [])
