"""Reference-format JSON interop parity.

For every DoclingDocument JSON in the reference's own test corpus:
  - our loader + serializers reproduce the reference's markdown and
    doctags exports exactly;
  - our JSON writer round-trips through the reference's own Pydantic
    validation (model_validate) with identical exports.
"""

import json
import os

import pytest

from docling_core_spark.model.json_io import (
    from_reference_json,
    to_reference_json,
)
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import REFERENCE_PATH, needs_path, ref_files, ref_modules


def _is_docling_document(path):
    with open(path) as f:
        return json.load(f).get("schema_name") == "DoclingDocument"


FILES = ref_files(f"{REFERENCE_PATH}/test/data/doc/*.json",
                  keep=_is_docling_document)


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_load_matches_reference_exports(path):
    R = ref_modules()
    rdoc = R.DoclingDocument.load_from_json(path)
    mydoc = from_reference_json(json.load(open(path)))
    assert serialize_markdown(mydoc).text == rdoc.export_to_markdown()
    assert export_to_doctags(mydoc) == rdoc.export_to_doctags()


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_written_json_revalidates_in_reference(path):
    R = ref_modules()
    rdoc = R.DoclingDocument.load_from_json(path)
    mydoc = from_reference_json(json.load(open(path)))
    rdoc2 = R.DoclingDocument.model_validate(to_reference_json(mydoc))
    assert rdoc2.export_to_markdown() == rdoc.export_to_markdown()
    assert rdoc2.export_to_doctags() == rdoc.export_to_doctags()


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_html_body_matches_reference(path):
    """HTML parity on the <body> content (the head's stylesheet/brand
    string are presentation assets we deliberately did not copy).
    Formula/image fallbacks compare on the no-image path — the engine
    never materializes image bytes (SURVEY.md §1.3)."""
    import re

    from docling_core_spark.serialize.html import export_to_html

    def body(html):
        m = re.search(r"<body[^>]*>(.*)</body>", html, re.DOTALL)
        return m.group(1).strip() if m else html

    R = ref_modules()
    rdoc = R.DoclingDocument.load_from_json(path)
    mydoc = from_reference_json(json.load(open(path)))
    assert body(export_to_html(mydoc)) == body(rdoc.export_to_html())


def test_version_gate_rejects_incompatible():
    with pytest.raises(ValueError, match="incompatible"):
        from_reference_json({"schema_name": "DoclingDocument",
                             "version": "2.0.0"})
    with pytest.raises(ValueError, match="incompatible"):
        from_reference_json({"schema_name": "DoclingDocument",
                             "version": "1.99.0"})


V1_0_0_DOC = f"{REFERENCE_PATH}/test/data/doc/2206.01062-1.0.0.json"


@needs_path(V1_0_0_DOC)
def test_v1_0_0_upgrade_moves_headers_to_furniture():
    """v1.0.0 documents carry page_header/footer in the body; loading
    must move them to the furniture layer (document.py:1650-1664)."""
    obj = json.load(open(V1_0_0_DOC))
    assert obj["version"] == "1.0.0"
    doc = from_reference_json(obj)
    moved = [
        t for t in doc["texts"]
        if t["label"] in ("page_header", "page_footer")
    ]
    assert moved
    assert all(t["content_layer"] == "furniture" for t in moved)


def test_engine_doc_roundtrip_through_json():
    """Engine-built docs survive export->import with identical exports."""
    from docling_core_spark.fixtures import gen_spans
    from docling_core_spark.parse.spans import parse_span_doc

    for did in ["doc-00000003", "doc-00000007", "shape:minimal"]:
        doc, _ = parse_span_doc(did, gen_spans(did))
        doc2 = from_reference_json(to_reference_json(doc))
        assert serialize_markdown(doc2).text == serialize_markdown(doc).text
        assert export_to_doctags(doc2) == export_to_doctags(doc)
