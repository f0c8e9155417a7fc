"""Legacy DsDocument reader parity: our raw-JSON converter vs the
reference's DsDocument.model_validate + legacy_to_docling_document chain
on the reference's own legacy corpus — markdown AND doctags exports must
match exactly."""

import json
import os

import pytest

from docling_core_spark.parse.legacy import legacy_to_doc
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import (
    REFERENCE_PATH,
    install_reference,
    needs_path,
    ref_files,
)

LEGACY_DIR = f"{REFERENCE_PATH}/test/data/legacy_doc"
FILES = ref_files(f"{LEGACY_DIR}/doc-*.json")
FIRST = f"{LEGACY_DIR}/doc-1.json"


def _ref_convert(path):
    install_reference()
    from docling_core.types.legacy_doc.document import (
        ExportedCCSDocument as DsDocument,
    )
    from docling_core.utils.legacy import legacy_to_docling_document

    try:
        ds = DsDocument.model_validate(json.load(open(path)))
        doc = legacy_to_docling_document(ds)
        # doc-3.json: the converted doc itself is broken in the
        # reference (prov pages missing from pages dict -> KeyError on
        # doctags export); force both exports eagerly to detect it
        return doc, doc.export_to_markdown(), doc.export_to_doctags()
    except Exception:
        return None


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_legacy_reader_matches_reference(path):
    ref = _ref_convert(path)
    if ref is None:
        pytest.skip("reference legacy chain fails on this file")
    _rdoc, rmd, rdt = ref
    mydoc = legacy_to_doc(json.load(open(path)))
    assert serialize_markdown(mydoc).text == rmd
    assert export_to_doctags(mydoc) == rdt


@needs_path(FIRST)
def test_legacy_origin_binary_hash():
    obj = json.load(open(FIRST))
    doc = legacy_to_doc(obj)
    assert doc["origin"]["mimetype"] == "application/pdf"
    assert isinstance(doc["origin"]["binary_hash"], int)
    assert 0 <= doc["origin"]["binary_hash"] < 2 ** 64
