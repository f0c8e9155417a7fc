"""Legacy writer parity: our doc->legacy dict must equal the
reference's docling_document_to_legacy(...).model_dump(mode="json",
by_alias=True, exclude_none=True) — exercised both as a full
legacy->doc->legacy round trip over the reference's legacy corpus and
on span-built docs (hash fields normalized there: with no origin both
writers hash a fresh uuid4, nondeterministically, by design)."""

import copy
import json
import os

import pytest

from docling_core_spark.parse.legacy import legacy_to_doc
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.legacy import doc_to_legacy

from ref_oracle import (
    REFERENCE_PATH,
    build_ref_doc,
    install_reference,
    needs_reference,
    ref_files,
)

FILES = ref_files(f"{REFERENCE_PATH}/test/data/legacy_doc/doc-*.json")


def _ref_writer():
    install_reference()
    from docling_core.utils.legacy import docling_document_to_legacy

    return lambda doc: docling_document_to_legacy(doc).model_dump(
        mode="json", by_alias=True, exclude_none=True
    )


def _ref_reader(path):
    install_reference()
    from docling_core.types.legacy_doc.document import (
        ExportedCCSDocument as DsDocument,
    )
    from docling_core.utils.legacy import legacy_to_docling_document

    try:
        ds = DsDocument.model_validate(json.load(open(path)))
        doc = legacy_to_docling_document(ds)
        doc.export_to_doctags()  # doc-3: broken in the reference
        return doc
    except Exception:
        return None


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_roundtrip_matches_reference(path):
    rdoc = _ref_reader(path)
    if rdoc is None:
        pytest.skip("reference legacy chain fails on this file")
    ref = _ref_writer()(rdoc)
    mine = doc_to_legacy(legacy_to_doc(json.load(open(path))))
    assert mine == ref


def _strip_hashes(obj):
    obj = copy.deepcopy(obj)
    fi = obj.get("file-info", {})
    fi.pop("document-hash", None)
    for ph in fi.get("page-hashes", []):
        ph.pop("hash", None)
    fi.pop("filename", None)  # ours falls back to "file", ref to "file"
    return obj


@needs_reference
def test_span_docs_match_reference():
    from docling_core_spark.fixtures import gen_spans

    writer = _ref_writer()
    for did in ["shape:minimal"] + [f"doc-{i:08d}" for i in range(12)]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        assert _strip_hashes(doc_to_legacy(doc)) == _strip_hashes(
            writer(rdoc)
        ), did
