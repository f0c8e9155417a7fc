"""YAML source/sink parity (reference document.py:2956-2993): our YAML
text byte-matches the reference's save_as_yaml, and the reference's own
YAML corpus loads through our reader with identical exports."""

import os

import pytest
import yaml

from docling_core_spark.model.yaml_io import (
    dump_yaml_str,
    load_yaml_str,
)
from docling_core_spark.fixtures import gen_spans
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import (
    REFERENCE_PATH,
    build_ref_doc,
    install_reference,
    needs_reference,
    ref_files,
)

YAML_FILES = ref_files(f"{REFERENCE_PATH}/test/data/doc/*.yaml")


@needs_reference
def test_yaml_dump_matches_reference():
    """Our yaml text == yaml.dump of the reference's export_to_dict
    (what save_as_yaml writes, image_mode EMBEDDED being a no-op for
    non-file refs)."""
    for did in ["shape:minimal"] + [f"doc-{i:08d}" for i in range(12)]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans, name=did)
        ref_text = yaml.dump(rdoc.export_to_dict(), default_flow_style=False)
        assert dump_yaml_str(doc) == ref_text, did


def test_yaml_roundtrip_own_docs():
    for did in ["shape:minimal", "doc-00000003"]:
        doc, _ = parse_span_doc(did, gen_spans(did))
        doc2 = load_yaml_str(dump_yaml_str(doc))
        assert serialize_markdown(doc2).text == serialize_markdown(doc).text


@pytest.mark.parametrize("path", YAML_FILES, ids=os.path.basename)
def test_reference_yaml_corpus_loads(path):
    """The reference's own YAML fixtures load through our reader with
    markdown output equal to the reference's loader."""
    install_reference()
    from docling_core.types.doc.document import DoclingDocument

    rdoc = DoclingDocument.load_from_yaml(path)
    mine = load_yaml_str(open(path, encoding="utf-8").read())
    assert serialize_markdown(mine).text == rdoc.export_to_markdown(), path
