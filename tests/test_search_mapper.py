"""Search-index mapper parity: get_index_definition must reproduce the
reference's golden index definitions (test/data/json_schemas/*-ref.json)
for the reference's own Pydantic model schemas. The reference class
itself cannot run in this sandbox (jsonref missing), so the goldens ARE
the oracle."""

import json

import pytest

from docling_core_spark.search.mapper import (
    get_index_definition,
    replace_refs,
)

from ref_oracle import (
    REFERENCE_PATH,
    install_reference,
    needs_path,
    needs_reference,
)

GOLDEN_DIR = f"{REFERENCE_PATH}/test/data/json_schemas"

DOC_EXTRA = {
    "_meta": {
        "license": "",
        "created": "2021-09-27T17:42:10.407214+00:00",
        "description": "",
        "source": "",
        "display_name": "",
        "version": "1.0",
        "$ref": "ccs:schemas#/Document",
    },
    "dynamic": False,
    "_size": {"enabled": True},
}

REC_EXTRA = {
    "_meta": {
        "aliases": [".production", "ccc"],
        "created": "2022-11-03T11:22:32.432+00:00",
        "description": "description of the collection",
        "source": "https://ccc",
        "storage": "storage location",
        "display_name": "display name",
        "type": "Record",
        "classification": ["Public", "PI"],
        "version": [
            {"name": "my-library", "version": "0.1.0-post.6+ed04c14"},
            {"name": "docling-core", "version": "0.1.0"},
        ],
        "document_license": {"code": ["NO-CC CODE", "CC BY"], "text": []},
        "license": "https://www.ccc",
        "filename": "ccc-gs.json",
        "domain": ["Healthcare & Life Sciences"],
        "$ref": "ccs:schemas#/Document",
    },
    "dynamic": False,
    "_size": {"enabled": True},
}


@needs_reference
@needs_path(f"{GOLDEN_DIR}/document-ref.json")
def test_document_schema_matches_reference_golden():
    install_reference()
    from docling_core.types.legacy_doc.document import ExportedCCSDocument

    ref = json.load(open(f"{GOLDEN_DIR}/document-ref.json"))
    mine = get_index_definition(
        ExportedCCSDocument.model_json_schema(), mappings_extra=DOC_EXTRA
    )
    assert mine == ref


@needs_reference
@needs_path(f"{GOLDEN_DIR}/dbrecord-ref.json")
def test_record_schema_matches_reference_golden():
    install_reference()
    from docling_core.types.rec.record import Record

    ref = json.load(open(f"{GOLDEN_DIR}/dbrecord-ref.json"))
    mine = get_index_definition(
        Record.model_json_schema(), mappings_extra=REC_EXTRA
    )
    assert mine == ref


def test_replace_refs_inlines_and_detects_cycles():
    schema = {
        "$defs": {"Leaf": {"type": "string"}},
        "properties": {"x": {"$ref": "#/$defs/Leaf"}},
    }
    out = replace_refs(schema)
    assert out["properties"]["x"] == {"type": "string"}

    cyclic = {
        "$defs": {"N": {"properties": {"child": {"$ref": "#/$defs/N"}}}},
        "properties": {"root": {"$ref": "#/$defs/N"}},
    }
    with pytest.raises(ValueError, match="cyclic"):
        replace_refs(cyclic)


def test_x_es_passthrough_and_suppress():
    schema = {
        "properties": {
            "a": {"type": "string", "x-es-analyzer": "std"},
            "b": {"type": "integer", "x-es-suppress": True},
        }
    }
    out = get_index_definition(schema)
    assert out["mappings"]["properties"]["a"] == {
        "type": "text", "analyzer": "std",
    }
    assert "b" not in out["mappings"]["properties"]
