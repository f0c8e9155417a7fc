"""Database-track schema parity: the engine's declaratively generated
Record / Generic / QAPair schemas (model/schema_gen.py) must
structurally match the reference's own `model_json_schema()` output
(types/rec/record.py:57-95, types/gen/generic.py:17-33,
types/nlp/qa.py:16-74) — same $defs set; per definition the same
property names, required sets, additionalProperties strictness, $ref
targets, enums, consts and defaults. Pydantic prose (titles of
properties, descriptions) is not byte-replicated.

The generated schemas are also exercised as real engine input: every
valid reference data file (test/data/{rec,nlp,gen}) validates against
them via jsonschema, and the search-index mapper consumes them.
"""

import glob
import json
import os

import pytest

from ref_oracle import REFERENCE_PATH, install_reference

from docling_core_spark.model.schema_gen import (
    generate_generic_schema,
    generate_qa_schema,
    generate_record_schema,
)

# reuse the structural comparator of the DoclingDocument schema test
from test_schema_gen import _def_shape, _prop_shape


def _ref_schema(which):
    if not os.path.isdir(REFERENCE_PATH):
        pytest.skip(f"reference checkout missing: {REFERENCE_PATH}")
    install_reference()
    if which == "record":
        from docling_core.types.rec.record import Record

        return Record.model_json_schema()
    if which == "generic":
        from docling_core.types.gen.generic import Generic

        return Generic.model_json_schema()
    from docling_core.types.nlp.qa import QAPair

    return QAPair.model_json_schema()


_OURS = {
    "record": generate_record_schema,
    "generic": generate_generic_schema,
    "qa": generate_qa_schema,
}


@pytest.mark.parametrize("which", sorted(_OURS))
def test_structure_matches_reference(which):
    ref = _ref_schema(which)
    ours = _OURS[which]()
    assert ours["title"] == ref["title"]
    assert sorted(ours.get("$defs", {})) == sorted(ref.get("$defs", {}))
    for name in ref.get("$defs", {}):
        assert _def_shape(ours["$defs"][name]) == _def_shape(
            ref["$defs"][name]
        ), name
    assert sorted(ours["properties"]) == sorted(ref["properties"])
    assert sorted(ours.get("required", [])) == sorted(
        ref.get("required", [])
    )
    for name, p in ref["properties"].items():
        assert _prop_shape(ours["properties"][name]) == _prop_shape(p), name


@pytest.mark.parametrize("which", sorted(_OURS))
def test_defaults_match_reference(which):
    ref = _ref_schema(which)
    ours = _OURS[which]()
    scopes = [(ref.get("properties", {}), ours.get("properties", {}))] + [
        (d.get("properties", {}),
         ours["$defs"][n].get("properties", {}))
        for n, d in ref.get("$defs", {}).items()
    ]
    for ref_props, our_props in scopes:
        for pname, p in ref_props.items():
            if "default" in p:
                assert our_props[pname].get("default") == p["default"], (
                    f"{which}.{pname}"
                )


_DATA = {
    "record": "/root/reference/test/data/rec/record-*.json",
    "qa": "/root/reference/test/data/nlp/qa-*.json",
}


@pytest.mark.parametrize("which", sorted(_DATA))
def test_reference_data_validates_against_generated_schema(which):
    """The reference's own valid data files are accepted by the
    engine-generated schema (jsonschema draft 2020-12)."""
    import jsonschema

    schema = _OURS[which]()
    files = sorted(glob.glob(_DATA[which]))
    if not files:
        pytest.skip(f"reference data missing: {_DATA[which]}")
    for fn in files:
        with open(fn) as f:
            jsonschema.validate(json.load(f), schema)


def test_search_mapper_consumes_generated_schemas():
    from docling_core_spark.search.mapper import get_index_definition

    for which, gen in _OURS.items():
        idx = get_index_definition(gen())
        assert isinstance(idx, dict) and idx, which
