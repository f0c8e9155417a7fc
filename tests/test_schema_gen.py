"""Schema-generation parity: the engine's generated DoclingDocument
JSON schema (model/schema_gen.py, rendered from the engine's own
declarative model tables) must structurally match the reference's
generated schema, committed at docs/DoclingDocument.json (produced by
the reference's utils/generate_jsonschema.py:29-44).

Structural match = same $defs set; per definition the same property
name set, required set, additionalProperties strictness, $ref targets,
enum vocabularies and const discriminators; same top-level properties
and required. Pydantic prose (titles/descriptions) and regex pattern
text are not compared — the semantic structure is.
"""

import json
import os

import pytest

from docling_core_spark.model.schema_gen import generate_docling_schema

from ref_oracle import REFERENCE_PATH, needs_path

REF_SCHEMA_PATH = f"{REFERENCE_PATH}/docs/DoclingDocument.json"
needs_ref_schema = needs_path(REF_SCHEMA_PATH)


@pytest.fixture(scope="module")
def ref_schema():
    with open(REF_SCHEMA_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def our_schema():
    return generate_docling_schema()


def _refs_in(fragment) -> set:
    """All $defs names referenced anywhere inside a fragment."""
    out = set()
    if isinstance(fragment, dict):
        for k, v in fragment.items():
            if k == "$ref" and isinstance(v, str) and "#/$defs/" in v:
                out.add(v.split("/")[-1])
            else:
                out |= _refs_in(v)
    elif isinstance(fragment, list):
        for v in fragment:
            out |= _refs_in(v)
    return out


def _prop_shape(p: dict) -> dict:
    """Canonical comparable shape of one property schema."""
    shape = {"refs": sorted(_refs_in(p))}
    if "enum" in p:
        shape["enum"] = sorted(p["enum"])
    if "const" in p:
        shape["const"] = p["const"]
    if p.get("type") in ("array", "object", "string", "integer",
                         "number", "boolean"):
        shape["type"] = p["type"]
    return shape


def _def_shape(d: dict) -> dict:
    if "enum" in d:
        return {"enum": sorted(d["enum"])}
    return {
        "properties": {
            name: _prop_shape(p)
            for name, p in d.get("properties", {}).items()
        },
        "required": sorted(d.get("required", [])),
        "additionalProperties": d.get("additionalProperties"),
    }


@needs_ref_schema
def test_defs_set_matches(ref_schema, our_schema):
    assert sorted(our_schema["$defs"]) == sorted(ref_schema["$defs"])


def _def_names():
    """The reference's $defs names, or one case that the test's
    `needs_ref_schema` mark skips."""
    if not os.path.exists(REF_SCHEMA_PATH):
        return [pytest.param(None, id="missing")]
    with open(REF_SCHEMA_PATH) as f:
        return sorted(json.load(f)["$defs"])


@needs_ref_schema
@pytest.mark.parametrize("name", _def_names())
def test_def_structure_matches(name, ref_schema, our_schema):
    assert _def_shape(our_schema["$defs"][name]) == _def_shape(
        ref_schema["$defs"][name]
    ), name


@needs_ref_schema
def test_top_level_matches(ref_schema, our_schema):
    assert sorted(our_schema["properties"]) == sorted(
        ref_schema["properties"]
    )
    assert sorted(our_schema["required"]) == sorted(ref_schema["required"])
    assert our_schema["title"] == ref_schema["title"]
    for name, p in ref_schema["properties"].items():
        assert _prop_shape(our_schema["properties"][name]) == _prop_shape(
            p
        ), name


@needs_ref_schema
def test_defaults_match_reference(ref_schema, our_schema):
    """Field defaults are behavior (what a loader materializes for
    absent fields) — compare them wherever the reference declares one."""
    for dname, d in ref_schema["$defs"].items():
        for pname, p in d.get("properties", {}).items():
            if "default" in p:
                ours = our_schema["$defs"][dname]["properties"][pname]
                assert ours.get("default") == p["default"], (
                    f"{dname}.{pname}"
                )


def test_version_default_is_current():
    s = generate_docling_schema()
    assert s["properties"]["version"]["default"] == "1.4.0"


def test_search_mapper_consumes_generated_schema():
    """The generated schema is usable engine input: the search-index
    mapper (search/mapper.py) resolves it without error and produces a
    non-trivial mapping."""
    from docling_core_spark.search.mapper import get_index_definition

    idx = get_index_definition(generate_docling_schema())
    assert isinstance(idx, dict) and idx
