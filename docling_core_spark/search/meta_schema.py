"""Search-index metadata schemas declared natively (reference
search/meta.py:1-93 + search/package.py:1-56).

The reference models a search database index's metadata as Pydantic
classes: `Package` (a software package pinned to Semantic Versioning
2.0.0, package.py:15-34), `S3Path`/`S3CcsData` (cloud-object-storage
access details, meta.py:20-36), `DocumentLicense` (meta.py:39-43) and
the generic `Meta[ClassificationT, DomainT]` envelope (meta.py:46-93)
with two cross-field validators: indexes of type "Document" must carry
the `$ref` value `ccs:schemas#/Document` (meta.py:68-79), and the
`version` list must contain exactly one `docling-core` package
(meta.py:81-93).

The engine's declaration follows the repo's schema track
(model/schema_gen.py / model/rec_schema.py): one declarative
draft-2020-12-style table rendered by `generate_meta_schema()` /
`generate_package_schema()`, validated with jsonschema plus the
cross-field rules JSON schema cannot carry — the same
split used for the Record/QAPair/Generic types. Verdict-for-verdict
parity with the reference's `model_validate_json` is asserted in
tests/test_search_meta_types.py over the reference's own
test/data/search fixtures (test/test_search_meta.py is the reference's
test model), including the per-field error attribution its gold_errors
table pins.

Distributed form: `validate_meta_docs` broadcasts the schema with the
task closure and validates an Arrow batch per partition — identical to
model/schema_validate.validate_json_docs (zero shuffle; failures come
back as data)."""

from __future__ import annotations

import json
import re
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

# Semantic Versioning 2.0.0 (reference package.py:15-21; the public
# semver.org recommended regex)
VERSION_PATTERN = (
    r"^(?P<major>0|[1-9]\d*)\.(?P<minor>0|[1-9]\d*)\.(?P<patch>0|[1-9]\d*)"
    r"(?:-(?P<prerelease>(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*)"
    r"(?:\.(?:0|[1-9]\d*|\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?(?:\+"
    r"(?P<buildmetadata>[0-9a-zA-Z-]+(?:\.[0-9a-zA-Z-]+)*))?$"
)

COLLECTION_TYPES = ["Generic", "Document", "Record"]  # types/base.py:173-178

# Meta field declaration order (meta.py:49-66) — drives error-field
# ordering so the engine's attribution matches Pydantic's output order
# (the reference's test_search_meta.py asserts loc sequences).
META_FIELDS = [
    "aliases", "created", "description", "source", "storage",
    "display_name", "type", "classification", "version", "license",
    "filename", "domain", "$ref", "ccs_s3_data", "document_license",
    "index_key", "project_key",
]

_STR = {"type": "string"}
_OPT_STR = {"anyOf": [{"type": "string"}, {"type": "null"}],
            "default": None}


def _opt(inner: dict) -> dict:
    return {"anyOf": [inner, {"type": "null"}], "default": None}


def _str_arr() -> dict:
    return {"type": "array", "items": _STR}


def generate_package_schema() -> dict:
    """Package (package.py:24-34): name defaults to "docling-core",
    version is strict SemVer 2.0.0."""
    return {
        "title": "Package",
        "description": "Representation of a software package.",
        "type": "object",
        "additionalProperties": False,
        "properties": {
            "name": {"type": "string", "default": "docling-core"},
            "version": {"type": "string", "pattern": VERSION_PATTERN},
        },
    }


def _s3_defs() -> dict:
    return {
        "Package": generate_package_schema(),
        "S3Path": {
            "title": "S3Path",
            "type": "object",
            "additionalProperties": False,
            "required": ["bucket", "prefix", "infix"],
            "properties": {
                "bucket": _STR, "prefix": _STR, "infix": _STR,
            },
        },
        "S3CcsData": {
            "title": "S3CcsData",
            "type": "object",
            "additionalProperties": False,
            "required": ["endpoint", "paths"],
            "properties": {
                "endpoint": _STR,
                "paths": {
                    "type": "array",
                    "items": {"$ref": "#/$defs/S3Path"},
                    "minItems": 1,
                    "uniqueItems": True,
                },
            },
        },
        "DocumentLicense": {
            "title": "DocumentLicense",
            "type": "object",
            "additionalProperties": False,
            "properties": {
                "code": _opt(_str_arr()),
                "text": _opt(_str_arr()),
            },
        },
    }


def generate_meta_schema(
    classification: Optional[List[str]] = None,
    domain: Optional[List[str]] = None,
) -> dict:
    """Meta[ClassificationT, DomainT] (meta.py:46-66). The two generic
    axes arrive as enum vocabularies (the reference binds them as
    Literal type parameters; None leaves the axis an open string)."""
    cls_items = {"enum": classification} if classification else _STR
    dom_items = {"enum": domain} if domain else _STR
    return {
        "title": "Meta",
        "description": (
            "Metadata of a search database index within the index"
            " mappings."
        ),
        "type": "object",
        "additionalProperties": False,
        "required": ["created", "source", "type", "version"],
        "$defs": _s3_defs(),
        "properties": {
            "aliases": _opt(_str_arr()),
            # StrictDateTime: datetime-parseable non-numeric string
            # (utils/validators.py:95-100); the parse itself is a
            # cross-field rule below
            "created": _STR,
            "description": _OPT_STR,
            "source": _STR,
            "storage": _OPT_STR,
            "display_name": _OPT_STR,
            "type": {"enum": COLLECTION_TYPES},
            "classification": _opt({"type": "array", "items": cls_items}),
            "version": {
                "type": "array",
                "items": {"$ref": "#/$defs/Package"},
                "minItems": 1,
                "uniqueItems": True,
            },
            "license": _OPT_STR,
            "filename": _OPT_STR,
            "domain": _opt({"type": "array", "items": dom_items}),
            "$ref": _OPT_STR,
            "ccs_s3_data": _opt({"$ref": "#/$defs/S3CcsData"}),
            "document_license": _opt({"$ref": "#/$defs/DocumentLicense"}),
            "index_key": _OPT_STR,
            "project_key": _OPT_STR,
        },
    }


# ---------------------------------------------------------------------------
# validation: jsonschema + the reference's cross-field rules
# ---------------------------------------------------------------------------

def _parses_as_datetime(v: str) -> bool:
    """StrictDateTime acceptance (utils/validators.py:95-100 + the
    Pydantic datetime parse): a non-numeric ISO-8601 string, 'Z'
    accepted."""
    if v.isnumeric():
        return False
    from datetime import datetime

    try:
        datetime.fromisoformat(v.replace("Z", "+00:00"))
        return True
    except ValueError:
        return False


def _rule_errors(obj: dict) -> List[str]:
    """Fields violating the rules JSON schema cannot carry; returns
    field names (alias form, matching Pydantic's error locs)."""
    bad: List[str] = []
    created = obj.get("created")
    if isinstance(created, str) and not _parses_as_datetime(created):
        bad.append("created")
    # version_has_schema (meta.py:81-93): exactly one docling-core
    version = obj.get("version")
    if isinstance(version, list) and all(
        isinstance(p, dict) for p in version
    ):
        n_core = sum(
            1 for p in version
            if p.get("name", "docling-core") == "docling-core"
        )
        if n_core != 1:
            bad.append("version")
    # reference_for_document (meta.py:68-79): a falsy $ref is coerced
    # to the pinned value, only a truthy wrong one is rejected
    if obj.get("type") == "Document":
        ref = obj.get("$ref")
        if ref and ref != "ccs:schemas#/Document":
            bad.append("$ref")
    return bad


def meta_error_fields(
    payload: str,
    classification: Optional[List[str]] = None,
    domain: Optional[List[str]] = None,
) -> List[str]:
    """Top-level fields with validation errors, in the reference's
    declaration-then-extras order (the loc sequence the reference's
    test_search_meta.py gold_errors table asserts)."""
    import jsonschema

    sch = generate_meta_schema(classification, domain)
    try:
        obj = json.loads(payload)
    except ValueError:
        return ["__json__"]
    if not isinstance(obj, dict):
        return ["__root__"]
    fields = set()
    cls = jsonschema.validators.validator_for(sch)
    for err in cls(sch).iter_errors(obj):
        if err.validator == "required":
            fields.add(err.message.split("'")[1])
        elif err.validator == "additionalProperties":
            # "Additional properties are not allowed ('a', 'b' were
            # unexpected)" — every quoted token is an offending key
            fields.update(re.findall(r"'([^']+)'", err.message))
        elif len(err.path):
            fields.add(str(list(err.path)[0]))
    fields.update(_rule_errors(obj))
    # Pydantic's reporting order (probed against the reference in this
    # environment): extra-forbidden keys FIRST in payload insertion
    # order, then declared fields in declaration order.
    extras = [k for k in obj if k not in META_FIELDS and k in fields]
    declared = [f for f in META_FIELDS if f in fields]
    leftover = sorted(
        f for f in fields if f not in extras and f not in declared
    )
    return extras + declared + leftover


def validate_meta(
    payload: str,
    classification: Optional[List[str]] = None,
    domain: Optional[List[str]] = None,
) -> Tuple[bool, str]:
    """(valid, message) accept/reject with the engine's standard
    contract (first error, else "All good!")."""
    bad = meta_error_fields(payload, classification, domain)
    if bad:
        return (False, f"invalid fields: {', '.join(bad)}")
    return (True, "All good!")


def validate_package(payload: str) -> Tuple[bool, str]:
    import jsonschema

    sch = generate_package_schema()
    try:
        obj = json.loads(payload)
    except ValueError as err:
        return (False, f"invalid JSON: {err}")
    err = next(
        jsonschema.validators.validator_for(sch)(sch).iter_errors(obj),
        None,
    )
    if err is not None:
        return (False, err.message)
    return (True, "All good!")


def validate_meta_docs(
    docs: DataFrame,
    classification: Optional[List[str]] = None,
    domain: Optional[List[str]] = None,
    id_col: str = "doc_id",
    json_col: str = "payload",
) -> DataFrame:
    """docs(id_col, json_col: JSON string) -> (doc_id, valid, message);
    one zero-shuffle Arrow stage, schema closure-captured with the
    task (the model of model/schema_validate.validate_json_docs)."""
    cls_blob = json.dumps(classification)
    dom_blob = json.dumps(domain)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cl = json.loads(cls_blob)
        dm = json.loads(dom_blob)
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf[json_col]):
                ok, msg = validate_meta(payload, cl, dm)
                out.append((doc_id, ok, msg))
            yield pd.DataFrame(
                out, columns=["doc_id", "valid", "message"]
            )

    return docs.mapInPandas(
        gen, schema="doc_id string, valid boolean, message string"
    )
