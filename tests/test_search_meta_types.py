"""Search meta/package schema parity vs the reference (search/meta.py,
search/package.py; reference test model: test/test_search_meta.py).

Verdict-for-verdict validation parity over the reference's own
test/data/search fixtures, the reference's gold_errors per-field
attribution, structural parity of the generated schema against
Pydantic's model_json_schema(), and a battery of single-constraint
mutations asserted against BOTH engines — the same pattern as
test_rec_schema_types.py."""

import copy
import json
import os

import pytest

from docling_core_spark.search.meta_schema import (
    META_FIELDS,
    generate_meta_schema,
    generate_package_schema,
    meta_error_fields,
    validate_meta,
    validate_package,
)
from ref_oracle import (
    REFERENCE_PATH,
    install_reference,
    needs_path,
    needs_reference,
    ref_files,
)

install_reference()

TAXONOMY = ["Public", "PI"]
DOMAIN = ["Science", "Technology", "History", "Art", "Literature",
          "Geography"]
FIXTURES = ref_files(f"{REFERENCE_PATH}/test/data/search/*.json")
META_01 = f"{REFERENCE_PATH}/test/data/search/meta-01.json"


def _ref_meta():
    from typing import Literal

    from docling_core.search.meta import Meta

    taxonomy = Literal["Public", "PI"]
    domain = Literal["Science", "Technology", "History", "Art",
                     "Literature", "Geography"]
    return Meta[taxonomy, domain]


def _ref_verdict(payload: str):
    from pydantic import ValidationError

    try:
        _ref_meta().model_validate_json(payload)
        return True, []
    except ValidationError as e:
        # unique top-level locs in reported order (the reference's
        # gold_errors convention)
        locs = []
        for err in e.errors():
            loc = str(err["loc"][0]) if err["loc"] else "__root__"
            if loc not in locs:
                locs.append(loc)
        return False, locs


@pytest.mark.parametrize("fn", FIXTURES, ids=os.path.basename)
def test_fixture_verdict_parity(fn):
    payload = open(fn, encoding="utf-8").read()
    ref_ok, ref_locs = _ref_verdict(payload)
    eng_ok, msg = validate_meta(payload, TAXONOMY, DOMAIN)
    assert eng_ok == ref_ok, f"{fn}: ref={ref_ok} eng={eng_ok} ({msg})"
    assert ref_ok == ("error-" not in fn)
    if not ref_ok:
        # per-field attribution must match the reference's loc sequence
        eng_locs = meta_error_fields(payload, TAXONOMY, DOMAIN)
        assert eng_locs == ref_locs, f"{fn}: {eng_locs} != {ref_locs}"


@needs_reference
def test_schema_structural_parity():
    """Same property set, required set, closed-world flag and version
    constraints as the reference's model_json_schema()."""
    ref = _ref_meta().model_json_schema()
    eng = generate_meta_schema(TAXONOMY, DOMAIN)
    assert set(eng["properties"]) == set(ref["properties"])
    assert sorted(eng["required"]) == sorted(ref["required"])
    assert ref.get("additionalProperties", True) is False
    assert eng["additionalProperties"] is False
    assert list(eng["properties"]) == META_FIELDS
    rv, ev = ref["properties"]["version"], eng["properties"]["version"]
    assert rv["minItems"] == ev["minItems"] == 1
    assert rv.get("uniqueItems") is True and ev["uniqueItems"] is True
    # $defs cover the same nested models
    for d in ("Package", "S3Path", "S3CcsData", "DocumentLicense"):
        assert d in ref["$defs"] and d in eng["$defs"]
        r_d, e_d = ref["$defs"][d], eng["$defs"][d]
        assert set(e_d["properties"]) == set(r_d["properties"]), d
        assert sorted(e_d.get("required", [])) == sorted(
            r_d.get("required", [])
        ), d


@needs_reference
def test_package_schema_parity():
    from docling_core.search.package import Package

    ref = Package.model_json_schema()
    eng = generate_package_schema()
    assert set(eng["properties"]) == set(ref["properties"])
    assert ref["properties"]["version"]["pattern"] == (
        eng["properties"]["version"]["pattern"]
    )
    ok, _ = validate_package('{"name": "x", "version": "1.2.3-rc.1"}')
    assert ok
    bad, _ = validate_package('{"name": "x", "version": "beta"}')
    assert not bad


def _base():
    return json.loads(open(META_01, encoding="utf-8").read())


def _mutations():
    def drop(key):
        def f(o):
            o.pop(key)
        return f

    def setv(path, value):
        def f(o):
            cur = o
            for p in path[:-1]:
                cur = cur[p]
            cur[path[-1]] = value
        return f

    return [
        (drop("created"), "missing created"),
        (drop("source"), "missing source"),
        (drop("type"), "missing type"),
        (drop("version"), "missing version"),
        (setv(["type"], "Corpus"), "type outside CollectionTypeEnum"),
        (setv(["created"], "20220815"), "created numeric string"),
        (setv(["created"], "not a date"), "created unparseable"),
        (setv(["version"], []), "version empty"),
        (setv(["version", 0, "version"], "1.2"), "version not semver"),
        (setv(["version", 0, "name"], "other-pkg"),
         "version without docling-core"),
        (setv(["$ref"], "cps:schemas#/Record"),
         "Document type with wrong $ref"),
        (setv(["classification", 0], "Secret"),
         "classification outside taxonomy"),
        (setv(["domain", 0], "Banking"), "domain outside vocabulary"),
        (setv(["ccs_s3_data", "paths"], []), "empty s3 paths"),
        (setv(["ccs_s3_data", "paths", 0, "bucket"], 7),
         "s3 bucket non-string"),
        (setv(["surprise"], "x"), "extra top-level field"),
    ]


@needs_reference
@needs_path(META_01)
@pytest.mark.parametrize(
    "mut,label", _mutations(), ids=[m[1] for m in _mutations()]
)
def test_mutation_verdict_parity(mut, label):
    obj = copy.deepcopy(_base())
    mut(obj)
    payload = json.dumps(obj)
    ref_ok, _ = _ref_verdict(payload)
    eng_ok, msg = validate_meta(payload, TAXONOMY, DOMAIN)
    assert not ref_ok, f"reference accepted mutation: {label}"
    assert eng_ok == ref_ok, f"{label}: eng={eng_ok} ({msg})"


@needs_reference
@needs_path(META_01)
def test_multi_extra_error_field_parity():
    """Several extra keys + a missing field in one payload: the engine's
    error-field sequence must match Pydantic's (extras first in payload
    insertion order, then declared fields in declaration order)."""
    obj = copy.deepcopy(_base())
    obj["zzz"] = 1
    obj["aaa"] = 2
    obj.pop("source")
    payload = json.dumps(obj)
    ref_ok, ref_locs = _ref_verdict(payload)
    assert not ref_ok
    assert meta_error_fields(payload, TAXONOMY, DOMAIN) == ref_locs


@needs_reference
@needs_path(META_01)
def test_valid_base_accepted():
    payload = json.dumps(_base())
    assert _ref_verdict(payload)[0]
    ok, msg = validate_meta(payload, TAXONOMY, DOMAIN)
    assert ok, msg


def test_document_ref_falsy_accepted():
    """reference_for_document (meta.py:68-79) coerces a falsy $ref to
    the pinned value and rejects only a truthy wrong one."""
    base = {
        "created": "2023-08-15T10:00:00Z",
        "source": "ccs",
        "type": "Document",
        "version": [{"name": "docling-core", "version": "2.34.1"}],
    }
    for ref, expect in (("", True), ("ccs:schemas#/Document", True),
                        ("x", False)):
        payload = json.dumps({**base, "$ref": ref})
        ok, msg = validate_meta(payload, TAXONOMY, DOMAIN)
        assert ok is expect, f"$ref={ref!r}: {msg}"


@needs_path(META_01)
def test_distributed_validation(spark):
    from docling_core_spark.search.meta_schema import validate_meta_docs

    base = _base()
    bad = copy.deepcopy(base)
    bad.pop("source")
    df = spark.createDataFrame(
        [("d1", json.dumps(base)), ("d2", json.dumps(bad))],
        "doc_id string, payload string",
    )
    out = {
        r["doc_id"]: r["valid"]
        for r in validate_meta_docs(df, TAXONOMY, DOMAIN).collect()
    }
    assert out == {"d1": True, "d2": False}
