"""Record / QA / Generic schema-type parity vs the reference.

The reference's test_rec_schema.py / test_nlp_qa.py / test_collection.py
assert accept/reject on its own fixtures; the engine's hand-declared
draft-2020-12 schemas (model/rec_schema.py) must agree with the
reference's Pydantic validation verdict-for-verdict — on every fixture,
on the Generic inline inputs, and on a battery of systematic mutations
of the valid fixtures (each targeting one declared constraint).
"""

import copy
import glob
import json
import os

import pytest

from ref_oracle import (
    REFERENCE_PATH,
    install_reference,
    needs_path,
    needs_reference,
)

# the reference checkout's test data dir, which every glob lives under
_REF_DATA = f"{REFERENCE_PATH}/test/data"
REC_GLOBS = {
    "predicate": f"{_REF_DATA}/rec/*predicate-*.json",
    "attribute": f"{_REF_DATA}/rec/*attribute-*.json",
    "record": f"{_REF_DATA}/rec/*record-*.json",
    "qa_pair": f"{_REF_DATA}/nlp/*qa-*.json",
}
_MISSING = f"reference missing: {_REF_DATA}"


def _ref_json(rel: str):
    """A reference data file, by path relative to the data dir; tests
    gate on it with `needs_path(os.path.join(_REF_DATA, rel))`."""
    with open(os.path.join(_REF_DATA, rel)) as fh:
        return json.load(fh)


def _ref_models():
    install_reference()
    from docling_core.types.gen.generic import Generic
    from docling_core.types.nlp.qa import QAPair
    from docling_core.types.rec.attribute import Attribute
    from docling_core.types.rec.predicate import Predicate
    from docling_core.types.rec.record import Record

    return {
        "predicate": Predicate,
        "attribute": Attribute,
        "record": Record,
        "qa_pair": QAPair,
        "generic": Generic,
    }


def _ref_verdict(kind: str, payload: str) -> bool:
    from pydantic import ValidationError

    try:
        _ref_models()[kind].model_validate_json(payload)
        return True
    except ValidationError:
        return False


def _fixture_files():
    """(kind, file) cases, or one skipped case when the data is absent."""
    out = []
    for kind, pat in REC_GLOBS.items():
        for fn in sorted(glob.glob(pat)):
            out.append(pytest.param(kind, fn,
                                    id=f"{kind}:{fn.rsplit('/', 1)[1]}"))
    if not out:
        return [pytest.param(None, None,
                             marks=pytest.mark.skip(reason=_MISSING))]
    assert len(out) >= 20
    return out


@pytest.mark.parametrize("kind,fn", _fixture_files())
def test_fixture_verdict_parity(kind, fn):
    from docling_core_spark.model.rec_schema import validate_typed

    payload = open(fn, encoding="utf-8").read()
    ref_ok = _ref_verdict(kind, payload)
    eng_ok, msg = validate_typed(payload, kind)
    assert eng_ok == ref_ok, f"{fn}: ref={ref_ok} eng={eng_ok} ({msg})"
    # the reference's fixture naming convention encodes the verdict
    assert ref_ok == ("error-" not in fn)


@needs_reference
def test_generic_inline_parity():
    """The reference's test_collection.py Generic cases."""
    from docling_core_spark.model.rec_schema import validate_typed

    ok_0 = {
        "file-info": {
            "filename": "abc.xml",
            "filename-prov": "abc.xml.zip",
            "document-hash": "123457889",
        },
        "_name": "The ABC legacy_doc",
        "custom": ["The custom ABC content 1."],
    }
    ok_1 = {
        "file-info": {"filename": "abc.xml", "document-hash": "123457889"},
        "_name": "The ABC legacy_doc",
    }
    bad_2 = {"_name": "The ABC legacy_doc", "custom": ["x"]}
    for obj, expect in ((ok_0, True), (ok_1, True), (bad_2, False)):
        payload = json.dumps(obj)
        assert _ref_verdict("generic", payload) is expect
        got, msg = validate_typed(payload, "generic")
        assert got is expect, msg


def _mutations():
    """(kind, base-fixture, mutate-fn, label) cases, each gated on its
    base fixture (relative to the data dir): each mutation targets one
    declared constraint; the test asserts BOTH engines reject it."""
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

    cases = [
        ("predicate", "rec/predicate-01.json",
         setv(["key", "name"], 7), "key.name non-string"),
        ("predicate", "rec/predicate-01.json",
         drop("value"), "missing value"),
        ("predicate", "rec/predicate-01.json",
         setv(["geopoint_value", "value"], [0.0]), "1-elem coordinates"),
        ("attribute", "rec/attribute-01.json",
         setv(["conf"], -0.2), "conf below 0"),
        ("attribute", "rec/attribute-01.json",
         setv(["predicates"], "notalist"), "predicates non-array"),
        ("record", "rec/record-01.json",
         drop("subject"), "missing subject"),
        ("record", "rec/record-01.json",
         setv(["description", "logs"], []), "empty logs ok both"),
        ("record", "rec/record-01.json",
         setv(["file-info", "document-hash"], None), "null doc hash"),
        ("qa_pair", "nlp/qa-1.json",
         setv(["created"], "not-a-date"), "bad datetime"),
        ("qa_pair", "nlp/qa-1.json",
         setv(["retrieved_context"], "yes"), "non-bool flag"),
        ("qa_pair", "nlp/qa-1.json",
         drop("paths"), "missing paths"),
    ]
    return [
        pytest.param(kind, base, mut, label, id=label.replace(" ", "-"),
                     marks=needs_path(os.path.join(_REF_DATA, base)))
        for kind, base, mut, label in cases
    ]


@pytest.mark.parametrize("kind,base,mut,label", _mutations())
def test_mutation_verdict_parity(kind, base, mut, label):
    from docling_core_spark.model.rec_schema import validate_typed

    obj = _ref_json(base)
    mutated = copy.deepcopy(obj)
    mut(mutated)
    payload = json.dumps(mutated)
    ref_ok = _ref_verdict(kind, payload)
    eng_ok, msg = validate_typed(payload, kind)
    assert eng_ok == ref_ok, f"{label}: ref={ref_ok} eng={eng_ok} ({msg})"


@needs_path(os.path.join(_REF_DATA, "rec/record-01.json"))
def test_identifier_name_rule_parity():
    """The one cross-field rule (types/base.py:131-144): _name must be
    lower(type)#lower(value). Mutate a valid record's subject name."""
    from docling_core_spark.model.rec_schema import validate_typed

    obj = _ref_json("rec/record-01.json")
    obj["subject"]["names"][0]["_name"] = "wrong#name"
    payload = json.dumps(obj)
    assert _ref_verdict("record", payload) is False
    got, msg = validate_typed(payload, "record")
    assert got is False
    assert "_name field must be the concatenation" in msg


@needs_path(_REF_DATA)
def test_distributed_matches_local(spark):
    """validate_typed_docs (one Arrow stage) returns exactly the local
    verdicts over every fixture, failures as data."""
    from docling_core_spark.model.rec_schema import (
        validate_typed,
        validate_typed_docs,
    )

    for kind, pat in REC_GLOBS.items():
        rows = []
        expected = {}
        for fn in sorted(glob.glob(pat)):
            payload = open(fn, encoding="utf-8").read()
            doc_id = fn.rsplit("/", 1)[1]
            rows.append((doc_id, payload))
            ok, msg = validate_typed(payload, kind)
            expected[doc_id] = (ok, msg)
        df = spark.createDataFrame(rows, "doc_id string, payload string")
        got = {
            r["doc_id"]: (r["valid"], r["message"])
            for r in validate_typed_docs(df, kind).collect()
        }
        assert got == expected, kind
