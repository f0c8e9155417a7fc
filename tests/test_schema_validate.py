"""JSON-schema validation parity: same (valid, message) outcomes as the
reference's utils.validators.validate_schema on the reference's own
schema artifacts and legacy corpus (incl. its error-*.json fixtures),
plus the distributed Arrow-stage form."""

import glob
import json

import pandas as pd
import pytest

from docling_core_spark.model.schema_validate import (
    validate_json_docs,
    validate_schema,
)

from ref_oracle import (
    REFERENCE_PATH,
    install_reference,
    needs_path,
    needs_reference,
)

SCHEMA_DIR = f"{REFERENCE_PATH}/docling_core/resources/schemas/doc"
LEGACY_DIR = f"{REFERENCE_PATH}/test/data/legacy_doc"
FILES = sorted(
    glob.glob(f"{LEGACY_DIR}/doc-*.json")
    + glob.glob(f"{LEGACY_DIR}/error-*.json")
)


def _schema(name: str) -> dict:
    return json.load(open(f"{SCHEMA_DIR}/{name}"))


@needs_reference
@needs_path(f"{SCHEMA_DIR}/DOC.json")
def test_matches_reference_validator():
    install_reference()
    from docling_core.utils.validators import validate_schema as ref_validate

    schema = _schema("DOC.json")
    n_invalid = 0
    for path in FILES:
        obj = json.load(open(path))
        mine = validate_schema(obj, schema)
        ref = ref_validate(obj, schema)
        assert mine == ref, path
        n_invalid += not mine[0]
    assert n_invalid > 0, "error fixtures must produce failures"


@needs_path(f"{SCHEMA_DIR}/DOC.json")
def test_distributed_validator(spark):
    schema = _schema("DOC.json")
    rows = [
        {"doc_id": p.split("/")[-1], "payload": open(p).read()}
        for p in FILES
    ]
    rows.append({"doc_id": "broken", "payload": "{not json"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        r["doc_id"]: (r["valid"], r["message"])
        for r in validate_json_docs(df, schema).collect()
    }
    assert got["broken"][0] is False
    assert "invalid JSON" in got["broken"][1]
    for p in FILES:
        obj = json.load(open(p))
        expect = validate_schema(obj, schema)
        assert got[p.split("/")[-1]] == expect, p
