"""File-resolver parity: filename extraction and Google export-URL
rewriting match the reference's utils/file.py on the same inputs (no
network — headers are synthetic, URLs only rewritten)."""

import pytest

from docling_core_spark.sources.resolve import (
    classify_source,
    resolve_remote_filename,
    resolve_source_to_path,
    resolve_source_to_stream,
    rewrite_google_url,
    spark_source_path,
)

from ref_oracle import install_reference, needs_reference

HEADER_CASES = [
    {},
    {"Content-Disposition": 'attachment; filename="report.pdf"'},
    {"Content-Disposition": "attachment; filename=data.json"},
    {"Content-Disposition": "inline; filename='x=y=z.bin'"},
    {"Content-Disposition": "attachment"},
    {"Content-Disposition": "attachment; filename="},
]

URL_CASES = [
    "https://example.com/a/b/doc.pdf",
    "https://example.com/a/b/",
    "https://example.com",
    "https://example.com/?q=1",
]


@needs_reference
@pytest.mark.parametrize("headers", HEADER_CASES)
@pytest.mark.parametrize("url", URL_CASES)
def test_remote_filename_matches_reference(url, headers):
    install_reference()
    from pydantic import TypeAdapter, AnyHttpUrl

    from docling_core.utils.file import (
        resolve_remote_filename as ref_resolve,
    )

    ref = ref_resolve(
        TypeAdapter(AnyHttpUrl).validate_python(url), dict(headers)
    )
    assert resolve_remote_filename(url, dict(headers)) == ref


GOOGLE_CASES = [
    (
        "https://drive.google.com/file/d/1AbC-xYz/view?usp=sharing",
        "https://drive.google.com/uc?export=download&id=1AbC-xYz",
    ),
    (
        "https://docs.google.com/document/d/theDocId/edit",
        "https://docs.google.com/document/d/theDocId/export?format=docx",
    ),
    (
        "https://docs.google.com/spreadsheets/d/sheet_id/edit#gid=0",
        "https://docs.google.com/spreadsheets/d/sheet_id/export?format=xlsx",
    ),
    (
        "https://docs.google.com/presentation/d/slides-1/edit",
        "https://docs.google.com/presentation/d/slides-1/export?format=pptx",
    ),
    ("https://example.com/doc.pdf", "https://example.com/doc.pdf"),
]


@pytest.mark.parametrize("url,expected", GOOGLE_CASES)
def test_google_rewrite(url, expected):
    assert rewrite_google_url(url) == expected


def test_local_path_resolution(tmp_path):
    f = tmp_path / "payload.bin"
    f.write_bytes(b"\x00\x01span")
    ds = resolve_source_to_stream(str(f))
    assert ds.name == "payload.bin"
    assert ds.stream.read() == b"\x00\x01span"
    assert resolve_source_to_path(str(f)) == f


def test_spark_source_path():
    assert spark_source_path("s3a://bucket/key.parquet") == (
        "s3a://bucket/key.parquet"
    )
    assert spark_source_path("/data/x.parquet") == "/data/x.parquet"
    assert classify_source("https://h/x")[0] == "http"
    with pytest.raises(ValueError):
        spark_source_path("https://example.com/a.parquet")
