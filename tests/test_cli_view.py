"""CLI viewer: renders a Docling JSON file identically to the
reference's view pipeline (load_from_json -> export_to_html with
embedded images), plus the extra terminal formats."""

import json
import subprocess
import sys

import pytest

from docling_core_spark.cli.view import render, view
from docling_core_spark.fixtures import gen_spans
from docling_core_spark.model.json_io import to_reference_json
from docling_core_spark.parse.spans import parse_span_doc

from ref_oracle import install_reference, needs_reference

DOC_ID = "doc-00000003"


@pytest.fixture()
def json_file(tmp_path):
    doc, _ = parse_span_doc(DOC_ID, gen_spans(DOC_ID))
    p = tmp_path / "doc.json"
    p.write_text(json.dumps(to_reference_json(doc)))
    return p


@needs_reference
def test_view_html_matches_reference_chain(json_file, tmp_path):
    """Same bytes the reference viewer would write: its chain is
    load_from_json -> export_to_html(image_mode=EMBEDDED)."""
    install_reference()
    from docling_core.types.doc.base import ImageRefMode
    from docling_core.types.doc.document import DoclingDocument

    out = tmp_path / "out.html"
    view(str(json_file), str(out), "html")
    rdoc = DoclingDocument.load_from_json(json_file)
    assert out.read_text() == rdoc.export_to_html(
        image_mode=ImageRefMode.EMBEDDED
    )


def test_view_formats(json_file, tmp_path):
    doc, _ = parse_span_doc(DOC_ID, gen_spans(DOC_ID))
    for fmt in ("markdown", "doctags", "etree"):
        out = tmp_path / f"out.{fmt}"
        view(str(json_file), str(out), fmt)
        assert out.read_text() == render(doc, fmt)


def test_cli_entrypoint_stdout(json_file):
    proc = subprocess.run(
        [sys.executable, "-m", "docling_core_spark.cli.view",
         str(json_file), "-o", "-", "--format", "markdown"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    doc, _ = parse_span_doc(DOC_ID, gen_spans(DOC_ID))
    assert proc.stdout.rstrip("\n") == render(doc, "markdown").rstrip("\n")
