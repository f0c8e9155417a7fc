"""HTML split-page view parity (reference html.py:898-966): body-level
byte equality with HTMLOutputStyle.SPLIT_PAGE over multi-page fuzz docs,
including the data:-URI page-image shortcut and the no-page-image
fallback."""

import pytest

from docling_core_spark.fixtures import gen_spans
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.html import export_to_html, html_body

from ref_oracle import build_ref_doc, install_reference, needs_reference

_DATA_URI = (
    "data:image/png;base64,"
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4nGNg"
    "YGBgAAAABQABh6FO1AAAAABJRU5ErkJggg=="
)


def _ref_split(rdoc):
    install_reference()
    from docling_core.transforms.serializer.html import (
        HTMLDocSerializer,
        HTMLOutputStyle,
        HTMLParams,
    )

    ser = HTMLDocSerializer(
        doc=rdoc,
        params=HTMLParams(output_style=HTMLOutputStyle.SPLIT_PAGE),
    )
    return html_body(ser.serialize().text)


@needs_reference
def test_split_page_parity_fuzz():
    for did in ["shape:minimal"] + [f"doc-{i:08d}" for i in range(16)]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        mine = html_body(export_to_html(doc, html_output_style="split_page"))
        assert mine == _ref_split(rdoc), did


@needs_reference
def test_split_page_with_page_images():
    """Pages carrying data: URI images render the <img> shortcut row."""
    install_reference()
    from docling_core.types.doc.base import Size
    from docling_core.types.doc.document import ImageRef

    did = "doc-00000005"
    spans = gen_spans(did)
    doc, _ = parse_span_doc(did, spans)
    rdoc = build_ref_doc(spans)
    for page in doc["pages"].values():
        page["media_ref"] = _DATA_URI
    for p in rdoc.pages.values():
        p.image = ImageRef(
            mimetype="image/png", dpi=72,
            size=Size(width=1, height=1), uri=_DATA_URI,
        )
    mine = html_body(export_to_html(doc, html_output_style="split_page"))
    ref = _ref_split(rdoc)
    assert mine == ref
    assert f'<img src="{_DATA_URI}">' in mine


@needs_reference
def test_single_column_unchanged():
    did = "doc-00000002"
    doc, _ = parse_span_doc(did, gen_spans(did))
    rdoc = build_ref_doc(gen_spans(did))
    assert html_body(export_to_html(doc)) == html_body(rdoc.export_to_html())
