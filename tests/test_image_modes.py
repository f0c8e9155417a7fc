"""ImageRefMode parity: markdown/HTML picture serialization in
placeholder / embedded / referenced modes must byte-match the reference
(markdown.py:329-374, html.py:403-445) on the same span streams.

The engine carries media_ref URI strings and never image bytes; the
reference in this sandbox has PIL stubbed (Image.open -> None), so both
sides exercise exactly the same no-bytes fallback paths: embedded
inlines data: URIs and error-comments everything else, referenced
emits the URI (url-quoted in HTML)."""

import pytest

from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.common import SerParams
from docling_core_spark.serialize.html import export_to_html, html_body
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import build_ref_doc, install_reference, needs_reference

_DATA_URI = (
    "data:image/png;base64,"
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4nGNg"
    "YGBgAAAABQABh6FO1AAAAABJRU5ErkJggg=="
)


def _mk(kind, text="", media_ref=""):
    return {"kind": kind, "text": text, "media_ref": media_ref}


def _spans():
    out = [
        _mk("title", "Image Modes"),
        _mk("picture", "", _DATA_URI),
        _mk("caption", "Figure 1: embedded data URI"),
        _mk("text", "between"),
        _mk("picture", "", "img://case/2"),
        _mk("caption", "Figure 2: opaque scheme ref"),
        _mk("chart", "", _DATA_URI),
        _mk("picture", "", ""),  # no image at all
        _mk("text", "after"),
    ]
    for i, s in enumerate(out):
        s["offset"] = i
    return out


@pytest.fixture(scope="module")
def docs():
    spans = _spans()
    doc, _ = parse_span_doc("img-modes", spans)
    rdoc = build_ref_doc(spans, name="img-modes")
    return doc, rdoc


MODES = ["placeholder", "embedded", "referenced"]


@needs_reference
@pytest.mark.parametrize("mode", MODES)
def test_markdown_image_mode(docs, mode):
    install_reference()
    from docling_core.types.doc.base import ImageRefMode

    doc, rdoc = docs
    mine = serialize_markdown(doc, SerParams(image_mode=mode)).text
    ref = rdoc.export_to_markdown(image_mode=ImageRefMode(mode))
    assert mine == ref, mode


@needs_reference
@pytest.mark.parametrize("mode", MODES)
def test_html_image_mode(docs, mode):
    install_reference()
    from docling_core.types.doc.base import ImageRefMode

    doc, rdoc = docs
    mine = html_body(export_to_html(doc, image_mode=mode))
    ref = html_body(rdoc.export_to_html(image_mode=ImageRefMode(mode)))
    assert mine == ref, mode


@needs_reference
def test_fuzz_corpus_image_modes():
    """Image modes over the deterministic fuzz corpus (pictures with
    img:// refs and charts): full-doc parity in every mode."""
    install_reference()
    from docling_core.types.doc.base import ImageRefMode

    from docling_core_spark.fixtures import gen_spans

    for did in ["shape:minimal"] + [f"doc-{i:08d}" for i in range(8)]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        for mode in MODES:
            mine = serialize_markdown(doc, SerParams(image_mode=mode)).text
            ref = rdoc.export_to_markdown(image_mode=ImageRefMode(mode))
            assert mine == ref, (did, mode)
            mine_h = html_body(export_to_html(doc, image_mode=mode))
            ref_h = html_body(rdoc.export_to_html(image_mode=ImageRefMode(mode)))
            assert mine_h == ref_h, (did, mode)
