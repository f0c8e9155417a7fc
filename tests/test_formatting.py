"""Formatting + hyperlink post-processing parity across all formats.

Reference: Formatting (bold/italic/underline/strikethrough/script,
document.py:841-848) and AnyUrl hyperlinks applied by the serializer
post-process hooks (markdown.py:543-615, html.py)."""

import re

from docling_core_spark.model import doc as D
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.html import export_to_html
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import install_reference, needs_reference, ref_modules


def _build_pair():
    install_reference()
    R = ref_modules()
    from docling_core.types.doc.document import Formatting, Script
    from docling_core.types.doc.labels import DocItemLabel

    cases = [
        dict(bold=True), dict(italic=True), dict(underline=True),
        dict(strikethrough=True), dict(script=Script.SUB),
        dict(script=Script.SUPER), dict(bold=True, italic=True),
        dict(bold=True, strikethrough=True),
        dict(bold=True, italic=True, strikethrough=True,
             script=Script.SUPER),
    ]
    ref = R.DoclingDocument(name="fmt")
    mine = D.new_doc(name="fmt")
    for i, kw in enumerate(cases):
        ref.add_text(
            label=DocItemLabel.TEXT, text=f"styled_{i} text",
            formatting=Formatting(**kw),
        )
        mykw = {
            k: (v.value if hasattr(v, "value") else v)
            for k, v in kw.items()
        }
        D.add_text(mine, "text", f"styled_{i} text", formatting=mykw)
    links = [
        "https://example.com",             # AnyUrl adds trailing slash
        "https://example.com/x_y",
        "https://example.com?q=1",         # slash inserted before query
        "https://example.com/path?q=1#f",
    ]
    for i, url in enumerate(links):
        ref.add_text(label=DocItemLabel.TEXT, text=f"link_{i} here",
                     hyperlink=url)
        D.add_text(mine, "text", f"link_{i} here", hyperlink=url)
    ref.add_text(
        label=DocItemLabel.TEXT, text="both styled",
        formatting=Formatting(bold=True), hyperlink="https://example.com",
    )
    D.add_text(mine, "text", "both styled", formatting={"bold": True},
               hyperlink="https://example.com")
    return mine, ref


def _body(html):
    m = re.search(r"<body[^>]*>(.*)</body>", html, re.DOTALL)
    return m.group(1).strip() if m else html


@needs_reference
def test_formatting_markdown_matches_reference():
    mine, ref = _build_pair()
    assert serialize_markdown(mine).text == ref.export_to_markdown()


@needs_reference
def test_formatting_doctags_matches_reference():
    mine, ref = _build_pair()
    assert export_to_doctags(mine) == ref.export_to_doctags()


@needs_reference
def test_formatting_html_matches_reference():
    mine, ref = _build_pair()
    assert _body(export_to_html(mine)) == _body(ref.export_to_html())


def test_hyperlink_normalization():
    assert (
        D.normalize_hyperlink("https://example.com")
        == "https://example.com/"
    )
    assert (
        D.normalize_hyperlink("https://example.com?q=1")
        == "https://example.com/?q=1"
    )
    assert (
        D.normalize_hyperlink("https://example.com/a")
        == "https://example.com/a"
    )
