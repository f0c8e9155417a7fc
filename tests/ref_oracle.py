"""Behavioral oracle: load the reference library (read-only, at
/root/reference) and build reference documents from the same span streams
our engine parses.

We import the reference AT TEST TIME ONLY to compare behavior — no
reference code ships in the engine. Heavy optional deps that the sandbox
lacks (PIL, tabulate) are stubbed:

  - PIL: images are never materialized in any test;
  - tabulate: replaced by a GitHub pipe-table emitter matching the format
    pinned by the reference's own golden files
    (test/data/doc/2206.01062.yaml.md — left-aligned, header min-padding 2);
    format parity against REAL tabulate output is covered separately by the
    golden-file tests.
"""

from __future__ import annotations

import glob
import importlib.metadata as _md
import os
import sys
import types

import pytest

REFERENCE_PATH = "/root/reference"


def needs_path(path):
    """Skip a test unless `path` (the checkout or one of its data files)
    exists; the reason names the missing path."""
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"reference missing: {path}"
    )


# every test that imports docling_core through install_reference()
needs_reference = needs_path(REFERENCE_PATH)


def ref_files(pattern, keep=lambda path: True):
    """Sorted reference files matching `pattern` (and `keep`), to
    parametrize over; when none match, one skipped case whose reason
    names the pattern's directory, not pytest's "got empty parameter
    set". Pair it with `ids=os.path.basename`."""
    files = [f for f in sorted(glob.glob(pattern)) if keep(f)]
    return files or [pytest.param(
        None, id="missing", marks=pytest.mark.skip(
            reason=f"reference missing: {os.path.dirname(pattern)}"),
    )]


_installed = False


class SemchunkNeeded(RuntimeError):
    """Legacy marker (rounds 3-4): the semchunk stub used to raise this
    when the reference HybridChunker reached its oversized-plain-text
    branch. Since round 5 the stub delegates to the vendored semantic
    splitter (docling_core_spark/chunk/semsplit.py) instead, so this is
    never raised; kept so older callers' except clauses stay valid."""


def install_reference():
    global _installed
    if _installed:
        return
    _installed = True

    _orig_version = _md.version

    def _version(name):
        if name == "docling-core":
            return "2.34.1"
        return _orig_version(name)

    _md.version = _version

    def _stub(name, **attrs):
        import importlib.machinery

        m = types.ModuleType(name)
        # pyspark.testing.utils inspects __spec__ of loaded modules
        m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
        for k, v in attrs.items():
            setattr(m, k, v)
        sys.modules[name] = m
        return m

    if "PIL" not in sys.modules:
        class _FakeImage:
            pass

        pil = _stub("PIL")
        # open() returns None -> ImageRef.pil_image is falsy ->
        # DocItem.get_image returns None (document.py:815-817), putting
        # every image-dependent path on its deterministic no-image
        # fallback — the semantics our engine (which never materializes
        # image bytes) mirrors.
        img = _stub("PIL.Image", Image=_FakeImage,
                    open=lambda *a, **k: None)
        pil.Image = img
        # page.py additionally imports drawing helpers (render-only)
        class _FakeFont:
            pass

        for name in ("ImageColor", "ImageDraw", "ImageFont"):
            setattr(pil, name, _stub(f"PIL.{name}"))
        sys.modules["PIL.ImageFont"].FreeTypeFont = _FakeFont
        sys.modules["PIL.ImageFont"].ImageFont = _FakeFont

        class _FakeDraw:
            pass

        sys.modules["PIL.ImageDraw"].ImageDraw = _FakeDraw

    if "latex2mathml" not in sys.modules:
        # html.py imports latex2mathml at module level but wraps the
        # conversion in try/except with a <pre> fallback
        # (serializer/html.py:241-271); a raising stub exercises exactly
        # that fallback path, which our HTML serializer mirrors.
        def _raise(*a, **k):
            raise RuntimeError("latex2mathml unavailable in sandbox")

        l2m = _stub("latex2mathml")
        conv = _stub("latex2mathml.converter", convert=_raise,
                     convert_to_element=_raise)
        l2m.converter = conv

    if "tabulate" not in sys.modules:
        def _tabulate(rows, headers=(), tablefmt="github", **kw):
            headers = [str(h) for h in headers]
            rows = [[str(c) for c in r] for r in rows]
            ncols = len(headers)
            widths = [
                max([len(headers[j]) + 2] + [len(r[j]) for r in rows])
                for j in range(ncols)
            ]

            def fmt(vals):
                return "| " + " | ".join(
                    v.ljust(widths[j]) for j, v in enumerate(vals)
                ) + " |"

            lines = [fmt(headers)]
            lines.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
            lines.extend(fmt(r) for r in rows)
            return "\n".join(lines)

        _stub("tabulate", tabulate=_tabulate)

    if "transformers" not in sys.modules:
        # hybrid_chunker.py imports PreTrainedTokenizerBase at module
        # level (hybrid_chunker.py:12) but only uses it for an
        # isinstance() check in its legacy-param validator
        # (hybrid_chunker.py:99-100); a dummy type keeps that check
        # vacuously false when a real BaseTokenizer is supplied.
        class _FakePreTrainedTokenizerBase:
            pass

        _stub(
            "transformers",
            PreTrainedTokenizerBase=_FakePreTrainedTokenizerBase,
        )

    if "semchunk" not in sys.modules:
        # hybrid_chunker.py hard-fails at import without semchunk
        # (hybrid_chunker.py:19-27) and calls semchunk.chunkerify()
        # inside the oversized-plain-text branch of
        # _split_using_plain_text (hybrid_chunker.py:231-243). The stub
        # delegates to the engine's vendored semantic splitter
        # (docling_core_spark/chunk/semsplit.py — the published
        # semchunk algorithm), injected identically on both sides like
        # the vendored WordPiece tokenizer, so the reference's OWN
        # HybridChunker can replay EVERY doc including the
        # oversized-text branch. (Until round 5 the stub raised
        # SemchunkNeeded and that branch was engine-snapshot-pinned.)
        def _chunkerify(tokenizer_or_counter, chunk_size, **k):
            from docling_core_spark.chunk.semsplit import chunkerify

            return chunkerify(tokenizer_or_counter, chunk_size)

        _stub("semchunk", chunkerify=_chunkerify)

    if REFERENCE_PATH not in sys.path:
        sys.path.insert(0, REFERENCE_PATH)


def make_ref_hybrid_chunker(max_tokens: int = 64):
    """The reference's OWN HybridChunker
    (transforms/chunker/hybrid_chunker.py:133-323) driven through its
    public BaseTokenizer protocol (tokenizer/base.py:9-27) by the
    engine's vendored WordPiece tokenizer — so the reference itself
    produces hybrid-chunk goldens for EVERY doc (the oversized-text
    branch runs the vendored semantic splitter through the
    semchunk-shaped stub installed by install_reference)."""
    install_reference()
    from docling_core.transforms.chunker.hybrid_chunker import (
        HybridChunker,
    )
    from docling_core.transforms.chunker.tokenizer.base import (
        BaseTokenizer,
    )

    from docling_core_spark.chunk.wordpiece import wordpiece_count_tokens

    class _WordPieceRefTokenizer(BaseTokenizer):
        max_tokens: int = 64

        def count_tokens(self, text: str) -> int:
            return wordpiece_count_tokens(text)

        def get_max_tokens(self) -> int:
            return self.max_tokens

        def get_tokenizer(self):
            # consulted only by the semchunk branch: the stub's
            # chunkerify accepts a bare token-counter callable (the
            # same vendored WordPiece count the engine budget uses)
            return wordpiece_count_tokens

    return HybridChunker(
        tokenizer=_WordPieceRefTokenizer(max_tokens=max_tokens)
    )


def ref_modules():
    install_reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin, Size
    from docling_core.types.doc.document import (
        DoclingDocument,
        DocTagsDocument,
        ImageRef,
        ProvenanceItem,
        RefItem,
    )
    from docling_core.types.doc.labels import DocItemLabel, GroupLabel

    return types.SimpleNamespace(
        DoclingDocument=DoclingDocument,
        DocTagsDocument=DocTagsDocument,
        BoundingBox=BoundingBox,
        CoordOrigin=CoordOrigin,
        Size=Size,
        ProvenanceItem=ProvenanceItem,
        RefItem=RefItem,
        ImageRef=ImageRef,
        DocItemLabel=DocItemLabel,
        GroupLabel=GroupLabel,
    )


def ref_parse_otsl(otsl: str):
    """Parse an OTSL string with the reference's own parser (via
    load_from_doctags on a one-table page) and return its TableData."""
    R = ref_modules()
    dt = R.DocTagsDocument.from_doctags_and_image_pairs(
        [f"<doctag><otsl>{otsl}</otsl></doctag>"], [None]
    )
    doc = R.DoclingDocument.load_from_doctags(dt, document_name="t")
    assert len(doc.tables) == 1
    return doc.tables[0].data


PAGE_W = 500.0
PAGE_H = 500.0


def _mk_prov(R, page_no: int, order_on_page: int, text: str):
    top = float((order_on_page * 20) % int(PAGE_H - 20))
    return R.ProvenanceItem(
        page_no=page_no,
        bbox=R.BoundingBox(
            l=10.0, t=top, r=PAGE_W - 10.0, b=top + 20.0,
            coord_origin=R.CoordOrigin.TOPLEFT,
        ),
        charspan=(0, len(text)),
    )


def build_ref_doc(spans, name="document", validate=True):
    """Build a reference DoclingDocument from a span stream, following the
    same FIXTURES.md §1 interpretation as the engine's parser — but through
    the reference's own public builder API, so tree building, normalization
    and serialization semantics are entirely the reference's."""
    R = ref_modules()
    L = R.DocItemLabel
    doc = R.DoclingDocument(name=name)
    doc.add_page(page_no=1, size=R.Size(width=PAGE_W, height=PAGE_H))

    page_no = 1
    order_on_page = 0
    stack = []
    counters = []
    last_floating = None

    def parent():
        return stack[-1] if stack else None

    for span in sorted(spans, key=lambda s: s["offset"]):
        kind = span["kind"]
        text = span.get("text") or ""
        media_ref = span.get("media_ref") or ""
        prov = _mk_prov(R, page_no, order_on_page, text)
        new_floating = None

        if kind == "title":
            doc.add_title(text=text, prov=prov, parent=parent())
        elif kind.startswith("section_header_level_"):
            doc.add_heading(
                text=text, level=min(int(kind.rsplit("_", 1)[1]), 100),
                prov=prov, parent=parent(),
            )
        elif kind in ("text", "paragraph", "footnote", "checkbox_selected",
                      "checkbox_unselected", "page_header", "page_footer"):
            from docling_core.types.doc.document import ContentLayer

            layer = (
                ContentLayer.FURNITURE
                if kind in ("page_header", "page_footer")
                else ContentLayer.BODY
            )
            doc.add_text(
                label=L(kind), text=text, prov=prov, parent=parent(),
                content_layer=layer,
            )
        elif kind == "formula":
            doc.add_text(label=L.FORMULA, text=text, prov=prov,
                         parent=parent())
        elif kind == "code":
            doc.add_code(text=text, prov=prov, parent=parent())
        elif kind == "list_item":
            p = parent()
            is_ol = bool(
                p is not None and p.label == R.GroupLabel.ORDERED_LIST
            )
            marker = ""
            if is_ol:
                counters[-1] += 1
                marker = f"{counters[-1]}."
            doc.add_list_item(
                text=text, enumerated=is_ol, marker=marker,
                prov=prov, parent=p,
            )
        elif kind == "ordered_list_open":
            stack.append(
                doc.add_group(label=R.GroupLabel.ORDERED_LIST,
                              name="ordered list", parent=parent())
            )
            counters.append(0)
        elif kind == "unordered_list_open":
            stack.append(
                doc.add_group(label=R.GroupLabel.LIST, name="list",
                              parent=parent())
            )
            counters.append(0)
        elif kind == "inline_open":
            stack.append(
                doc.add_group(label=R.GroupLabel.INLINE, name="group",
                              parent=parent())
            )
            counters.append(0)
        elif kind in ("ordered_list_close", "unordered_list_close",
                      "inline_close"):
            if stack:
                stack.pop()
                counters.pop()
        elif kind in ("picture", "chart"):
            from docling_core.types.doc.document import (
                PictureClassificationClass,
                PictureClassificationData,
            )

            annotations = []
            if kind == "chart":
                annotations.append(
                    PictureClassificationData(
                        provenance="synthetic",
                        predicted_classes=[
                            PictureClassificationClass(
                                class_name="bar_chart", confidence=1.0
                            )
                        ],
                    )
                )
            image = (
                R.ImageRef(
                    mimetype="image/png", dpi=72,
                    size=R.Size(width=64, height=64), uri=media_ref,
                )
                if media_ref
                else None
            )
            new_floating = doc.add_picture(
                annotations=annotations, image=image, prov=prov,
                parent=parent(),
            )
        elif kind == "table_otsl":
            data = ref_parse_otsl(text)
            new_floating = doc.add_table(data=data, prov=prov,
                                         parent=parent())
        elif kind == "caption":
            cap = doc.add_text(label=L.CAPTION, text=text, prov=prov,
                               parent=None)
            if last_floating is not None:
                last_floating.captions.append(cap.get_ref())
        elif kind == "key_value_region":
            from docling_core.types.doc.document import (
                GraphCell,
                GraphData,
                GraphLink,
            )
            from docling_core.types.doc.labels import (
                GraphCellLabel,
                GraphLinkLabel,
            )

            cells = []
            links = []
            cid = 0
            for pair in text.split(";"):
                if "=" not in pair:
                    continue
                k, v = pair.split("=", 1)
                cells.append(
                    GraphCell(label=GraphCellLabel.KEY, cell_id=cid,
                              text=k.strip(), orig=k.strip())
                )
                cells.append(
                    GraphCell(label=GraphCellLabel.VALUE, cell_id=cid + 1,
                              text=v.strip(), orig=v.strip())
                )
                links.append(
                    GraphLink(label=GraphLinkLabel.TO_VALUE,
                              source_cell_id=cid, target_cell_id=cid + 1)
                )
                links.append(
                    GraphLink(label=GraphLinkLabel.TO_KEY,
                              source_cell_id=cid + 1, target_cell_id=cid)
                )
                cid += 2
            doc.add_key_values(
                graph=GraphData(cells=cells, links=links), prov=prov,
                parent=parent(),
            )
        elif kind == "page_break":
            page_no += 1
            doc.add_page(page_no=page_no,
                         size=R.Size(width=PAGE_W, height=PAGE_H))
            order_on_page = -1
        order_on_page += 1
        if kind != "caption":
            last_floating = new_floating

    if validate:
        # trigger the model validators (misplaced-list normalization etc.)
        doc = R.DoclingDocument.model_validate(
            doc.model_dump(mode="json", by_alias=True)
        )
    return doc


def ref_span_seq(doc, fmt="markdown"):
    """Reference-side north-rule span sequence from the serializer spans."""
    install_reference()
    if fmt == "markdown":
        from docling_core.transforms.serializer.markdown import (
            MarkdownDocSerializer,
        )

        ser = MarkdownDocSerializer(doc=doc)
    else:
        from docling_core.transforms.serializer.doctags import (
            DocTagsDocSerializer,
        )

        ser = DocTagsDocSerializer(doc=doc)
    res = ser.serialize()
    out = []
    for i, sp in enumerate(res.spans):
        item = sp.item
        media = ""
        image = getattr(item, "image", None)
        if image is not None and image.uri is not None:
            media = str(image.uri)
        out.append(
            (
                str(item.label.value),
                getattr(item, "text", "") or "",
                media,
                i,
            )
        )
    return out
