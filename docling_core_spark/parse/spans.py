"""Span-stream interpreter: (doc_id, spans[]) -> document dict.

This is the engine's primary extraction entry point, per the driver's
input contract: an interleaved table of
``spans: array<struct<kind, text, media_ref, offset>>``.

It mirrors the semantics of the reference's DocTags ingestion
(document.py:3323-3993) with the regex tokenizer replaced by pre-structured
span interpretation (FIXTURES.md §1):

  - ``*_open`` / ``*_close`` spans delimit nested group scope
    (ordered/unordered lists, inline groups);
  - ``picture`` / ``chart`` spans carry ``media_ref``;
  - ``table_otsl`` spans carry the OTSL token string in ``text``;
  - a ``caption`` span immediately following a picture/chart/table attaches
    to it (parity: extract_caption, document.py:3370-3387);
  - a ``list_item`` outside any list scope is left misplaced and later
    wrapped by the normalization pass (parity:
    validate_misplaced_list_items, document.py:4291-4345);
  - ``page_break`` increments the page counter (document.py:593-610);
  - ``page_header`` / ``page_footer`` go to the furniture layer.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Tuple

from ..model import doc as D
from ..model import labels as L
from ..model import table as T

_SECTION_RE = re.compile(r"^section_header_level_(\d+)$")

PAGE_W = 500.0
PAGE_H = 500.0


def _prov(page_no: int, order_on_page: int, text: str) -> dict:
    """Deterministic synthetic provenance: one 20pt line per span."""
    top = float((order_on_page * 20) % int(PAGE_H - 20))
    return {
        "page_no": page_no,
        "l": 10.0,
        "t": top,
        "r": PAGE_W - 10.0,
        "b": top + 20.0,
        "coord_origin": L.COORD_TOPLEFT,
        "charspan": (0, len(text)),
    }


def parse_span_doc(
    doc_id: str,
    spans: Optional[Iterable[dict]],
    normalize: bool = True,
) -> Tuple[dict, dict]:
    """Interpret one document's span stream.

    Returns (doc, diagnostics). Spans are processed in ``offset`` order.
    Diagnostics count parse anomalies (unbalanced closes, unknown kinds,
    dangling captions) instead of raising — bad documents are data, not
    exceptions, at 10^12-doc scale.
    """
    # None and Arrow's numpy arrays of dicts (never truth-tested) alike
    spans = sorted(spans if spans is not None else (),
                   key=lambda s: s["offset"])
    doc = D.new_doc(name=str(doc_id))
    diags = {
        "unknown_kind": 0,
        "unbalanced_close": 0,
        "dangling_caption": 0,
        "bad_table": 0,
        "n_spans": len(spans),
    }

    page_no = 1
    D.add_page(doc, 1, PAGE_W, PAGE_H)
    have_pages = True
    order_on_page = 0
    stack: List[dict] = []  # open group scopes
    last_floating: Optional[dict] = None  # caption attach target

    def parent() -> Optional[dict]:
        return stack[-1] if stack else None

    for span in spans:
        kind = span["kind"]
        text = span.get("text") or ""
        media_ref = span.get("media_ref") or ""
        new_floating = None

        m = _SECTION_RE.match(kind)
        if m:
            D.add_heading(
                doc, text, level=min(int(m.group(1)), 100),
                parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "title":
            D.add_title(
                doc, text, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind in (
            L.TEXT, L.PARAGRAPH, L.FOOTNOTE, L.CHECKBOX_SELECTED,
            L.CHECKBOX_UNSELECTED, L.PAGE_HEADER, L.PAGE_FOOTER,
        ):
            D.add_text(
                doc, kind, text, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "formula":
            D.add_formula(
                doc, text, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "code":
            D.add_code(
                doc, text, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "list_item":
            # marker parity with DocTags load (document.py:3939-3979):
            # ordered lists number their items "1." "2." ..., others get ""
            p = parent()
            enumerated = bool(p and p.get("label") == L.GROUP_ORDERED_LIST)
            marker = ""
            if enumerated:
                p["_li_count"] = p.get("_li_count", 0) + 1
                marker = f"{p['_li_count']}."
            D.add_list_item(
                doc, text, enumerated=enumerated,
                marker=marker, parent=p,
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "ordered_list_open":
            stack.append(D.add_list_group(doc, ordered=True, parent=parent()))
        elif kind == "unordered_list_open":
            stack.append(D.add_list_group(doc, ordered=False, parent=parent()))
        elif kind == "inline_open":
            stack.append(D.add_inline_group(doc, parent=parent()))
        elif kind in ("ordered_list_close", "unordered_list_close",
                      "inline_close"):
            if stack:
                stack.pop()
            else:
                diags["unbalanced_close"] += 1
        elif kind in ("picture", "chart"):
            # charts are pictures + a classification annotation; the label
            # stays "picture" (parity: add_picture forces label=PICTURE,
            # document.py:2397; chart-ness comes from the annotation)
            annotations = []
            if kind == "chart":
                annotations.append(
                    {
                        "kind": "classification",
                        "provenance": "synthetic",
                        "predicted_classes": [
                            {"class_name": "bar_chart", "confidence": 1.0}
                        ],
                    }
                )
            new_floating = D.add_picture(
                doc, parent=parent(), media_ref=media_ref,
                annotations=annotations,
                prov=[_prov(page_no, order_on_page, text)],
            )
            if media_ref:
                # span-interpretation contract (FIXTURES.md §1): media
                # refs carry synthetic 64x64 px png metadata
                new_floating["media_meta"] = {
                    "mimetype": "image/png", "dpi": 72,
                    "width": 64.0, "height": 64.0,
                }
        elif kind == "table_otsl":
            try:
                data = T.parse_otsl(text)
            except Exception:
                diags["bad_table"] += 1
                data = T.new_table_data([], 0, 0)
            new_floating = D.add_table(
                doc, data, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "caption":
            # caption stays a body child; owner wiring is by ref only
            # (parity: extract_caption add_text(parent=None) +
            # fig_item.captions.append, document.py:3370-3387, 2408-2409)
            cap = D.add_text(
                doc, L.CAPTION, text, parent=doc["body"],
                prov=[_prov(page_no, order_on_page, text)],
            )
            if last_floating is not None:
                last_floating["captions"].append(cap["self_ref"])
            else:
                diags["dangling_caption"] += 1
        elif kind == "key_value_region":
            graph = parse_kv_text(text)
            D.add_key_values(
                doc, graph, parent=parent(),
                prov=[_prov(page_no, order_on_page, text)],
            )
        elif kind == "page_break":
            if not have_pages:
                D.add_page(doc, page_no, PAGE_W, PAGE_H)
                have_pages = True
            page_no += 1
            D.add_page(doc, page_no, PAGE_W, PAGE_H)
            order_on_page = -1
        else:
            diags["unknown_kind"] += 1

        order_on_page += 1
        if kind not in ("caption",):
            last_floating = new_floating

    if normalize:
        D.normalize_misplaced_list_items(doc)
    return doc, diags


def parse_kv_text(text: str) -> dict:
    """``k=v;k2=v2`` -> GraphData dict (cells + to_value links)."""
    cells: List[dict] = []
    links: List[dict] = []
    cid = 0
    for pair in text.split(";"):
        if "=" not in pair:
            continue
        k, v = pair.split("=", 1)
        key_id, val_id = cid, cid + 1
        cells.append(
            {"label": L.GRAPH_CELL_KEY, "cell_id": key_id,
             "text": k.strip(), "orig": k.strip()}
        )
        cells.append(
            {"label": L.GRAPH_CELL_VALUE, "cell_id": val_id,
             "text": v.strip(), "orig": v.strip()}
        )
        links.append(
            {"label": L.GRAPH_LINK_TO_VALUE, "source_cell_id": key_id,
             "target_cell_id": val_id}
        )
        links.append(
            {"label": L.GRAPH_LINK_TO_KEY, "source_cell_id": val_id,
             "target_cell_id": key_id}
        )
        cid += 2
    return {"cells": cells, "links": links}
