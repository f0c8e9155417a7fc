"""Item-tree overlay visualizer re-expressed as deterministic SVG.

The reference draws two per-page overlays over the document item tree
with PIL:

  - LayoutVisualizer (transforms/visualizer/layout_visualizer.py:39-220):
    iterate_items over the content layers, one rectangle per DocItem
    provenance bbox in top-left origin, filled/outlined with the label's
    RGB from DocItemLabel.get_color (labels.py:43-70, alpha 70 fill /
    255 outline), plus a "<LABEL_NAME> (conf)" text tag anchored at the
    rect's top-left (layout_visualizer.py:95-119; confidence is the
    _TLCluster default 1.0 for items built from provenance).
  - ReadingOrderVisualizer (reading_order_visualizer.py:29-143): red
    width-2 arrows between consecutive provenance bbox CENTERS in
    iterate order, arrowhead a length-20 / half-width-10 triangle
    computed from the normalized shaft direction with the +0.01 length
    regularizer (reading_order_visualizer.py:43-70); the chain resets
    whenever a provenance lands on a NEW page (page_no > prev_page,
    reading_order_visualizer.py:96-99).

PIL is absent in this environment (for the reference too), so — exactly
like pages.render_svg_sql for the page-cell render — the engine emits
the same geometry as deterministic SVG text and the gate compares
digests. Both visualizers' geometry goes into ONE overlay document per
(doc, page): first the layout layer (rects + label tags in iterate
order), then the reading-order layer (arrows in iterate order). The
canvas is the 500x500 DocTags loc grid: pages parsed from doctags
without images have size 1x1 and bboxes loc/500 (document.py:3602-3606),
so the visualizers' normalize-then-scale-by-image-size step
(reading_order_visualizer.py:115-121, round to int pixels) recovers the
original integer loc coordinates at a 500px canvas; rect coords are the
same quantization of the layout visualizer's float pixel geometry.

Correctness: the per-item flattening (doc_id, page_no, rank, layer,
label, x0/y0/x1/y1) is generated by BOTH the engine's parse_doctags +
iterate_items chain and the reference's own load_from_doctags +
iterate_items chain in tools/gen_goldens.py, asserted equal doc-by-doc,
and the reference-derived table is committed as goldens/<sf>/
doc_items.parquet. The gate then runs the SAME dual-dialect SVG
construction on both sides: Spark over the engine's distributed
flatten, DuckDB over the reference-derived golden — so a divergence in
either the item tree, the reading order, the provenance geometry, or
the SVG assembly fails the md5 row.

100 TB story: the flatten is one Arrow-batched mapInPandas stage
(per-doc work, no shuffle); the SVG assembly is one groupBy
(doc_id, page_no) over narrow int columns — a fine-grained, naturally
uniform key (a page holds bounded items) — plus one window
lag() partitioned by the same doc_id key for the arrow chain. Only
(doc_id, page_no, n_items, n_arrows, svg_len, svg_md5) leave the agg;
10^12 pages never materialize their SVG bodies on the driver.
"""

from __future__ import annotations

import random
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..artifacts import Memo
from ..fixtures import _seed, _words
from ..model import doc as D
from ..model import labels as L
from ..pages import _fmt2_sql

# reference DocItemLabel.get_color (labels.py:45-69), restricted to the
# labels the layout corpus generator can emit
LABEL_COLORS = {
    "title": (255, 153, 153),
    "section_header": (255, 153, 153),
    "text": (255, 255, 153),
    "footnote": (200, 200, 255),
    "page_header": (204, 255, 204),
    "page_footer": (204, 255, 204),
    "code": (125, 125, 125),
    "formula": (192, 192, 192),
    "picture": (255, 204, 164),
    "caption": (255, 204, 153),
    "checkbox_selected": (255, 182, 193),
    "checkbox_unselected": (255, 182, 193),
    "table": (255, 204, 204),
    "list_item": (153, 153, 255),
}

_CANVAS = 500  # the DocTags loc quantization grid

ITEM_SCHEMA = (
    "doc_id string, page_no bigint, rank bigint, layer string,"
    " label string, x0 bigint, y0 bigint, x1 bigint, y1 bigint"
)

_VIS_LAYERS = frozenset({L.LAYER_BODY, L.LAYER_FURNITURE})


# ---------------------------------------------------------------------------
# deterministic loc-bearing doctags corpus
# ---------------------------------------------------------------------------
# The span fixtures (fixtures.gen_spans) carry no geometry, so the
# overlay corpus is its own deterministic generator: per doc 1-3 pages,
# per page a top-to-bottom flow of loc-tagged items from the subset both
# parsers handle identically (asserted at golden-generation time).

_FLOW_KINDS = [
    # (tag, min_h, max_h, weight)
    ("text", 24, 60, 5),
    ("section_header_level_1", 18, 26, 2),
    ("section_header_level_2", 16, 22, 1),
    ("footnote", 12, 18, 1),
    ("code", 30, 70, 1),
    ("formula", 14, 20, 1),
    ("checkbox_selected", 10, 14, 1),
    ("checkbox_unselected", 10, 14, 1),
    ("picture", 60, 120, 2),
    # pseudo-kinds with custom emission (lists exercise group
    # traversal in the flatten; otsl exercises TableItem + caption
    # provenance)
    ("list", 40, 80, 2),
    ("otsl", 40, 70, 1),
]
_WEIGHTED = [k for k in _FLOW_KINDS for _ in range(k[3])]


def _tag(tag: str, bbox, inner: str) -> str:
    l, t, r, b = bbox
    locs = f"<loc_{l}><loc_{t}><loc_{r}><loc_{b}>"
    return f"<{tag}>{locs}{inner}</{tag}>"


def gen_layout_doctags(doc_id: str) -> str:
    """Deterministic multi-page doctags with integer <loc_*> geometry
    (seeded by doc_id like fixtures.gen_spans)."""
    rng = random.Random(_seed("layout:" + doc_id))
    parts = ["<doctag>"]
    fig = 0
    n_pages = rng.randint(1, 3)
    for p in range(n_pages):
        if p:
            parts.append("<page_break>")
        if rng.random() < 0.7:
            parts.append(_tag("page_header", (30, 8, 470, 20),
                              f"head {doc_id}"))
        y = 30
        if p == 0:
            h = rng.randint(20, 30)
            parts.append(_tag("title", (60, y, 440, y + h),
                              _words(rng, 2, 5).title()))
            y += h + rng.randint(6, 14)
        n_items = rng.randint(3, 7)
        for _ in range(n_items):
            tag, lo, hi, _w = _WEIGHTED[rng.randrange(len(_WEIGHTED))]
            h = rng.randint(lo, hi)
            if y + h > 460:
                break
            left = 30 + rng.randint(0, 12)
            right = 470 - rng.randint(0, 12)
            bbox = (left, y, right, y + h)
            if tag == "picture":
                fig += 1
                inner = ""
                if rng.random() < 0.6:
                    cb = (left + 10, y + h - 12, right - 10, y + h - 2)
                    inner = _tag(
                        "caption", cb,
                        f"Figure {fig}: {_words(rng, 3, 6)}",
                    )
                parts.append(_tag("picture", bbox, inner))
            elif tag == "list":
                # group wrapper carries no loc; each list_item does.
                # NOTE: the reference attaches list-item bboxes ONLY
                # when a page image exists (document.py:3963 —
                # `extract_bounding_box(...) if image else None`), so
                # in this imageless configuration list items carry no
                # provenance and contribute NO overlay rows on either
                # side; the corpus keeps them because the flatten must
                # SKIP prov-less items inside groups exactly like the
                # reference's iterate (parity-asserted at golden
                # generation)
                wrap = ("unordered_list" if rng.random() < 0.5
                        else "ordered_list")
                n_li = rng.randint(2, 4)
                lh = max(8, h // n_li - 2)
                items = []
                ly = y
                for _li in range(n_li):
                    items.append(_tag(
                        "list_item",
                        (left + 14, ly, right, ly + lh),
                        _words(rng, 2, 6),
                    ))
                    ly += lh + 2
                parts.append(f"<{wrap}>{''.join(items)}</{wrap}>")
            elif tag == "otsl":
                # simple fcel-only grid (the xcel-span re-encoding is a
                # documented reference instability — irrelevant here,
                # the corpus is parsed once, but kept out regardless)
                cells = "".join(
                    "<fcel>" + _words(rng, 1, 2) for _ in range(3)
                ) + "<nl>" + "".join(
                    "<fcel>" + _words(rng, 1, 2) for _ in range(3)
                ) + "<nl>"
                inner = cells
                if rng.random() < 0.5:
                    cb = (left + 10, y + h - 10, right - 10, y + h)
                    inner += _tag("caption", cb,
                                  f"Table: {_words(rng, 2, 5)}")
                parts.append(_tag("otsl", bbox, inner))
            elif tag.startswith("section_header"):
                parts.append(_tag(tag, bbox, _words(rng, 2, 5).title()))
            elif tag == "code":
                parts.append(_tag(
                    tag, bbox,
                    f"def f_{rng.randint(0, 99)}():"
                    f" return {rng.randint(0, 9)}",
                ))
            else:
                parts.append(_tag(tag, bbox, _words(rng, 3, 12)))
            y += h + rng.randint(4, 12)
        if rng.random() < 0.7:
            parts.append(_tag("page_footer", (30, 480, 470, 492),
                              f"page {p + 1}"))
    parts.append("</doctag>")
    return "".join(parts)


def _px(v: float) -> int:
    """Visualizer pixel quantization: round(normalized * canvas)
    (reading_order_visualizer.py:117-120; pages are 1x1 for imageless
    doctags so `normalized` is the raw loc/500 value)."""
    import math

    return int(math.floor(v * _CANVAS + 0.5))


def flatten_items(doc: dict) -> List[dict]:
    """Engine-side flatten: iterate_items over body+furniture (the
    visualizers' layer set), DocItems with provenance only, one row per
    provenance entry in iterate order (reading_order_visualizer.py:
    84-99 walks exactly this sequence)."""
    rows: List[dict] = []
    rank = 0
    for item, _lvl in D.iterate_items(
        doc, included_content_layers=_VIS_LAYERS
    ):
        for p in item.get("prov") or []:
            ys = sorted((_px(p["t"]), _px(p["b"])))
            rows.append({
                "page_no": int(p["page_no"]),
                "rank": rank,
                "layer": item.get("content_layer") or L.LAYER_BODY,
                "label": item["label"],
                "x0": _px(p["l"]),
                "y0": ys[0],
                "x1": _px(p["r"]),
                "y1": ys[1],
            })
            rank += 1
    return rows


def flatten_doc_id(doc_id: str) -> List[dict]:
    """gen + parse + flatten one doc (pure; shared by the distributed
    stage, tools/gen_goldens.py and tests)."""
    from ..parse.doctags import parse_doctags

    doc = parse_doctags(gen_layout_doctags(doc_id), name=doc_id)
    return [{"doc_id": doc_id, **r} for r in flatten_items(doc)]


def layout_doc_ids(n: int) -> List[str]:
    return [f"lay-{i:08d}" for i in range(n)]


# Per-(app, n_docs) memo of the parsed flattens: the two overlay gate
# rows and best-of-2 bench attempts would otherwise re-run the Python
# doctags parse over the whole corpus per call.
_MEMO = Memo("overlay")


def _flatten_df(spark: SparkSession, tag: str, n_docs: int,
                partitions: int, flatten, schema: str) -> DataFrame:
    """Distributed flatten: spark.range -> one Arrow stage per batch of
    ids (embarrassingly parallel, zero shuffle); memoized per app+size."""
    cols = [c.split()[0] for c in schema.split(",")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[dict] = []
            for i in pdf["id"]:
                out.extend(flatten(f"lay-{int(i):08d}"))
            yield pd.DataFrame(out, columns=cols)

    return _MEMO.fetch(
        spark, tag, n_docs,
        build=lambda: spark.range(n_docs)
        .repartition(partitions)
        .mapInPandas(gen, schema=schema),
    )


def doc_items_df(spark: SparkSession, n_docs: int,
                 partitions: int = 32) -> DataFrame:
    return _flatten_df(spark, "items", n_docs, partitions, flatten_doc_id,
                       ITEM_SCHEMA)


# ---------------------------------------------------------------------------
# dual-dialect overlay SVG
# ---------------------------------------------------------------------------

_SVG_HDR = (
    f'<svg xmlns="http://www.w3.org/2000/svg"'
    f' width="{_CANVAS}" height="{_CANVAS}">'
)


def _color_case(alpha: int, col: str = "label") -> str:
    """CASE mapping a label to its reference rgba() string
    (labels.py:45-69; alpha 70 fill / 255 outline,
    layout_visualizer.py:84-88)."""
    whens = "".join(
        f" WHEN '{lbl}' THEN 'rgba({r},{g},{b},{alpha})'"
        for lbl, (r, g, b) in sorted(LABEL_COLORS.items())
    )
    return f"CASE {col}{whens} ELSE 'rgba(0,0,0,{alpha})' END"


def _ord_agg(col: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            "array_join(transform(array_sort(collect_list("
            f"struct(rank, {col}))), x -> x.{col}), '')"
        )
    return f"string_agg({col}, '' ORDER BY rank)"


def overlay_svg_sql(src: str, dialect: str = "spark") -> str:
    """Overlay SVG digest per (doc_id, page_no) over a flattened items
    table (ITEM_SCHEMA). Identical text in both dialects."""
    f2 = lambda e: _fmt2_sql(e, dialect)  # noqa: E731
    cat = "||" if dialect == "duck" else None

    def concat(*pieces: str) -> str:
        return "concat(" + ", ".join(pieces) + ")"

    # layout layer: rect + label tag, integer pixel coords
    # (layout_visualizer.py:89-119; conf is the default 1.0)
    rect = concat(
        "'<rect x=\"'", "CAST(x0 AS STRING)" if dialect == "spark"
        else "x0::VARCHAR",
        "'\" y=\"'", "CAST(y0 AS STRING)" if dialect == "spark"
        else "y0::VARCHAR",
        "'\" width=\"'", "CAST(x1 - x0 AS STRING)" if dialect == "spark"
        else "(x1 - x0)::VARCHAR",
        "'\" height=\"'", "CAST(y1 - y0 AS STRING)" if dialect == "spark"
        else "(y1 - y0)::VARCHAR",
        "'\" fill=\"'", _color_case(70),
        "'\" stroke=\"'", _color_case(255),
        "'\"/>'",
    )
    lbl = concat(
        "'<text x=\"'",
        "CAST(x0 AS STRING)" if dialect == "spark" else "x0::VARCHAR",
        "'\" y=\"'",
        "CAST(y0 AS STRING)" if dialect == "spark" else "y0::VARCHAR",
        "'\">'", "upper(label)", "' (1.00)</text>'",
    )
    # reading-order layer: shaft + arrowhead with the reference's
    # 20/10/+0.01 construction (reading_order_visualizer.py:43-70);
    # chain resets on a new page (line 96-99: page_no > prev_page; the
    # corpus generator emits non-decreasing page numbers so the reset
    # rule is exactly "page changed")
    shaft = concat(
        "'<line x1=\"'", f2("pcx"), "'\" y1=\"'", f2("pcy"),
        "'\" x2=\"'", f2("cx"), "'\" y2=\"'", f2("cy"),
        "'\" stroke=\"red\" stroke-width=\"2\"/>'",
    )
    # the arrowhead base y-column is aliased by_ (BY is reserved)
    head = concat(
        "'<polygon points=\"'",
        f2("cx"), "','", f2("cy"), "' '",
        f2("bx - uy * 10"), "','", f2("by_ + ux * 10"), "' '",
        f2("bx + uy * 10"), "','", f2("by_ - ux * 10"),
        "'\" fill=\"red\"/>'",
    )
    cnt = ("CAST(count(*) AS BIGINT)" if dialect == "spark"
           else "COUNT(*)::BIGINT")
    slen = ("CAST(length(svg) AS BIGINT)" if dialect == "spark"
            else "length(svg)::BIGINT")
    narr = ("CAST(sum(CASE WHEN arrow <> '' THEN 1 ELSE 0 END)"
            " AS BIGINT)" if dialect == "spark"
            else "SUM(CASE WHEN arrow <> '' THEN 1 ELSE 0 END)::BIGINT")
    return f"""
        WITH centers AS (
            SELECT doc_id, page_no, rank, label, x0, y0, x1, y1,
                   (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy
            FROM {src}
        ),
        chains AS (
            SELECT *,
                   lag(page_no) OVER w AS prev_page,
                   lag(cx) OVER w AS pcx,
                   lag(cy) OVER w AS pcy
            FROM centers
            WINDOW w AS (PARTITION BY doc_id ORDER BY rank)
        ),
        geo AS (
            SELECT *, cx - pcx AS dx, cy - pcy AS dy
            FROM chains
            WHERE prev_page IS NOT NULL AND page_no = prev_page
        ),
        geo2 AS (
            SELECT *, sqrt(dx * dx + dy * dy) + 0.01 AS ln FROM geo
        ),
        geo3 AS (
            SELECT *, dx / ln AS ux, dy / ln AS uy FROM geo2
        ),
        geo4 AS (
            SELECT *, cx - ux * 20 AS bx, cy - uy * 20 AS by_ FROM geo3
        ),
        arrows AS (
            SELECT doc_id, page_no, rank,
                   {concat(shaft, head)} AS arrow
            FROM geo4
        ),
        pieces AS (
            SELECT c.doc_id, c.page_no, c.rank,
                   {concat(rect, lbl)} AS block,
                   coalesce(a.arrow, '') AS arrow
            FROM centers c
            LEFT JOIN arrows a
              ON a.doc_id = c.doc_id AND a.rank = c.rank
        ),
        pages AS (
            SELECT doc_id, page_no,
                   concat('{_SVG_HDR}',
                          {_ord_agg("block", dialect)},
                          {_ord_agg("arrow", dialect)},
                          '</svg>') AS svg,
                   {cnt} AS n_items,
                   {narr} AS n_arrows
            FROM pieces GROUP BY doc_id, page_no
        )
        SELECT doc_id, page_no, n_items, n_arrows,
               {slen} AS svg_len, md5(svg) AS svg_md5
        FROM pages
    """


def q_doc_render_overlay(spark: SparkSession, sf_dir: str,
                         n_docs: int) -> DataFrame:
    items = doc_items_df(spark, n_docs)
    items.createOrReplaceTempView("doc_items_src")
    return spark.sql(overlay_svg_sql("doc_items_src", "spark"))


# ---------------------------------------------------------------------------
# table-cells overlay (reference TableVisualizer re-expression)
# ---------------------------------------------------------------------------
# The reference's TableVisualizer (transforms/visualizer/
# table_visualizer.py:32-117) draws one translucent red rectangle per
# TableData cell that carries a bbox, for every single-provenance
# TableItem in iterate order (multi-prov tables are skipped with an
# error log, :115-117). Imageless doctags give cells NO bboxes (only
# the table item has one), so — like the deterministic 500px canvas
# above — the re-expression derives each cell's rectangle from the
# REFERENCE-parsed grid itself: the table's provenance bbox in pixel
# space is partitioned by integer row/column boundaries
# (boundary k = floor(k * extent / n)), and a cell covers
# [start_offset, end_offset) in both axes, so row/col spans merge
# exactly. The grid SHAPE (num_rows/num_cols and every cell's
# offsets/spans, in table_cells order) comes from each side's own OTSL
# parser — the parity content — while the boundary arithmetic is this
# shared function (the semsplit/WordPiece injection pattern).

TABLE_CELL_SCHEMA = (
    "doc_id string, page_no bigint, t_rank bigint, cell_index bigint,"
    " x0 bigint, y0 bigint, x1 bigint, y1 bigint"
)


def cell_px_bbox(tb, n_rows: int, n_cols: int, sr: int, er: int,
                 sc: int, ec: int):
    """Integer cell rectangle inside the table's pixel bbox `tb` =
    (x0, y0, x1, y1); offsets follow the TableData convention
    (start inclusive, end exclusive)."""
    tx0, ty0, tx1, ty1 = tb
    w, h = tx1 - tx0, ty1 - ty0

    def xb(k):
        return tx0 + (k * w) // max(n_cols, 1)

    def yb(k):
        return ty0 + (k * h) // max(n_rows, 1)

    return (xb(sc), yb(sr), xb(ec), yb(er))


def flatten_table_cells(doc: dict) -> List[dict]:
    """One row per cell of every single-prov TableItem in iterate
    order (table_visualizer.py:88-117 routing), cells in table_cells
    order."""
    rows: List[dict] = []
    t_rank = 0
    for item, _lvl in D.iterate_items(
        doc, included_content_layers=_VIS_LAYERS
    ):
        if item.get("kind") != "tables" and item.get("label") != "table":
            continue
        prov = item.get("prov") or []
        if len(prov) != 1:
            continue  # multi-prov tables unsupported by the reference
        p = prov[0]
        ys = sorted((_px(p["t"]), _px(p["b"])))
        tb = (_px(p["l"]), ys[0], _px(p["r"]), ys[1])
        data = item.get("data") or {}
        nr, nc = data.get("num_rows", 0), data.get("num_cols", 0)
        for ci, cell in enumerate(data.get("table_cells") or []):
            x0, y0, x1, y1 = cell_px_bbox(
                tb, nr, nc,
                cell["start_row_offset_idx"], cell["end_row_offset_idx"],
                cell["start_col_offset_idx"], cell["end_col_offset_idx"],
            )
            rows.append({
                "page_no": int(p["page_no"]), "t_rank": t_rank,
                "cell_index": ci,
                "x0": x0, "y0": y0, "x1": x1, "y1": y1,
            })
        t_rank += 1
    return rows


def flatten_table_cells_doc_id(doc_id: str) -> List[dict]:
    from ..parse.doctags import parse_doctags

    doc = parse_doctags(gen_layout_doctags(doc_id), name=doc_id)
    return [{"doc_id": doc_id, **r} for r in flatten_table_cells(doc)]


def table_cells_df(spark: SparkSession, n_docs: int,
                   partitions: int = 32) -> DataFrame:
    return _flatten_df(spark, "cells", n_docs, partitions,
                       flatten_table_cells_doc_id, TABLE_CELL_SCHEMA)


def table_cells_svg_sql(src: str, dialect: str = "spark") -> str:
    """Per-page cell-overlay SVG digest. Colors mirror the reference's
    literals verbatim, including its out-of-range 256 red component
    (table_visualizer.py:51,58)."""

    def s(col):
        return (f"CAST({col} AS STRING)" if dialect == "spark"
                else f"({col})::VARCHAR")

    rect = (
        "concat('<rect x=\"', " + s("x0") + ", '\" y=\"', " + s("y0")
        + ", '\" width=\"', " + s("x1 - x0")
        + ", '\" height=\"', " + s("y1 - y0")
        + ", '\" fill=\"rgba(256,0,0,32)\""
        " stroke=\"rgba(256,0,0,128)\"/>')"
    )
    if dialect == "spark":
        agg = (
            "array_join(transform(array_sort(collect_list("
            "struct(t_rank, cell_index, rect))), x -> x.rect), '')"
        )
    else:
        agg = "string_agg(rect, '' ORDER BY t_rank, cell_index)"
    cnt = ("CAST(count(*) AS BIGINT)" if dialect == "spark"
           else "COUNT(*)::BIGINT")
    ntab = ("CAST(count(DISTINCT t_rank) AS BIGINT)" if dialect == "spark"
            else "COUNT(DISTINCT t_rank)::BIGINT")
    slen = ("CAST(length(svg) AS BIGINT)" if dialect == "spark"
            else "length(svg)::BIGINT")
    return f"""
        WITH pieces AS (
            SELECT doc_id, page_no, t_rank, cell_index, {rect} AS rect
            FROM {src}
        ),
        pages AS (
            SELECT doc_id, page_no,
                   concat('{_SVG_HDR}', {agg}, '</svg>') AS svg,
                   {ntab} AS n_tables,
                   {cnt} AS n_cells
            FROM pieces GROUP BY doc_id, page_no
        )
        SELECT doc_id, page_no, n_tables, n_cells,
               {slen} AS svg_len, md5(svg) AS svg_md5
        FROM pages
    """


def q_doc_table_cells_overlay(spark: SparkSession, sf_dir: str,
                              n_docs: int) -> DataFrame:
    cells = table_cells_df(spark, n_docs)
    cells.createOrReplaceTempView("doc_table_cells_src")
    return spark.sql(table_cells_svg_sql("doc_table_cells_src", "spark"))
