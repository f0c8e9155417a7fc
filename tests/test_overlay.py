"""Item-tree overlay visualizer (ops/overlay.py) — reference parity of
the flatten, dual-dialect SVG equality, and arrow-chain semantics.

Reference surfaces mirrored: transforms/visualizer/layout_visualizer.py
(per-item rect + label tag) and reading_order_visualizer.py (red arrows
between consecutive provenance centers, chain reset on a new page)."""

import duckdb
import pytest

from docling_core_spark.ops.overlay import (
    LABEL_COLORS,
    _px,
    doc_items_df,
    flatten_doc_id,
    gen_layout_doctags,
    overlay_svg_sql,
)
from ref_oracle import install_reference, needs_reference

install_reference()


def _ref_flatten(did: str):
    from docling_core.types.doc.document import (
        ContentLayer,
        DocItem,
        DoclingDocument,
        DocTagsDocument,
    )

    s = gen_layout_doctags(did)
    dt = DocTagsDocument.from_multipage_doctags_and_images(s, None)
    doc = DoclingDocument.load_from_doctags(dt, document_name=did)
    rows, rank = [], 0
    layers = {ContentLayer.BODY, ContentLayer.FURNITURE}
    for elem, _ in doc.iterate_items(included_content_layers=layers):
        if not isinstance(elem, DocItem):
            continue
        for prov in elem.prov:
            page = doc.pages[prov.page_no]
            tlo = prov.bbox.to_top_left_origin(
                page_height=page.size.height
            )
            n = tlo.normalized(page.size)
            ys = sorted((_px(n.t), _px(n.b)))
            rows.append({
                "doc_id": did, "page_no": int(prov.page_no),
                "rank": rank, "layer": elem.content_layer.value,
                "label": elem.label.value,
                "x0": _px(n.l), "y0": ys[0],
                "x1": _px(n.r), "y1": ys[1],
            })
            rank += 1
    return rows


@needs_reference
@pytest.mark.parametrize("i", [0, 1, 7, 23, 99])
def test_flatten_matches_reference(i):
    did = f"lay-{i:08d}"
    assert flatten_doc_id(did) == _ref_flatten(did)


@needs_reference
def test_label_colors_match_reference():
    """LABEL_COLORS must be the reference color map (labels.py:45-69)
    for every label the corpus generator can emit."""
    from docling_core.types.doc import DocItemLabel

    for lbl, rgb in LABEL_COLORS.items():
        assert DocItemLabel.get_color(DocItemLabel(lbl)) == rgb, lbl


def test_dual_dialect_svg_identical(spark):
    items = doc_items_df(spark, 30, partitions=4)
    pdf = items.toPandas()
    items.createOrReplaceTempView("t_overlay_items")
    sp = (
        spark.sql(overlay_svg_sql("t_overlay_items", "spark"))
        .toPandas()
        .sort_values(["doc_id", "page_no"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("g_items", pdf)
    du = (
        con.execute(overlay_svg_sql("g_items", "duck"))
        .df()
        .sort_values(["doc_id", "page_no"])
        .reset_index(drop=True)
    )
    du.columns = sp.columns
    assert len(sp) > 0
    assert (sp == du).all().all()


def test_arrow_chain_resets_per_page(spark):
    """n_arrows per page = items-on-page - 1 (the chain resets on a new
    page, reading_order_visualizer.py:96-99, and every corpus item has
    exactly one provenance)."""
    items = doc_items_df(spark, 12, partitions=2)
    items.createOrReplaceTempView("t_overlay_items2")
    out = spark.sql(
        overlay_svg_sql("t_overlay_items2", "spark")
    ).collect()
    assert out
    for r in out:
        assert r["n_arrows"] == r["n_items"] - 1


@needs_reference
@pytest.mark.parametrize("i", [0, 3, 11, 42])
def test_table_cells_flatten_matches_reference(i):
    import sys

    sys.path.insert(0, "tools")
    from gen_goldens import table_cells_gold_for_doc

    from docling_core_spark.ops.overlay import flatten_table_cells_doc_id

    did = f"lay-{i:08d}"
    r = table_cells_gold_for_doc(did)
    assert r["errs"] == []
    assert flatten_table_cells_doc_id(did) == r["rows"]


def test_table_cells_dual_dialect(spark):
    from docling_core_spark.ops.overlay import (
        table_cells_df,
        table_cells_svg_sql,
    )

    cells = table_cells_df(spark, 60, partitions=4)
    pdf = cells.toPandas()
    assert len(pdf) > 0
    cells.createOrReplaceTempView("t_cells")
    sp = (
        spark.sql(table_cells_svg_sql("t_cells", "spark"))
        .toPandas()
        .sort_values(["doc_id", "page_no"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("g_cells", pdf)
    du = (
        con.execute(table_cells_svg_sql("g_cells", "duck"))
        .df()
        .sort_values(["doc_id", "page_no"])
        .reset_index(drop=True)
    )
    du.columns = sp.columns
    assert (sp == du).all().all()


def test_cell_grid_spans_tile_exactly():
    """Cells with row/col spans merge to the union of their base
    rectangles, and a full row of unit cells tiles the table width."""
    from docling_core_spark.ops.overlay import cell_px_bbox

    tb = (100, 200, 401, 287)  # deliberately non-divisible extents
    nr, nc = 3, 4
    # full-row tiling: adjacent cells share boundaries, row covers table
    xs = [cell_px_bbox(tb, nr, nc, 0, 1, c, c + 1) for c in range(nc)]
    assert xs[0][0] == tb[0] and xs[-1][2] == tb[2]
    for a, b in zip(xs, xs[1:]):
        assert a[2] == b[0]
    # a 2x2 span equals the union of its four unit cells
    span = cell_px_bbox(tb, nr, nc, 1, 3, 1, 3)
    u = [cell_px_bbox(tb, nr, nc, r, r + 1, c, c + 1)
         for r in (1, 2) for c in (1, 2)]
    assert span == (min(x[0] for x in u), min(x[1] for x in u),
                    max(x[2] for x in u), max(x[3] for x in u))


def test_svg_shape(spark):
    """The SVG body contains one rect+text per item and one line+polygon
    per arrow, nothing else (deterministic construction)."""
    items = doc_items_df(spark, 3, partitions=1)
    pdf = items.toPandas()
    con = duckdb.connect()
    con.register("g_items3", pdf)
    sql = overlay_svg_sql("g_items3", "duck").replace(
        "md5(svg) AS svg_md5", "svg AS svg_md5"
    )
    for r in con.execute(sql).fetchall():
        doc_id, page_no, n_items, n_arrows, _len, svg = r
        assert svg.count("<rect ") == n_items
        assert svg.count("<text ") == n_items
        assert svg.count("<line ") == n_arrows
        assert svg.count("<polygon ") == n_arrows
        assert svg.startswith("<svg ") and svg.endswith("</svg>")
