"""Page-cell layer parity: our relational ops vs the reference's
SegmentedPdfPage object methods on identical synthetic cells."""

import duckdb
import pytest

import docling_core_spark.pages as P

from ref_oracle import install_reference, needs_reference

SF_DIR = "/root/testdata/sf0.001"


def _duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    con.execute(
        f"CREATE VIEW pages_cells AS {P.cells_synth_sql('duck')}"
    )
    return con


def _ref_page(cells):
    """Build a reference SegmentedPdfPage from cell rows."""
    install_reference()
    from docling_core.types.doc.page import (
        BoundingRectangle,
        PdfPageBoundaryType,
        PdfPageGeometry,
        SegmentedPdfPage,
        TextCell,
    )
    from docling_core.types.doc.base import BoundingBox, CoordOrigin

    def rect(r):
        return BoundingRectangle(
            r_x0=r["r_x0"], r_y0=r["r_y0"], r_x1=r["r_x1"], r_y1=r["r_y1"],
            r_x2=r["r_x2"], r_y2=r["r_y2"], r_x3=r["r_x3"], r_y3=r["r_y3"],
            coord_origin=CoordOrigin.BOTTOMLEFT,
        )

    bbox = BoundingBox(
        l=0, b=0, r=612, t=792, coord_origin=CoordOrigin.BOTTOMLEFT
    )
    geom = PdfPageGeometry(
        angle=0.0,
        rect=BoundingRectangle.from_bounding_box(bbox),
        boundary_type=PdfPageBoundaryType.CROP_BOX,
        art_bbox=bbox, bleed_bbox=bbox, crop_bbox=bbox,
        media_bbox=bbox, trim_bbox=bbox,
    )
    return SegmentedPdfPage(
        dimension=geom,
        textline_cells=[
            TextCell(
                index=r["cell_index"], rect=rect(r), text=r["text"],
                orig=r["orig"], from_ocr=bool(r["from_ocr"]),
                confidence=r["confidence"],
            )
            for r in cells
        ],
        char_cells=[],
        word_cells=[],
    )


@pytest.fixture(scope="module")
def pages():
    """First few synthetic pages as (page_id -> cell rows)."""
    con = _duck()
    rows = con.execute(
        "SELECT * FROM pages_cells WHERE page_id < 5 ORDER BY page_id,"
        " cell_index"
    ).fetchall()
    cols = [d[0] for d in con.execute(
        "SELECT * FROM pages_cells LIMIT 0"
    ).description]
    by_page = {}
    for r in rows:
        d = dict(zip(cols, r))
        by_page.setdefault(d["page_id"], []).append(d)
    return by_page


@needs_reference
def test_cells_in_bbox_matches_reference(pages):
    install_reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin
    from docling_core.types.doc.page import TextCellUnit

    con = _duck()
    box = dict(l=0, t=792, r=300, b=650)
    got = con.execute(P.sql_page_cells_in_bbox()).fetchall()
    got_by_page = {}
    cols = [d[0] for d in con.description]
    for r in got:
        d = dict(zip(cols, r))
        got_by_page.setdefault(d["page_id"], set()).add(d["cell_index"])

    for page_id, cells in pages.items():
        ref = _ref_page(cells)
        want = {
            c.index
            for c in ref.get_cells_in_bbox(
                TextCellUnit.LINE,
                BoundingBox(coord_origin=CoordOrigin.BOTTOMLEFT, **box),
                ios=0.8,
            )
        }
        assert got_by_page.get(page_id, set()) == want, page_id


@needs_reference
def test_crop_text_matches_reference(pages):
    install_reference()
    from docling_core.types.doc.base import BoundingBox, CoordOrigin
    from docling_core.types.doc.page import TextCellUnit

    con = _duck()
    got = dict(con.execute(P.sql_page_crop_text()).fetchall())
    box = BoundingBox(
        l=0, t=713, r=500, b=600, coord_origin=CoordOrigin.BOTTOMLEFT
    )
    for page_id, cells in pages.items():
        ref = _ref_page(cells)
        want = ref.crop_text(TextCellUnit.LINE, box)
        assert got.get(page_id, "") == want, page_id


@needs_reference
def test_textlines_match_reference(pages):
    install_reference()
    from docling_core.types.doc.page import TextCellUnit

    con = _duck()
    rows = con.execute(
        P.sql_page_textlines() + " ORDER BY page_id, cell_index"
    ).fetchall()
    got_by_page = {}
    for page_id, _idx, line in rows:
        got_by_page.setdefault(page_id, []).append(line)
    for page_id, cells in pages.items():
        ref = _ref_page(cells)
        want = ref.export_to_textlines(
            TextCellUnit.LINE, add_location=True, add_fontname=False
        )
        assert got_by_page[page_id] == want, page_id


def test_spark_matches_duck(spark):
    """Spark-side views produce the same row multiset as the oracle
    (already covered by the driver gate; quick guard here)."""
    df = P.q_page_crop_text(spark, SF_DIR)
    got = {r["page_id"]: r["cropped_text"] for r in df.collect()}
    con = _duck()
    want = dict(con.execute(P.sql_page_crop_text()).fetchall())
    assert got == want


def test_render_svg_duck_matches_python_mirror(pages):
    """The SQL SVG construction == the pure-Python mirror per page."""
    con = _duck()
    sql = P.render_svg_sql(
        "pages_cells", P.UNIT_LINE, "duck", keep_svg=True,
    )
    got = {
        r[0]: r[4]
        for r in con.execute(sql).fetchall()
    }
    for page_id, cells in pages.items():
        assert got[page_id] == P.render_page_svg(cells), page_id


@needs_reference
def test_render_svg_geometry_matches_reference(pages):
    """Every polygon in the SVG carries exactly the coordinates the
    reference's _render_cells_bbox would draw: rect.to_top_left_origin(
    page_h).to_polygon() (page.py:895-927), and both dot layers anchor
    at polygon point 0 — including the reference's top-right marker,
    which also anchors at poly[0] (page.py:1062-1103)."""
    install_reference()

    for page_id, cells in pages.items():
        svg = P.render_page_svg(cells)
        ref = _ref_page(cells)
        for cell in sorted(
            ref.textline_cells, key=lambda c: c.index
        ):
            poly = cell.rect.to_top_left_origin(page_height=792).to_polygon()
            want_poly = P._SVG_POLY.format(
                P.fmt2(poly[0][0]), P.fmt2(poly[0][1]),
                P.fmt2(poly[1][0]), P.fmt2(poly[1][1]),
                P.fmt2(poly[2][0]), P.fmt2(poly[2][1]),
                P.fmt2(poly[3][0]), P.fmt2(poly[3][1]),
            )
            assert want_poly in svg, (page_id, cell.index)
            assert P._SVG_BL.format(
                P.fmt2(poly[0][0]), P.fmt2(poly[0][1])) in svg
            assert P._SVG_TR.format(
                P.fmt2(poly[0][0]), P.fmt2(poly[0][1])) in svg
        # layer order: all polygons precede all bl dots precede all tr
        assert svg.rindex("<polygon") < svg.index('fill="#FF0000"')
        assert svg.rindex('fill="#FF0000"') < svg.index('fill="#008000"')


def test_render_svg_spark_matches_duck(spark):
    """Spark dialect builds byte-identical SVG to the DuckDB dialect
    (the gate compares md5; this pins the full string at sf0.001)."""
    P.register_cells_view(spark, SF_DIR)
    got = {
        r["page_id"]: r["svg"]
        for r in spark.sql(
            P.render_svg_sql("pages_cells", P.UNIT_LINE, "spark",
                             keep_svg=True)
        ).collect()
        if r["page_id"] < 5
    }
    con = _duck()
    want = {
        r[0]: r[4]
        for r in con.execute(
            P.render_svg_sql("pages_cells", P.UNIT_LINE, "duck",
                             keep_svg=True)
        ).fetchall()
        if r[0] < 5
    }
    assert got == want and len(got) == 5


# -- tie-coordinate regression -------------------------------------------
# Spark printf rounds ties HALF_UP on the shortest decimal repr while
# DuckDB printf / Python %.2f round the binary value half-even
# (printf('%.2f', 0.125): '0.13' vs '0.12'), so the old printf-built
# SVG diverged across engines on any tie coordinate.  The quantized
# formatter (floor(x*100+0.5), pages._fmt2_sql/fmt2) must agree
# byte-for-byte in all three implementations on exactly those inputs.

_TIE_CELL = dict(
    page_id=0, unit="line", cell_index=0, text="t", orig="t",
    from_ocr=False, confidence=1.0, page_w=612.5, page_h=792.5,
    r_x0=18.125, r_x1=2.675, r_x2=0.125, r_x3=123.455,
    r_y0=699.995, r_y1=0.625, r_y2=61.875, r_y3=5.375,
    coord_origin="BOTTOMLEFT",
)


def _tie_cells_sql(dialect):
    c = _TIE_CELL
    return (
        "SELECT 0 AS page_id, 'line' AS unit, 0 AS cell_index,"
        " 't' AS text, 't' AS orig, false AS from_ocr,"
        " CAST(1.0 AS DOUBLE) AS confidence,"
        f" CAST({c['page_w']} AS DOUBLE) AS page_w,"
        f" CAST({c['page_h']} AS DOUBLE) AS page_h,"
        + ", ".join(
            f"CAST({c[f'r_x{i}']!r} AS DOUBLE) AS r_x{i},"
            f" CAST({c[f'r_y{i}']!r} AS DOUBLE) AS r_y{i}"
            for i in range(4)
        )
        + ", 'BOTTOMLEFT' AS coord_origin"
    )


def test_render_svg_tie_coords_cross_engine(spark):
    sql_spark = P.render_svg_sql(
        "tie_cells", P.UNIT_LINE, "spark", keep_svg=True,
        extra_cte=f"tie_cells AS ({_tie_cells_sql('spark')}), ",
    )
    got_spark = spark.sql(sql_spark).collect()[0]["svg"]
    con = duckdb.connect()
    sql_duck = P.render_svg_sql(
        "tie_cells", P.UNIT_LINE, "duck", keep_svg=True,
        extra_cte=f"tie_cells AS ({_tie_cells_sql('duck')}), ",
    )
    got_duck = con.execute(sql_duck).fetchone()[4]
    want = P.render_page_svg([_TIE_CELL])
    assert got_spark == want
    assert got_duck == want
    # the tie rule itself: ties go UP in every implementation
    assert P.fmt2(18.125) == "18.13" and '18.13' in want


def test_textlines_tie_coords_cross_engine(spark):
    sql_spark = (
        f"WITH tie_cells AS ({_tie_cells_sql('spark')}) "
        + P.textlines_sql("tie_cells", P.UNIT_LINE, dialect="spark")
    )
    got_spark = spark.sql(sql_spark).collect()[0]["line"]
    con = duckdb.connect()
    sql_duck = (
        f"WITH tie_cells AS ({_tie_cells_sql('duck')}) "
        + P.textlines_sql("tie_cells", P.UNIT_LINE, dialect="duck")
    )
    got_duck = con.execute(sql_duck).fetchone()[2]
    assert got_spark == got_duck
    # %06.2f zero-pad shape is preserved (width-6 minimum, no trunc)
    assert got_spark.startswith("(018.13, 700.00) (002.68, 000.63)")


def test_reading_order_crafted_semantics(spark):
    """XY-cut semantics on crafted docs: a single-cell page is one
    column with no gutter; a 3-token page is two columns where the
    XY-cut order is right and the naive y-sort provably is NOT (the
    right column's first cell shares the top row); both engines emit
    identical rows."""
    from docling_core_spark.pages import (
        reading_order_sql, sql_page_reading_order,
    )

    docs = [(1, "solo"), (2, "alpha beta gamma"),
            (3, "a b c d e f g")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    df.createOrReplaceTempView("pages_src_docs")
    out = {
        r["page_id"]: (
            r["n_cells"], r["n_cols"], r["gutter_mid"],
            r["order_ok"], r["naive_ok"],
        )
        for r in spark.sql(reading_order_sql("spark")).collect()
    }
    assert out[1] == (1, 1, None, True, True)
    assert out[2] == (3, 2, 310, True, False)
    assert out[3] == (7, 2, 310, True, False)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    orc = {
        r[0]: tuple(r[1:])
        for r in con.execute(sql_page_reading_order()).fetchall()
    }
    assert orc == out


def test_xycut_blocks_crafted_semantics(spark):
    """Depth-2 XY-cut on crafted docs: 8 tokens land in four quadrant
    blocks (2 per block) read TL->BL->TR->BR; the recovered order is
    right, the naive y-sort is not, and both engines agree. A 1-token
    doc degenerates to one column, one block."""
    from docling_core_spark.pages import (
        sql_page_xycut_blocks, xycut_blocks_sql,
    )

    docs = [(1, "solo"), (2, "a b c d e f g h")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    df.createOrReplaceTempView("pages_src_docs")
    out = {
        r["page_id"]: (
            r["n_cells"], r["n_cols"], r["n_blocks"],
            r["order_ok"], r["naive_ok"],
        )
        for r in spark.sql(xycut_blocks_sql("spark")).collect()
    }
    assert out[1] == (1, 1, 1, True, True)
    assert out[2] == (8, 2, 4, True, False)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    orc = {
        r[0]: tuple(r[1:])
        for r in con.execute(sql_page_xycut_blocks()).fetchall()
    }
    assert orc == out


def test_ocr_quality_signals_consistent(spark):
    """machine_born is exactly the synthetic page_id%5 rule inverted,
    the mean sits within [min, max] of the derived confidences, and
    low-confidence counts match a direct recount."""
    from docling_core_spark.pages import q_page_ocr_quality

    rows = q_page_ocr_quality(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r.machine_born == (r.page_id % 5 != 0)
        assert r.n_ocr == (0 if r.machine_born else r.n_cells)
        assert 500_000 <= r.min_conf_micro <= r.mean_conf_micro < 1_000_000
        assert 0 <= r.n_low_conf <= r.n_cells


def test_furniture_detection_crafted(spark):
    """The repetition rule must mark the injected header/footer lines
    as furniture and every grid line as body (detect_exact per page);
    below the support threshold, nothing is furniture."""
    from docling_core_spark.pages import (
        FURN_MIN_PAGES, q_page_furniture, sql_page_furniture,
    )

    rows = q_page_furniture(spark, SF_DIR).collect()
    assert rows and all(r.detect_exact for r in rows)
    assert all(r.n_furniture == 2 for r in rows)
    assert all(r.n_lines > 2 for r in rows)

    # a corpus smaller than the support threshold: no furniture at all
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR, source VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, ?)",
        [(i, f"w{i}a w{i}b w{i}c w{i}d", "s0")
         for i in range(FURN_MIN_PAGES - 1)],
    )
    small = con.execute(sql_page_furniture()).fetchall()
    assert small and all(r[2] == 0 for r in small)


def test_table_detect_recovers_grid(spark):
    """The detector recovers (R, C) = (2 + id%4, 2 + id%3) without
    reading the labels, row-major order always reconstructs, and
    completeness is certified exactly when the doc had >= R*C tokens."""
    from docling_core_spark.pages import q_page_table_detect

    import math

    rows = q_page_table_detect(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        tr, tc = 2 + r.page_id % 4, 2 + r.page_id % 3
        assert r.order_ok
        assert r.n_cells <= tr * tc
        # row-major fill: cols complete once the first row is, rows are
        # the ceiling, completeness iff the last row is full
        assert r.n_cols == (tc if r.n_cells >= tc else r.n_cells)
        assert r.n_rows == math.ceil(r.n_cells / r.n_cols)
        assert r.grid_complete == (r.n_cells == r.n_rows * r.n_cols)
