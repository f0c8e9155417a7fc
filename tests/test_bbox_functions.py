"""BoundingBox algebra: SQL templates vs the reference implementation.

Each template is evaluated through DuckDB on randomized boxes and
compared against the reference BoundingBox methods; the Spark-vs-DuckDB
equivalence of the same templates is covered by the driver-gate query
(`bbox_ops`, tests/test_corpus_ops-style check in check_correctness).
"""

import random

import duckdb
import pytest

from docling_core_spark.functions import bbox as B

from ref_oracle import needs_reference, ref_modules


def _rand_boxes(n=200, seed=7):
    rng = random.Random(seed)
    for _ in range(n):
        ax0, ay0 = rng.uniform(0, 400), rng.uniform(0, 400)
        bx0, by0 = rng.uniform(0, 400), rng.uniform(0, 400)
        yield (
            (ax0, ay0, ax0 + rng.uniform(0, 200), ay0 + rng.uniform(0, 200)),
            (bx0, by0, bx0 + rng.uniform(0, 200), by0 + rng.uniform(0, 200)),
        )


def _sql_eval(con, template, a, b):
    expr = B.fmt(template)
    names = ["a_l", "a_t", "a_r", "a_b", "b_l", "b_t", "b_r", "b_b"]
    vals = list(a) + list(b)
    cols = ", ".join(
        f"CAST({v!r} AS DOUBLE) AS {n}" for v, n in zip(vals, names)
    )
    val = con.execute(f"SELECT {expr} FROM (SELECT {cols})").fetchone()[0]
    return float(val) if not isinstance(val, bool) else val


@needs_reference
@pytest.mark.parametrize(
    "template,ref_fn",
    [
        (B.AREA, lambda A, a, b: A(*a).area()),
        (
            B.INTERSECTION_AREA,
            lambda A, a, b: A(*a).intersection_area_with(A(*b)),
        ),
        (B.IOU, lambda A, a, b: A(*a).intersection_over_union(A(*b))),
        (
            B.INTERSECTION_OVER_SELF,
            lambda A, a, b: A(*a).intersection_over_self(A(*b)),
        ),
        (B.UNION_AREA, lambda A, a, b: A(*a).union_area_with(A(*b))),
        (B.X_OVERLAP, lambda A, a, b: A(*a).x_overlap_with(A(*b))),
        (B.Y_OVERLAP, lambda A, a, b: A(*a).y_overlap_with(A(*b))),
        (B.X_UNION, lambda A, a, b: A(*a).x_union_with(A(*b))),
        (B.Y_UNION, lambda A, a, b: A(*a).y_union_with(A(*b))),
        (B.OVERLAPS, lambda A, a, b: A(*a).overlaps(A(*b))),
        (B.OVERLAPS_H, lambda A, a, b: A(*a).overlaps_horizontally(A(*b))),
        (B.OVERLAPS_V, lambda A, a, b: A(*a).overlaps_vertically(A(*b))),
        (B.IS_LEFT_OF, lambda A, a, b: A(*a).is_left_of(A(*b))),
        (
            B.IS_STRICTLY_LEFT_OF,
            lambda A, a, b: A(*a).is_strictly_left_of(A(*b)),
        ),
        (B.IS_ABOVE, lambda A, a, b: A(*a).is_above(A(*b))),
        (B.IS_STRICTLY_ABOVE, lambda A, a, b: A(*a).is_strictly_above(A(*b))),
    ],
    ids=lambda x: (x[:24] if isinstance(x, str) else ""),
)
def test_template_matches_reference(template, ref_fn):
    R = ref_modules()

    def mk(l, t, r, b):
        return R.BoundingBox(l=l, t=t, r=r, b=b)

    con = duckdb.connect()
    for a, b in _rand_boxes():
        got = _sql_eval(con, template, a, b)
        want = ref_fn(mk, a, b)
        if isinstance(want, bool):
            assert bool(got) == want, (template, a, b)
        else:
            assert got == pytest.approx(float(want), abs=1e-9), (
                template, a, b,
            )


@needs_reference
def test_origin_flip_matches_reference():
    R = ref_modules()
    con = duckdb.connect()
    ph = 792.0
    for a, _ in _rand_boxes(50):
        box = R.BoundingBox(l=a[0], t=a[1], r=a[2], b=a[3])
        flipped = box.to_bottom_left_origin(ph)
        got_t = con.execute(
            f"SELECT {B.fmt(B.TO_BOTTOM_LEFT_T, ph=str(ph))} FROM"
            f" (SELECT CAST({a[0]!r} AS DOUBLE) AS a_l,"
            f" CAST({a[1]!r} AS DOUBLE) AS a_t,"
            f" CAST({a[2]!r} AS DOUBLE) AS a_r,"
            f" CAST({a[3]!r} AS DOUBLE) AS a_b)"
        ).fetchone()[0]
        assert float(got_t) == pytest.approx(flipped.t)


def test_bbox_ops_query_runs(spark):
    df = B.q_bbox_ops(spark, "/root/testdata/sf0.001")
    rows = df.limit(5).collect()
    assert len(rows) == 5
    assert {"area_a", "iou", "overlaps"} <= set(df.columns)
