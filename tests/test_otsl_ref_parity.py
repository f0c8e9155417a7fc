"""OTSL grammar parity against the reference's own parser/exporter
(document.py:3389-3562 / 1338-1428) over randomized tables."""

import random

from docling_core_spark.fixtures import _random_otsl
from docling_core_spark.model import table as T

from ref_oracle import needs_reference, ref_parse_otsl


def _cells_key(cells):
    return sorted(
        (
            c["start_row_offset_idx"],
            c["start_col_offset_idx"],
            c["end_row_offset_idx"],
            c["end_col_offset_idx"],
            c["text"],
        )
        for c in cells
    )


@needs_reference
def test_otsl_parse_matches_reference():
    rng = random.Random(1234)
    for _ in range(25):
        otsl = _random_otsl(rng)
        mine = T.parse_otsl(otsl)
        ref = ref_parse_otsl(otsl)
        assert mine["num_rows"] == ref.num_rows
        assert mine["num_cols"] == ref.num_cols
        ref_cells = [
            {
                "start_row_offset_idx": c.start_row_offset_idx,
                "start_col_offset_idx": c.start_col_offset_idx,
                "end_row_offset_idx": c.end_row_offset_idx,
                "end_col_offset_idx": c.end_col_offset_idx,
                "text": c.text,
            }
            for c in ref.table_cells
        ]
        assert _cells_key(mine["table_cells"]) == _cells_key(ref_cells)


@needs_reference
def test_otsl_export_roundtrips_through_reference():
    """my export -> reference parse -> my export is a fixpoint."""
    rng = random.Random(99)
    for _ in range(10):
        otsl = _random_otsl(rng)
        ref = ref_parse_otsl(otsl)
        data = T.new_table_data(
            [
                T.new_cell(
                    c.text,
                    c.start_row_offset_idx,
                    c.end_row_offset_idx,
                    c.start_col_offset_idx,
                    c.end_col_offset_idx,
                    column_header=c.column_header,
                    row_header=c.row_header,
                    row_section=c.row_section,
                )
                for c in ref.table_cells
            ],
            ref.num_rows,
            ref.num_cols,
        )
        again = T.parse_otsl(T.export_otsl(data))
        assert again["num_rows"] == data["num_rows"]
        assert _cells_key(
            [c for c in again["table_cells"] if c["text"]]
        ) == _cells_key([c for c in data["table_cells"] if c["text"]])
