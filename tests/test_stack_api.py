"""Stack-coordinate API parity: iterate_items_with_stack and
get_stack_of_ref vs the reference's _iterate_items_with_stack /
_get_stack_of_refitem over the fuzz corpus (all option combinations
that differ structurally)."""

import pytest

from docling_core_spark.fixtures import SHAPE_IDS, gen_spans
from docling_core_spark.model.doc import (
    get_stack_of_ref,
    iterate_items_with_stack,
)
from docling_core_spark.parse.spans import parse_span_doc

from ref_oracle import build_ref_doc, install_reference, needs_reference

DOC_IDS = list(SHAPE_IDS) + [f"doc-{i:08d}" for i in range(20)]


def _pairs(doc, **kw):
    return [
        (it.get("label", it.get("name", "")), st)
        for it, st in iterate_items_with_stack(doc, **kw)
    ]


def _ref_pairs(rdoc, **kw):
    out = []
    for it, st in rdoc._iterate_items_with_stack(**kw):
        label = getattr(it, "label", None)
        out.append((str(label.value) if label is not None else "", list(st)))
    return out


@needs_reference
@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"with_groups": True},
        {"with_groups": True, "traverse_pictures": True},
        {"page_no": 1},
        {"with_groups": True, "page_no": 2},
    ],
    ids=["plain", "groups", "groups+pics", "page1", "groups+page2"],
)
def test_stack_iteration_matches_reference(kw):
    install_reference()
    for did in DOC_IDS:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        mine = [
            st for _it, st in iterate_items_with_stack(doc, **kw)
        ]
        ref = [list(st) for _it, st in rdoc._iterate_items_with_stack(**kw)]
        assert mine == ref, (did, kw)


@needs_reference
def test_get_stack_matches_reference():
    install_reference()
    from docling_core.types.doc.document import RefItem

    for did in DOC_IDS[:8]:
        spans = gen_spans(did)
        doc, _ = parse_span_doc(did, spans)
        rdoc = build_ref_doc(spans)
        # body root
        assert get_stack_of_ref(doc, "#/body") == (True, [])
        for arr in ("texts", "tables", "pictures", "groups"):
            for item in doc[arr]:
                ref = item["self_ref"]
                mine = get_stack_of_ref(doc, ref)
                ok, st = rdoc._get_stack_of_refitem(RefItem(cref=ref))
                assert mine == (ok, list(st)), (did, ref)


def test_stack_roundtrips_through_lookup():
    """Every yielded stack resolves back to its item via get_stack."""
    did = "doc-00000004"
    doc, _ = parse_span_doc(did, gen_spans(did))
    for item, stack in iterate_items_with_stack(doc, with_groups=True):
        ok, st = get_stack_of_ref(doc, item["self_ref"])
        if item["self_ref"] == "#/body":
            assert (ok, st) == (True, [])
        elif item.get("content_layer", "body") == "body":
            assert ok and st == stack, item["self_ref"]