"""Mutation-op parity: apply the same insert/delete/replace sequence to
our dict model and to a reference DoclingDocument built from the same
span stream, then compare exports — mirroring the reference's own
mutation golden tests (test_docling_doc.py:1505-1623).
"""

import pytest

from docling_core_spark.fixtures import gen_spans
from docling_core_spark.model import doc as D
from docling_core_spark.parse.spans import parse_span_doc
from docling_core_spark.serialize.doctags import export_to_doctags
from docling_core_spark.serialize.markdown import serialize_markdown

from ref_oracle import build_ref_doc, needs_reference

DOC_ID = "doc-00000003"


def _both():
    spans = gen_spans(DOC_ID)
    mine, _ = parse_span_doc(DOC_ID, spans)
    ref = build_ref_doc(spans, name=DOC_ID, validate=False)
    return mine, ref


def _exports_match(mine, ref):
    assert serialize_markdown(mine).text == ref.export_to_markdown()
    assert export_to_doctags(mine) == ref.export_to_doctags()


@needs_reference
def test_delete_items_matches_reference():
    mine, ref = _both()
    # delete the second text item and (with it) any descendants
    D.delete_items(mine, ["#/texts/1"])
    ref.delete_items(node_items=[ref.texts[1]])
    _exports_match(mine, ref)


@needs_reference
def test_delete_group_subtree_matches_reference():
    mine, ref = _both()
    if not mine["groups"]:
        pytest.skip("fixture has no groups")
    D.delete_items(mine, ["#/groups/0"])
    ref.delete_items(node_items=[ref.groups[0]])
    _exports_match(mine, ref)


def _ref_standalone_text(text):
    from docling_core.types.doc.document import TextItem
    from docling_core.types.doc.labels import DocItemLabel

    return TextItem(
        self_ref="#", label=DocItemLabel.TEXT, text=text, orig=text
    )


@needs_reference
@pytest.mark.parametrize("where", ["before", "after"])
def test_insert_sibling_matches_reference(where):
    mine, ref = _both()

    new_mine = D.add_text(mine, "text", f"inserted {where}",
                          parent=mine["body"])
    D.detach_from_parent(mine, new_mine)
    insert = (
        D.insert_item_before_sibling
        if where == "before"
        else D.insert_item_after_sibling
    )
    insert(mine, new_mine["self_ref"], D.resolve(mine, "#/texts/1"))

    new_ref = _ref_standalone_text(f"inserted {where}")
    if where == "before":
        ref.insert_item_before_sibling(new_item=new_ref,
                                       sibling=ref.texts[1])
    else:
        ref.insert_item_after_sibling(new_item=new_ref,
                                      sibling=ref.texts[1])
    _exports_match(mine, ref)


def test_replace_item_semantics():
    mine, _ = parse_span_doc(DOC_ID, gen_spans(DOC_ID))
    n_before = len(mine["texts"])
    first_text = D.resolve(mine, "#/texts/0")["text"]
    new = D.add_text(mine, "text", "the replacement", parent=mine["body"])
    D.detach_from_parent(mine, new)
    D.replace_item(mine, new["self_ref"], "#/texts/0")
    assert len(mine["texts"]) == n_before
    assert D.validate_tree(mine, mine["body"])
    texts = [t["text"] for t in mine["texts"]]
    assert "the replacement" in texts
    assert first_text not in texts


def test_delete_renumbers_and_keeps_tree_valid():
    mine, _ = parse_span_doc(DOC_ID, gen_spans(DOC_ID))
    D.delete_items(mine, ["#/texts/0", "#/texts/2"])
    assert D.validate_tree(mine, mine["body"])
    assert D.validate_tree(mine, mine["furniture"])
    for i, t in enumerate(mine["texts"]):
        assert t["self_ref"] == f"#/texts/{i}"
