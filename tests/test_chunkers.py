"""Chunker tests: hierarchical parity vs the reference chunker, hybrid
parity vs the reference HybridChunker (run on the engine's vendored
WordPiece tokenizer through the reference's BaseTokenizer protocol —
docs entering the semchunk plain-text branch are excluded, its split
rule lives outside docling-core), hybrid semantic invariants, and the
distributed chunking stage.
"""

import pytest

from docling_core_spark.chunk import Chunk, chunk_doc, hybrid_chunk_doc
from docling_core_spark.chunk.hierarchical import contextualize
from docling_core_spark.chunk.hybrid import (
    HybridChunkerConfig,
    regex_count_tokens,
)
from docling_core_spark.fixtures import SHAPE_IDS, gen_spans
from docling_core_spark.parse.spans import parse_span_doc

from ref_oracle import build_ref_doc, install_reference, needs_reference

DOC_IDS = list(SHAPE_IDS) + [f"doc-{i:08d}" for i in range(16)]


@needs_reference
@pytest.mark.parametrize("doc_id", DOC_IDS)
def test_hierarchical_matches_reference(doc_id):
    """(text, headings, doc_item refs) triple-equality per chunk against
    the reference HierarchicalChunker on the same span stream."""
    install_reference()
    from docling_core.transforms.chunker.hierarchical_chunker import (
        HierarchicalChunker,
    )

    spans = gen_spans(doc_id)
    mydoc, _ = parse_span_doc(doc_id, spans)
    refdoc = build_ref_doc(spans, name=doc_id)
    mine = [
        (c.text, tuple(c.headings or []), tuple(c.doc_item_refs))
        for c in chunk_doc(mydoc)
    ]
    ref = [
        (
            c.text,
            tuple(c.meta.headings or []),
            tuple(it.self_ref for it in c.meta.doc_items),
        )
        for c in HierarchicalChunker().chunk(refdoc)
    ]
    assert mine == ref


def _doc(doc_id="doc-00000003"):
    doc, _ = parse_span_doc(doc_id, gen_spans(doc_id))
    return doc


@needs_reference
@pytest.mark.parametrize("doc_id", DOC_IDS)
def test_hybrid_matches_reference(doc_id):
    """The reference's OWN HybridChunker (hybrid_chunker.py:295-323),
    fed the engine's vendored WordPiece tokenizer via the reference's
    BaseTokenizer protocol AND the vendored semantic splitter via the
    semchunk-shaped stub (ref_oracle.install_reference), must yield the
    same (text, headings, refs) chunks as the engine — for EVERY doc,
    including those that enter the oversized-plain-text branch."""
    from ref_oracle import make_ref_hybrid_chunker

    from docling_core_spark.pipeline import chunk_rows_doc

    spans = gen_spans(doc_id)
    rows = chunk_rows_doc(
        doc_id, spans, hybrid=True, max_tokens=64, with_flag=True
    )
    ck = make_ref_hybrid_chunker(max_tokens=64)
    refdoc = build_ref_doc(spans, name=doc_id)
    ref = [
        (c.text, tuple(c.meta.headings or []),
         tuple(it.self_ref for it in c.meta.doc_items))
        for c in ck.chunk(refdoc)
    ]
    mine = [
        (r["text"], tuple(r["headings"]), tuple(r["item_refs"]))
        for r in rows
    ]
    assert mine == ref


def test_hybrid_respects_budget():
    cfg = HybridChunkerConfig(max_tokens=48)
    for did in DOC_IDS[:8]:
        doc, _ = parse_span_doc(did, gen_spans(did))
        for c in hybrid_chunk_doc(doc, cfg):
            # every emitted chunk fits the contextualized budget, except
            # irreducible single units (one word/sentence over budget)
            ctx = cfg.count_tokens(contextualize(c))
            assert ctx <= cfg.max_tokens or len(c.text.split()) == 1


def test_hybrid_budget_with_regex_counter():
    """The counter is pluggable (reference allows any tokenizer,
    tokenizer/base.py:9-27): the legacy regex counter must satisfy the
    same budget contract."""
    cfg = HybridChunkerConfig(max_tokens=48, count_tokens=regex_count_tokens)
    for did in DOC_IDS[:4]:
        doc, _ = parse_span_doc(did, gen_spans(did))
        for c in hybrid_chunk_doc(doc, cfg):
            ctx = regex_count_tokens(contextualize(c))
            assert ctx <= cfg.max_tokens or len(c.text.split()) == 1


def test_hybrid_merges_peers_under_budget():
    doc = _doc()
    merged = hybrid_chunk_doc(doc, HybridChunkerConfig(max_tokens=512))
    unmerged = hybrid_chunk_doc(
        doc, HybridChunkerConfig(max_tokens=512, merge_peers=False)
    )
    assert len(merged) <= len(unmerged)
    # with a huge budget, all same-headings neighbors collapse: chunk
    # count == number of distinct contiguous heading contexts
    contexts = []
    for c in unmerged:
        if not contexts or contexts[-1] != (c.headings or []):
            contexts.append(c.headings or [])
    assert len(merged) == len(contexts)


import re as _re

_MARKER_RE = _re.compile(r"^(-|\d+\.)$")


def test_hybrid_preserves_all_text():
    """Splitting never loses content words. List markers ('-', '1.') may
    drop when a window is re-serialized per item — matching the
    reference, whose per-item markdown serialization also emits list
    items without their list-group markers
    (hybrid_chunker.py:147-171 + serializer/markdown.py:98-157)."""
    doc = _doc("doc-00000007")
    base = chunk_doc(doc)
    hybrid = hybrid_chunk_doc(doc, HybridChunkerConfig(max_tokens=24))
    base_words = [
        w for c in base for w in c.text.split() if not _MARKER_RE.match(w)
    ]
    hybrid_words = [
        w for c in hybrid for w in c.text.split() if not _MARKER_RE.match(w)
    ]
    assert sorted(base_words) == sorted(hybrid_words)


def test_semsplit_contract():
    from docling_core_spark.chunk.semsplit import semsplit_chunk

    cfg = HybridChunkerConfig(max_tokens=8)
    text = "one two three. four five six seven. eight nine ten eleven."
    pieces = semsplit_chunk(text, 8, cfg.count_tokens)
    assert all(cfg.count_tokens(p) <= 8 for p in pieces)
    assert " ".join(pieces).split() == text.split()


def test_semsplit_splitter_hierarchy():
    from docling_core_spark.chunk.semsplit import semsplit_chunk

    count = lambda t: len(t.split())  # noqa: E731
    # newline runs outrank sentence terminators
    out = semsplit_chunk("a b. c\n\nd e f g\n\nh", 4, count)
    assert out == ["a b. c", "d e f g", "h"]
    # an unsplittable long word falls through to character splitting
    out = semsplit_chunk("abcdefgh", 1, lambda t: len(t))
    assert "".join(out) == "abcdefgh"
    assert all(len(p) == 1 for p in out)


def test_semsplit_reattaches_terminators():
    from docling_core_spark.chunk.semsplit import semsplit_chunk

    count = lambda t: len(t.split())  # noqa: E731
    out = semsplit_chunk("one two three. four five six. seven", 3, count)
    assert out[0].endswith(".")
    assert " ".join(out).split() == "one two three. four five six. seven".split()


def test_headings_exceeding_budget_drop_chunk():
    doc, _ = parse_span_doc(
        "t",
        [
            {"kind": "section_header_level_1",
             "text": "a " * 100, "media_ref": "", "offset": 0},
            {"kind": "text", "text": "hello world " * 30,
             "media_ref": "", "offset": 1},
        ],
    )
    out = hybrid_chunk_doc(doc, HybridChunkerConfig(max_tokens=16))
    assert out == []  # headings alone exceed the budget -> dropped


def test_spark_chunk_stage(spark):
    from docling_core_spark.pipeline import chunk_docs, synth_docs

    docs = synth_docs(spark, 8, partitions=2)
    out = chunk_docs(docs, hybrid=True, max_tokens=64).collect()
    assert len(out) > 0
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        idxs = sorted(r["chunk_idx"] for r in rows)
        assert idxs == list(range(len(rows)))
