"""Vendored WordPiece tokenizer: BERT wordpiece semantics (greedy
longest-match-first, ## continuations, [UNK], max word length), trainer
determinism, coverage of the fixture corpus the vocab was trained on,
and exactness of the per-word count memo.
"""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from docling_core_spark.chunk import hybrid_chunk_doc, wordpiece as wp
from docling_core_spark.chunk.hybrid import HybridChunkerConfig
from docling_core_spark.chunk.wordpiece import (
    MAX_CHARS_PER_WORD,
    UNK_TOKEN,
    WordPieceTokenizer,
    basic_tokenize,
    load_default,
    train_wordpiece,
    wordpiece_count_tokens,
)
from docling_core_spark.fixtures import SHAPE_IDS, gen_spans
from docling_core_spark.parse.spans import parse_span_doc


def test_basic_tokenize_bert_semantics():
    assert basic_tokenize("Hello, World!") == ["hello", ",", "world", "!"]
    assert basic_tokenize("état Café") == ["etat", "cafe"]  # accents strip
    assert basic_tokenize("a-b c.d") == ["a", "-", "b", "c", ".", "d"]
    assert basic_tokenize("  spaced\tout\n") == ["spaced", "out"]


def test_greedy_longest_match():
    tok = WordPieceTokenizer(
        ["[UNK]", "un", "##aff", "##able", "##ab", "##le", "a"]
    )
    # classic BERT example shape: longest prefix wins at each step
    assert tok.wordpiece("unaffable") == ["un", "##aff", "##able"]
    # longest continuation wins: ##able beats ##ab + ##le
    assert tok.wordpiece("unable") == ["un", "##able"]
    assert tok.wordpiece("zzz") == [UNK_TOKEN]


def test_unk_on_overlong_word():
    tok = load_default()
    assert tok.wordpiece("a" * (MAX_CHARS_PER_WORD + 1)) == [UNK_TOKEN]


def test_default_vocab_covers_fixture_corpus():
    """Every word of the training corpus tokenizes without [UNK] (the
    alphabet covers all its characters), and common corpus words are
    single tokens — the compact-common/split-rare shape of a real
    subword vocab."""
    tok = load_default()
    ids = list(SHAPE_IDS) + [f"doc-{i:08d}" for i in range(64)]
    unk = total = 0
    for did in ids:
        for s in gen_spans(did):
            if s.get("text"):
                pieces = tok.tokenize(s["text"])
                total += len(pieces)
                unk += sum(p == UNK_TOKEN for p in pieces)
    assert total > 0 and unk == 0
    assert tok.tokenize("the") == ["the"]  # frequent word -> one token


def test_counts_are_subword_not_word():
    """A rare word costs more than one token; token count is finer than
    the regex word count for rare text."""
    tok = load_default()
    assert len(tok.wordpiece("characteristically")) > 1
    assert wordpiece_count_tokens("the") == 1


def test_trainer_deterministic_and_continuations():
    corpus = ["low lower lowest", "new newer newest", "low new"] * 5
    v1 = train_wordpiece(corpus, vocab_size=40)
    v2 = train_wordpiece(corpus, vocab_size=40)
    assert v1 == v2
    tok = WordPieceTokenizer(v1)
    for w in ("low", "lower", "newest"):
        pieces = tok.wordpiece(w)
        # pieces reassemble to the word; continuations carry ##
        assert "".join(p.lstrip("#") for p in pieces) == w
        assert all(p.startswith("##") for p in pieces[1:])


@settings(max_examples=100, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_tokenize_total_function(text):
    """Tokenizer is total and consistent with the counter on arbitrary
    unicode input."""
    tok = load_default()
    pieces = tok.tokenize(text)
    assert wordpiece_count_tokens(text) == len(pieces)
    for p in pieces:
        assert p == UNK_TOKEN or p in tok.vocab


# Characters where a per-word count could drift from the whole-text one:
# Python-only and Unicode whitespace, final/capital sigma, dotted I
# (lowercases to i + combining dot), a bare combining mark, CJK, ASCII
# and Unicode punctuation.
_MEMO_ALPHABET = list(
    " \t\n\x1c\x85\u00a0\u2000\u3000ΣσςİI\u0301\u0327"
    "中文字、。!?,.-()«»—…aAbBeé0"
) + [" \u0301", "Σ ", "a" * (MAX_CHARS_PER_WORD + 1)]
# a fullwidth word: one [UNK], though its NFKC form is several pieces
_FULLWIDTH = "".join(chr(ord(c) + 0xFEE0) for c in "characteristically")


def _fresh_tokenizer() -> WordPieceTokenizer:
    return WordPieceTokenizer(load_default().vocab)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_MEMO_ALPHABET) | st.text(max_size=3),
                max_size=40).map("".join))
@example(f"{_FULLWIDTH} characteristically")
def test_count_memo_matches_tokenize(text):
    """The memoized count equals the uncached tokenization, from an empty
    memo and from one already holding the same words; the memo is keyed
    on the raw word, never on a normalized form."""
    tok = _fresh_tokenizer()
    expected = len(tok.tokenize(text))
    assert tok.count_tokens(text) == expected
    assert tok.count_tokens(text) == expected
    assert load_default().count_tokens(text) == expected


def test_count_memo_eviction(monkeypatch):
    monkeypatch.setattr(wp, "COUNT_MEMO_WORDS", 4)
    tok = _fresh_tokenizer()
    words = ["the", "characteristically", "Σίσυφος", "a,b", "中文",
             "zzq", "the", "x" * (MAX_CHARS_PER_WORD + 1)]
    for i in range(len(words)):
        text = " ".join(words[: i + 1])
        assert tok.count_tokens(text) == len(tok.tokenize(text))
        assert len(tok._word_counts) <= 4
    # the memo belongs to its tokenizer: another vocab counts afresh
    assert tok.count_tokens("characteristically") > 1
    assert WordPieceTokenizer([UNK_TOKEN]).count_tokens(
        "characteristically") == 1


def test_count_memo_exact_on_hybrid_windows():
    """Every window the hybrid chunker counts over the fixture corpus has
    the uncached token count."""
    tok = load_default()
    seen = []

    def counting(text):
        n = wordpiece_count_tokens(text)
        seen.append((text, n))
        return n

    cfg = HybridChunkerConfig(max_tokens=64, count_tokens=counting)
    for did in list(SHAPE_IDS) + [f"doc-{i:08d}" for i in range(20)]:
        doc, _ = parse_span_doc(did, gen_spans(did))
        hybrid_chunk_doc(doc, cfg)
    assert len(seen) > 100
    assert all(n == len(tok.tokenize(text)) for text, n in seen)
