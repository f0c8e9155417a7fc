"""Vendored WordPiece tokenizer: a REAL subword tokenizer (greedy
longest-match-first over a checked-in vocab.txt with ## continuations,
the public BERT wordpiece semantics) so the HybridChunker's token
budget is a genuine subword budget rather than a regex word count.

The reference defaults to a HuggingFace tokenizer
(hybrid_chunker.py:43-50 -> tokenizer/huggingface.py:22-76,
`sentence-transformers/all-MiniLM-L6-v2`, a BERT WordPiece vocab).
`transformers` and any pretrained vocab download are unavailable in
this sandbox, so the vocab is TRAINED deterministically on the
engine's own fixture corpus with FREQUENCY-scored BPE-style merges
rendered in WordPiece surface form (## continuations). The WordPiece
likelihood score freq(ab)/(freq(a)*freq(b)) is deliberately NOT used:
at small vocab sizes it spends the merge budget on rare words and
leaves common words char-split (see `train_wordpiece`). The vocab is
checked in as an asset (tools/gen_vocab.py regenerates it). Tokenizer
behavior — basic tokenization, ## continuation matching, [UNK],
max_chars_per_word — mirrors the published BERT reference semantics.

Everything is pure-Python and import-light: executors load the vocab
once per process (module-level cache), never per row.

`count_tokens` memoizes per raw whitespace-separated word (a bounded
dict on the tokenizer instance), which is exact: lowercasing (final
sigma included), NFD and Mn-dropping never act across whitespace, so a
text's token count is the sum of its words' counts. The hybrid
chunker's growing windows re-count the same words many times over.
"""

from __future__ import annotations

import unicodedata
from typing import Dict, Iterable, List, Optional, Tuple

UNK_TOKEN = "[UNK]"
SPECIAL_TOKENS = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]"]
MAX_CHARS_PER_WORD = 100
# distinct words a tokenizer's count memo holds before it is cleared
COUNT_MEMO_WORDS = 65_536

def _read_vocab_text() -> str:
    """importlib.resources, not open(__file__-relative): the package
    ships to executors as a spark-submit --py-files ZIP, where plain
    open() on an in-zip path fails (tests/test_spark_submit.py)."""
    from importlib import resources

    return (
        resources.files(__package__).joinpath("assets")
        .joinpath("wordpiece_vocab.txt").read_text(encoding="utf-8")
    )


# ---------------------------------------------------------------------------
# basic tokenization (BERT uncased semantics: lowercase, strip accents,
# split punctuation into single-char tokens)
# ---------------------------------------------------------------------------

def _is_punct(ch: str) -> bool:
    cp = ord(ch)
    if (33 <= cp <= 47) or (58 <= cp <= 64) or (91 <= cp <= 96) \
            or (123 <= cp <= 126):
        return True
    return unicodedata.category(ch).startswith("P")


def basic_tokenize(text: str) -> List[str]:
    """Lowercase, strip accents (NFD, drop Mn), split whitespace, then
    split punctuation into standalone tokens."""
    text = unicodedata.normalize("NFD", text.lower())
    text = "".join(c for c in text if unicodedata.category(c) != "Mn")
    out: List[str] = []
    for word in text.split():
        cur = ""
        for ch in word:
            if _is_punct(ch):
                if cur:
                    out.append(cur)
                    cur = ""
                out.append(ch)
            else:
                cur += ch
        if cur:
            out.append(cur)
    return out


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

class WordPieceTokenizer:
    """Greedy longest-match-first WordPiece over a vocab list."""

    def __init__(self, vocab: Iterable[str]):
        self.vocab = {tok: i for i, tok in enumerate(vocab)}
        if UNK_TOKEN not in self.vocab:
            raise ValueError(f"vocab must contain {UNK_TOKEN}")
        self._word_counts: Dict[str, int] = {}

    def wordpiece(self, word: str) -> List[str]:
        if len(word) > MAX_CHARS_PER_WORD:
            return [UNK_TOKEN]
        pieces: List[str] = []
        start = 0
        while start < len(word):
            end = len(word)
            cur = None
            while start < end:
                sub = word[start:end]
                if start > 0:
                    sub = "##" + sub
                if sub in self.vocab:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                return [UNK_TOKEN]
            pieces.append(cur)
            start = end
        return pieces

    def tokenize(self, text: str) -> List[str]:
        out: List[str] = []
        for word in basic_tokenize(text):
            out.extend(self.wordpiece(word))
        return out

    def count_tokens(self, text: str) -> int:
        """len(self.tokenize(text)), summed per whitespace-split word
        through the memo (see the module docstring for why it is exact);
        a miss counts the word with `tokenize` itself."""
        memo = self._word_counts
        n = 0
        for word in text.split():
            c = memo.get(word)
            if c is None:
                if len(memo) >= COUNT_MEMO_WORDS:
                    memo.clear()
                c = memo[word] = len(self.tokenize(word))
            n += c
        return n


_DEFAULT: Optional[WordPieceTokenizer] = None


def load_default() -> WordPieceTokenizer:
    """The vendored tokenizer, loaded once per process (executors call
    this from inside the Arrow batch fn; the module-level cache keeps
    it off the per-row path)."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = WordPieceTokenizer(
            line for line in _read_vocab_text().splitlines() if line
        )
    return _DEFAULT


def wordpiece_count_tokens(text: str) -> int:
    return load_default().count_tokens(text)


# ---------------------------------------------------------------------------
# trainer (tools/gen_vocab.py drives this; deterministic)
# ---------------------------------------------------------------------------

def train_wordpiece(
    texts: Iterable[str], vocab_size: int = 1024
) -> List[str]:
    """Deterministic subword-vocab training: start from the character
    alphabet and repeatedly merge the most frequent adjacent pair (the
    public byte-pair-encoding merge rule; ties broken lexicographically
    so the result is byte-reproducible for a fixed corpus). The vocab
    keeps WordPiece surface form (## continuations) and is consumed by
    the greedy longest-match tokenizer above. Frequency scoring is
    chosen over the likelihood score freq(ab)/(freq(a)*freq(b)) because
    at small vocab sizes the likelihood rule spends the whole merge
    budget on rare words and leaves common words char-split — the
    frequency rule gives the compact-common/split-rare shape a real
    token budget needs."""
    word_counts: Dict[str, int] = {}
    for t in texts:
        for w in basic_tokenize(t):
            if len(w) <= MAX_CHARS_PER_WORD:
                word_counts[w] = word_counts.get(w, 0) + 1

    # initial split of each word into chars (## prefix for continuations)
    splits: Dict[str, List[str]] = {
        w: [w[0]] + ["##" + c for c in w[1:]] for w in word_counts
    }
    alphabet = sorted({p for parts in splits.values() for p in parts})
    vocab: List[str] = list(SPECIAL_TOKENS) + alphabet

    def strip_cont(tok: str) -> str:
        return tok[2:] if tok.startswith("##") else tok

    while len(vocab) < vocab_size:
        pair_freq: Dict[Tuple[str, str], int] = {}
        for w, parts in splits.items():
            c = word_counts[w]
            for a, b in zip(parts, parts[1:]):
                pair_freq[(a, b)] = pair_freq.get((a, b), 0) + c
        if not pair_freq:
            break
        # most frequent pair; lexicographically smallest on ties
        best = min(
            pair_freq.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        merged = best[0] + strip_cont(best[1])
        vocab.append(merged)
        for w, parts in splits.items():
            i = 0
            while i < len(parts) - 1:
                if parts[i] == best[0] and parts[i + 1] == best[1]:
                    parts[i: i + 2] = [merged]
                else:
                    i += 1
    return vocab
