"""Vendored semantic text splitter with the `semchunk` public contract.

The reference's HybridChunker delegates its oversized-plain-text branch
to the external `semchunk` library (hybrid_chunker.py:19-27, 231-243):
`semchunk.chunkerify(tokenizer, chunk_size).chunk(text)`. That package
is absent in this sandbox (for the reference too), so this module
vendors the ALGORITHM semchunk publishes (github.com/umarbutler/
semchunk, MIT — re-implemented from the published description, not
copied):

  1. split the text with the most semantically meaningful splitter
     present: a run of newlines/carriage returns, else a run of tabs,
     else a whitespace run, else the first present non-whitespace
     splitter in a fixed preference order (sentence terminators,
     clause separators, sentence interrupters, word joiners), else
     individual characters. Among runs of one class the code takes
     plain `max()`: the lexicographically greatest run, not the
     longest (a CR LF pair beats three LFs);
  2. recursively split any piece that exceeds the token budget;
  3. greedily merge adjacent pieces back together while the merged
     chunk stays within the budget (joined by the splitter so a merged
     chunk reconstructs its original text);
  4. re-attach a non-whitespace splitter to the end of the chunk it
     terminated (barring the final chunk) when doing so stays within
     the budget.

It is injected IDENTICALLY on both sides of the correctness gate — the
engine's HybridChunker plain-text branch (chunk/hybrid.py) and, through
a `semchunk`-shaped stub module, the reference's own HybridChunker in
tools/gen_goldens.py / tests/ref_oracle.py — the same shared-injection
pattern as the vendored WordPiece tokenizer (chunk/wordpiece.py). So
the golden's reference-derivation covers the whole chunker pipeline
(split windows, budget arithmetic, metadata merge); byte-equality with
the UPSTREAM semchunk package is not claimed (it cannot be checked in
this sandbox) and the recursive-split rule itself is shared, not
independently oracled. Upstream's single-space tie-breaking heuristics
(preferring whitespace adjacent to sentence punctuation) are simplified
to the largest-run rule; this only affects where an oversized sentence
is cut, never the budget contract.
"""

from __future__ import annotations

import re
from typing import Callable, List

# Non-whitespace splitter preference order (semchunk's published
# hierarchy: sentence terminators, clause separators, sentence
# interrupters, word joiners).
_NON_WS_SPLITTERS = (
    ".", "?", "!", "*",
    ";", ",", "(", ")", "[", "]", "“", "”", "‘",
    "’", "'", '"', "`",
    ":", "—", "…",
    "/", "\\", "–", "&", "-",
)

_NL_RUN = re.compile(r"[\r\n]+")
_TAB_RUN = re.compile(r"\t+")
_WS_RUN = re.compile(r"\s+")


def _split_text(text: str):
    """(splitter, splitter_is_whitespace, splits) — most semantically
    meaningful splitter present in `text`. Within a run class the
    splitter is the lexicographically greatest run (plain `max()`),
    not the longest: a CR LF pair is chosen over three LFs."""
    if "\n" in text or "\r" in text:
        splitter = max(_NL_RUN.findall(text))
        return splitter, True, text.split(splitter)
    if "\t" in text:
        splitter = max(_TAB_RUN.findall(text))
        return splitter, True, text.split(splitter)
    if _WS_RUN.search(text):
        splitter = max(_WS_RUN.findall(text))
        return splitter, True, text.split(splitter)
    for splitter in _NON_WS_SPLITTERS:
        if splitter in text:
            return splitter, False, text.split(splitter)
    return "", True, list(text)


def semsplit_chunk(
    text: str,
    chunk_size: int,
    token_counter: Callable[[str], int],
    _depth: int = 0,
) -> List[str]:
    """Split `text` into chunks of at most `chunk_size` tokens.

    A non-whitespace splitter that no longer fits the chunk it
    terminated is dropped, not carried into the next chunk: under a
    character counter `semsplit_chunk("aaaa.bbbb", 4, len)` returns
    `['aaaa', 'bbbb']`. A character that is neither whitespace nor in
    the splitter set always survives, in order."""
    splitter, ws, splits = _split_text(text)
    join = splitter if ws else ""
    out: List[str] = []
    cur = ""

    def flush():
        nonlocal cur
        if cur:
            out.append(cur)
            cur = ""

    n = len(splits)
    for i, piece in enumerate(splits):
        # re-attach a non-whitespace splitter to the piece it
        # terminated (barring the very last piece)
        if not ws and i < n - 1:
            attached = piece + splitter
        else:
            attached = piece
        if token_counter(attached) > chunk_size:
            flush()
            if not splitter:
                # a single character: nothing finer to split into, so
                # it goes out over budget instead of recursing forever
                out.append(piece)
                continue
            out.extend(
                semsplit_chunk(piece, chunk_size, token_counter,
                               _depth + 1)
            )
            if not ws and i < n - 1 and out:
                # the splitter itself terminates the last sub-chunk if
                # it still fits
                tail = out[-1] + splitter
                if token_counter(tail) <= chunk_size:
                    out[-1] = tail
            continue
        cand = f"{cur}{join}{attached}" if cur else attached
        if token_counter(cand) <= chunk_size:
            cur = cand
        else:
            flush()
            cur = attached
    flush()
    if _depth == 0:
        out = [c for c in (p.strip() if ws else p for p in out) if c]
    return out


class _Chunker:
    """The object `chunkerify` returns (semchunk's public surface)."""

    def __init__(self, counter: Callable[[str], int], chunk_size: int):
        self._counter = counter
        self._chunk_size = chunk_size

    def chunk(self, text: str) -> List[str]:
        return semsplit_chunk(text, self._chunk_size, self._counter)

    def __call__(self, text: str) -> List[str]:
        return self.chunk(text)


def chunkerify(tokenizer_or_counter, chunk_size: int) -> _Chunker:
    """semchunk.chunkerify-shaped constructor: accepts a token-counter
    callable or a tokenizer object exposing encode()/tokenize()."""
    if callable(tokenizer_or_counter) and not hasattr(
        tokenizer_or_counter, "encode"
    ):
        counter = tokenizer_or_counter
    elif hasattr(tokenizer_or_counter, "encode"):
        counter = lambda t: len(tokenizer_or_counter.encode(t))  # noqa: E731
    elif hasattr(tokenizer_or_counter, "tokenize"):
        counter = lambda t: len(tokenizer_or_counter.tokenize(t))  # noqa: E731
    else:
        raise TypeError(
            "chunkerify needs a token counter or tokenizer, got "
            f"{type(tokenizer_or_counter).__name__}"
        )
    return _Chunker(counter, chunk_size)
