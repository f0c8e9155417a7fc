"""Property-based contracts for the vendored semantic splitter
(chunk/semsplit.py) and the overlay cell grid (ops/overlay.py) —
both are shared-injected into reference-derived goldens, so their
invariants carry the weight of the 503/503 hybrid twin and the
table-cell overlay."""

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_core_spark.chunk.semsplit import _split_text, semsplit_chunk
from docling_core_spark.ops.overlay import cell_px_bbox

_WORDS = st.lists(
    st.text(alphabet="abcdefg.,;?!-", min_size=1, max_size=8),
    min_size=1, max_size=60,
)


def _count(t: str) -> int:
    return max(len(t.split()), 1)


@settings(max_examples=200, deadline=None)
@given(_WORDS, st.integers(min_value=1, max_value=12))
def test_budget_contract(words, budget):
    """Every emitted chunk fits the budget (unless a single
    unsplittable unit exceeds it at the character level, which the
    word-counter cannot see past)."""
    text = " ".join(words)
    out = semsplit_chunk(text, budget, _count)
    for piece in out:
        assert piece == piece.strip() and piece != ""
        # the only budget escape is a single character (deepest
        # recursion level cannot split further)
        assert _count(piece) <= budget or len(piece) == 1


@settings(max_examples=200, deadline=None)
@given(_WORDS, st.integers(min_value=1, max_value=12))
def test_content_preserved(words, budget):
    """No token is lost or invented: the multiset of non-whitespace
    characters is preserved across the split."""
    text = " ".join(words)
    out = semsplit_chunk(text, budget, _count)

    def bag(s):
        return sorted(c for c in s if not c.isspace())

    assert bag("".join(out)) == bag(text)


def test_over_budget_single_characters_terminate():
    """A counter that prices every string above the budget (e.g. one
    adding a special token) leaves single characters over budget: they
    are emitted as they are, nothing recurses forever or goes missing."""
    def counter(s):
        return len(s) + 1

    for text in ("abcdef", "héllo wörld", "x"):
        out = semsplit_chunk(text, 1, counter)
        assert "".join(out) == text.replace(" ", "")


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="ab.\n\t ?", min_size=1, max_size=80))
def test_split_text_reconstructs(text):
    """_split_text's (splitter, splits) must reconstruct the input."""
    splitter, ws, splits = _split_text(text)
    if splitter:
        assert splitter.join(splits) == text
    else:
        assert "".join(splits) == text


def test_split_text_takes_greatest_run_not_longest():
    """The splitter is plain max() over the runs (documented in
    _split_text): the lexicographically greatest, not the longest."""
    assert _split_text("a\r\nb\n\n\nc")[0] == "\r\n"


@settings(max_examples=200, deadline=None)
@given(
    st.tuples(
        st.integers(0, 400), st.integers(0, 400),
        st.integers(1, 99), st.integers(1, 99),
    ),
    st.integers(1, 8), st.integers(1, 8),
)
def test_cell_grid_tiles(tb0, nr, nc):
    """Unit cells tile the table bbox exactly: adjacent cells share
    boundaries, the first/last touch the table edges, and every cell
    is within the table."""
    x0, y0, w, h = tb0
    tb = (x0, y0, x0 + w, y0 + h)
    for r in range(nr):
        for c in range(nc):
            cx0, cy0, cx1, cy1 = cell_px_bbox(tb, nr, nc, r, r + 1,
                                              c, c + 1)
            assert tb[0] <= cx0 <= cx1 <= tb[2]
            assert tb[1] <= cy0 <= cy1 <= tb[3]
            if c > 0:
                prev = cell_px_bbox(tb, nr, nc, r, r + 1, c - 1, c)
                assert prev[2] == cx0
            if r > 0:
                above = cell_px_bbox(tb, nr, nc, r - 1, r, c, c + 1)
                assert above[3] == cy0
    full = cell_px_bbox(tb, nr, nc, 0, nr, 0, nc)
    assert full == tb
