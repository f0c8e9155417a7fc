"""Seeded workload inputs.

Every input is a pure function of ``(seed, n)``: the same seed gives the
same rows, a different seed a different corpus. The program under test
only ever receives these rows.

* ``corpus_rows`` -- the span corpus of the per-document workloads
  (``extract``, ``chunk``, ``extract_chunk``, ``reingest``). Doc ids
  carry the seed, and ``fixtures.gen_spans`` derives each document from
  its id, so the span streams differ per seed while keeping the corpus
  shape (~28 spans, ~1k markdown chars per doc, stratified by span
  count).
* ``documents_table`` -- the ``dedup`` input: a ``documents`` table in
  the test-data schema (doc_id, text, lang, source, n_chars) with the
  test data's near-duplicate structure.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
from typing import Dict, List

# The test-data `documents` table, measured at sf0.001, sf0.01 and
# sf0.1 (500, 500 and 5000 rows): a 30-word vocabulary, 10 to 99 tokens
# per original text, ~41 % en and ~15 % each of zh/es/fr/de, source
# `src{doc_id % 20}`. Exactly 5 % of the rows are near-duplicates: the
# text of another row (about half have a higher doc id, and a few are
# near-duplicates themselves) plus the token " dup". Their shingle
# Jaccard to the original is 0.89-0.99; every other pair of distinct
# texts is at most ~0.15, so there are no borderline pairs near the
# 0.5 threshold. Exact duplicates: none at sf0.001/sf0.01, 8 of 5000
# at sf0.1 (two near-duplicates of the same row).
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
_N_SOURCES = 20
NEAR_DUP_SHARE = 0.05


def corpus_prefix(seed: int) -> str:
    return f"s{seed}"


# Span-count strata of the generator's documents (upper edges) and the
# share of each, measured over 8000 reference ids. Every seed's corpus
# is drawn with exactly these shares: its documents stay independent
# draws within a stratum, but the corpus's total work varies far less
# from seed to seed than with n unconstrained draws.
SPAN_EDGES = (10, 14, 18, 23, 29, 38, 48)
SPAN_SHARES = (0.1457, 0.1264, 0.1129, 0.1232, 0.1249, 0.1320, 0.1118, 0.1231)


def stratum_quotas(n: int) -> List[int]:
    """Docs per span-count stratum for a corpus of ``n`` (largest
    remainder rounding of ``n * SPAN_SHARES``)."""
    raw = [n * share for share in SPAN_SHARES]
    quotas = [int(r) for r in raw]
    by_remainder = sorted(range(len(raw)), key=lambda i: quotas[i] - raw[i])
    for i in by_remainder[: n - sum(quotas)]:
        quotas[i] += 1
    return quotas


def corpus_rows(seed: int, n: int) -> List[Dict]:
    """``n`` synthetic span documents whose ids carry the seed, taking
    candidate ids in order while their span-count stratum has room."""
    from docling_core_spark.fixtures import gen_spans

    prefix = corpus_prefix(seed)
    quotas = stratum_quotas(n)
    rows: List[Dict] = []
    i = 0
    while len(rows) < n:
        did = f"{prefix}-{i:08d}"
        i += 1
        spans = gen_spans(did)
        k = bisect.bisect_left(SPAN_EDGES, len(spans))
        if quotas[k]:
            quotas[k] -= 1
            rows.append({"doc_id": did, "spans": spans})
    return rows


# span kinds that carry no chunkable content: furniture, headings
# (they become chunk context, not chunks) and list/inline brackets
_NO_CHUNK_KINDS = ("title", "section_header_level_", "page_header",
                   "page_footer", "page_break")


def chunked_docs(rows: List[Dict]) -> int:
    """Docs that a chunker must turn into at least one chunk: those with
    a span of any other kind. Read from the input alone, so the check
    does not trust the code it checks."""
    return sum(
        any(not s["kind"].startswith(_NO_CHUNK_KINDS)
            and not s["kind"].endswith(("_open", "_close"))
            for s in row["spans"])
        for row in rows
    )


def documents_table(seed: int, n: int) -> List[Dict]:
    """``n`` rows of the test-data ``documents`` schema. Original texts
    first; then ``NEAR_DUP_SHARE`` of the rows, one after another, take
    the current text of another random row plus " dup" (so a copy can
    copy a copy, and two copies of one row are exact duplicates)."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    for i in rng.sample(range(n), round(n * NEAR_DUP_SHARE)):
        j = rng.randrange(n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return [
        {"doc_id": i, "text": text, "lang": rng.choice(_LANGS),
         "source": f"src{i % _N_SOURCES}", "n_chars": len(text)}
        for i, text in enumerate(texts)
    ]


def write_documents(rows: List[Dict], sf_dir: str) -> str:
    """Write ``rows`` as ``<sf_dir>/documents.parquet`` (the layout the
    corpus operators read)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    return path


def digest(rows) -> str:
    """sha256 over the canonical JSON of the rows, in order."""
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row, sort_keys=True).encode())
    return h.hexdigest()
