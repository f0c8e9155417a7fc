"""End-to-end document pipeline as one shuffle-free Arrow-batched stage.

    docs(doc_id, spans[]) --mapInPandas--> (span_seq, markdown, doctags,
        html, etree, validation metrics, parse diagnostics)

Design for 10^12-doc scale (SURVEY.md §4.3):
  - **No shuffle on the hot path**: every transform is per-document. The
    only optional exchange is a salted `repartition(P, pmod(xxhash64(doc_id),
    P))` to spread pathological documents; AQE handles residual skew.
  - **Arrow batches bounded** via spark.sql.execution.arrow.maxRecordsPerBatch
    so one many-span document cannot blow an executor's memory.
  - **Zero per-row Python UDFs**: a single `mapInPandas` iterator works on
    whole Arrow record batches; per-document tree work is intrinsic (the
    reference semantics are per-document DFS) and bounded by document size.
  - Validation failures are *data* (metric columns), never exceptions.
  - **No per-task re-read of the worker's zip archives**: Spark's worker
    invalidates import caches before every task, which on Python < 3.13
    re-reads pyspark.zip and the spark-core jar directories (~200 ms, as
    much as the stage's own work on a 150-doc task); `_per_doc` installs
    a stat-checked re-read once per worker (`_stat_checked_zip_dirs`).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as S
from .model import doc as D
from .parse.spans import parse_span_doc
from .serialize.common import SerParams
from .serialize.doctags import export_to_doctags
from .serialize.etree import export_to_element_tree
from .serialize.html import export_to_html
from .serialize.markdown import serialize_markdown
from .serialize.spanseq import span_seq_from_result


def process_doc(doc_id: str, spans) -> dict:
    """Parse + normalize + validate + serialize one document (pure)."""
    from .model.validate import validate_doc, violations_total

    doc, diags = parse_span_doc(doc_id, spans)
    violations = validate_doc(doc)
    tree_valid = violations["broken_tree"] == 0
    # The tree is frozen from here on: share one memoized traversal
    # context across all four serializers (each otherwise re-walks the
    # same tree for exclusions, captions, parts, and per-list sub-walks).
    from .model.doc import SharedDocContext

    shared = SharedDocContext(doc)
    md_res = serialize_markdown(doc, shared=shared)
    seq = span_seq_from_result(md_res)
    anomalies = (
        diags["unknown_kind"]
        + diags["unbalanced_close"]
        + diags["dangling_caption"]
        + diags["bad_table"]
    )
    return {
        "doc_id": doc_id,
        "span_seq": [
            {"kind": k, "text": t, "media_ref": m, "order": o}
            for (k, t, m, o) in seq
        ],
        "markdown": md_res.text,
        "doctags": export_to_doctags(doc, shared=shared),
        "html": export_to_html(doc, shared=shared),
        "etree": export_to_element_tree(doc, shared=shared),
        "n_items": sum(
            len(doc[a])
            for a in ("texts", "tables", "pictures", "groups",
                      "key_value_items", "form_items")
        ),
        "n_pages": len(doc["pages"]),
        "tree_valid": bool(tree_valid),
        "n_violations": violations_total(violations) + diags["bad_table"],
        "violations": violations,
        "n_normalized_lists": diags.get("n_normalized_lists", 0),
        "n_spans_in": diags["n_spans"],
        "parse_anomalies": anomalies,
    }


def _stat_checked_zip_dirs() -> None:
    """Spark's worker calls `importlib.invalidate_caches()` at the start
    of every task, and before 3.13 (which only drops the cached
    directory) each cached `zipimporter` then re-reads its whole archive
    directory: pyspark.zip, the spark-core jar and py4j, ~200 ms a task.
    Re-read an archive only when its (inode, size, mtime) changed since
    this importer last read it, as `FileFinder` does for directories.
    Installed once per process; the importers already cached were just
    re-read by this task's call."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls, "_stat_checked", False):
        return
    reread = cls.invalidate_caches

    def _stat(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    @functools.wraps(reread)
    def invalidate_caches(self):
        key = _stat(self.archive)
        if key is None or key != getattr(self, "_dir_stat", None):
            reread(self)
            self._dir_stat = key

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer._dir_stat = _stat(importer.archive)
    cls.invalidate_caches = invalidate_caches
    cls._stat_checked = True


def _per_doc(batches: Iterator[pd.DataFrame], rows_of,
             columns: list) -> Iterator[pd.DataFrame]:
    """The body of every per-document Arrow stage: one output frame per
    input batch, holding `rows_of(doc_id, spans)` for each document.
    Stages pass a lambda naming the per-doc function, so it is looked
    up as a module global per call and a patched-in wrapper is seen."""
    _stat_checked_zip_dirs()
    for pdf in batches:
        rows: list = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            rows.extend(rows_of(doc_id, spans))
        yield pd.DataFrame(rows, columns=columns)


def _process_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _per_doc(
        batches, lambda d, s: [process_doc(d, s)],
        [f.name for f in S.PIPELINE_OUT_SCHEMA.fields],
    )


def run_pipeline(
    docs: DataFrame,
    salt_partitions: Optional[int] = None,
) -> DataFrame:
    """The engine's hot path. `salt_partitions` spreads documents by
    hashed doc_id (north rule: salted repartitioning on doc_id hash);
    leave None to keep the input partitioning (no shuffle at all)."""
    df = docs
    if salt_partitions:
        df = df.repartition(
            salt_partitions,
            F.pmod(F.xxhash64("doc_id"), F.lit(salt_partitions)),
        )
    return df.mapInPandas(_process_batches, schema=S.PIPELINE_OUT_SCHEMA)


def roundtrip_doc(doc_id: str, spans) -> dict:
    """serialize -> parse -> re-serialize one doc (pure; shared by the
    distributed stage and tools/gen_goldens.py)."""
    import hashlib

    from .parse.doctags import parse_doctags
    from .serialize.doctags import export_to_doctags as ex

    doc, _ = parse_span_doc(doc_id, spans)
    s1 = ex(doc)
    s2 = ex(parse_doctags(s1, name=doc_id))
    s3 = ex(parse_doctags(s2, name=doc_id))
    return {
        "doc_id": doc_id,
        "reload_md5": hashlib.md5(s2.encode()).hexdigest(),
        "stable": s2 == s3,
        # chart docs are the subset the REFERENCE cannot replay
        # (load_from_doctags UnboundLocalError on <chart> without an
        # image, reference document.py:3841ff); the non-chart subset is
        # gated against a reference-derived golden
        # (pipeline_doctags_roundtrip_ref)
        "has_chart": "<chart>" in s1,
    }


def _roundtrip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _per_doc(
        batches, lambda d, s: [roundtrip_doc(d, s)],
        ["doc_id", "reload_md5", "stable", "has_chart"],
    )


def doctags_roundtrip(docs: DataFrame) -> DataFrame:
    """DocTags adapter exercised distributedly: serialize -> parse ->
    re-serialize must reach a fixed point after one (lossy, reference-
    faithful) reload. `stable` is true for all but the rare OTSL
    xcel-span docs where the REFERENCE's own re-encoding needs two
    reloads to converge (fragment-verified against the reference in
    tools/gen_goldens.py:_check_unstable_ref_faithful; 3/5043 docs at
    sf0.1, 0/503 at sf0.01)."""
    return docs.mapInPandas(
        _roundtrip_batches,
        schema="doc_id string, reload_md5 string, stable boolean,"
               " has_chart boolean",
    )


def json_roundtrip_doc(doc_id: str, spans) -> dict:
    """JSON dump -> re-ingest one doc (pure; shared by the distributed
    stage and tools/gen_goldens.py)."""
    import hashlib
    import json as _json

    from .model.json_io import from_reference_json, to_reference_json
    from .serialize.markdown import serialize_markdown as md

    doc, _ = parse_span_doc(doc_id, spans)
    payload = _json.dumps(to_reference_json(doc), sort_keys=True)
    doc2 = from_reference_json(_json.loads(payload))
    return {
        "doc_id": doc_id,
        "json_bytes": len(payload),
        "json_md5": hashlib.md5(payload.encode()).hexdigest(),
        "stable": md(doc2).text == md(doc).text,
    }


def _json_roundtrip_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    return _per_doc(
        batches, lambda d, s: [json_roundtrip_doc(d, s)],
        ["doc_id", "json_bytes", "json_md5", "stable"],
    )


def json_roundtrip(docs: DataFrame) -> DataFrame:
    """Reference-schema JSON sink+source exercised distributedly: every
    document must serialize to DoclingDocument JSON and re-ingest with
    an identical markdown export. `stable` must be uniformly true."""
    return docs.mapInPandas(
        _json_roundtrip_batches,
        schema="doc_id string, json_bytes long, json_md5 string,"
               " stable boolean",
    )


def variant_exports_doc(doc_id: str, spans) -> dict:
    """Per-doc md5s of the round-2 serializer surfaces: image-mode
    markdown/HTML, split-page HTML body, YAML, legacy dict (hash fields
    stripped — no origin means the reference derives them from a fresh
    uuid4). Pure; shared by the distributed stage and gen_goldens."""
    import hashlib
    import json as _json

    from .model.yaml_io import dump_yaml_str
    from .serialize.common import SerParams
    from .serialize.html import export_to_html
    from .serialize.legacy import doc_to_legacy
    from .serialize.markdown import serialize_markdown

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    doc, _ = parse_span_doc(doc_id, spans)
    legacy = doc_to_legacy(doc)
    legacy.pop("file-info", None)
    return {
        "doc_id": doc_id,
        "md_embedded_md5": md5(
            serialize_markdown(doc, SerParams(image_mode="embedded")).text
        ),
        "md_referenced_md5": md5(
            serialize_markdown(doc, SerParams(image_mode="referenced")).text
        ),
        # FULL-document HTML (head + CSS + body): byte parity with the
        # reference since round 3 (stylesheet assets extracted from the
        # reference's own output — serialize/html.py:_load_css)
        "html_embedded_md5": md5(export_to_html(doc, image_mode="embedded")),
        "html_referenced_md5": md5(
            export_to_html(doc, image_mode="referenced")
        ),
        "html_split_page_md5": md5(
            export_to_html(doc, html_output_style="split_page")
        ),
        "yaml_md5": md5(dump_yaml_str(doc)),
        "legacy_md5": md5(_json.dumps(legacy, sort_keys=True)),
    }


VARIANT_EXPORTS_SCHEMA = (
    "doc_id string, md_embedded_md5 string, md_referenced_md5 string,"
    " html_embedded_md5 string, html_referenced_md5 string,"
    " html_split_page_md5 string, yaml_md5 string, legacy_md5 string"
)


def _variant_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _per_doc(
        batches, lambda d, s: [variant_exports_doc(d, s)],
        [c.split()[0] for c in VARIANT_EXPORTS_SCHEMA.split(",")],
    )


def variant_exports(docs: DataFrame) -> DataFrame:
    """Image-mode / split-page / YAML / legacy serializer surfaces as
    one shuffle-free Arrow stage."""
    return docs.mapInPandas(_variant_batches, schema=VARIANT_EXPORTS_SCHEMA)


CHUNKS_SCHEMA = (
    "doc_id string, chunk_idx int, text string, headings array<string>,"
    " item_refs array<string>, n_tokens int, context_tokens int"
)


def chunk_rows_doc(
    doc_id: str, spans, hybrid: bool, max_tokens: int,
    with_flag: bool = False,
) -> list:
    """Chunk one doc into gate rows (pure; shared by the distributed
    stage and tools/gen_goldens.py). `with_flag` adds a per-doc
    `needs_text_split` column — True when any chunk took the plain-text
    splitter, i.e. the branch whose reference semantics live in the
    external semchunk library (hybrid_chunker.py:231-233); the
    reference-derived gate row filters those docs out."""
    from .chunk import chunk_doc, hybrid_chunk_doc
    from .chunk.hybrid import HybridChunkerConfig
    from .chunk.hierarchical import contextualize
    from .chunk.wordpiece import wordpiece_count_tokens

    cfg = HybridChunkerConfig(max_tokens=max_tokens)
    doc, _ = parse_span_doc(doc_id, spans)
    stats: dict = {}
    chunks = hybrid_chunk_doc(doc, cfg, stats) if hybrid else chunk_doc(doc)
    flag = (
        {"needs_text_split": bool(stats.get("needs_text_split"))}
        if with_flag else {}
    )
    return [
        {
            "doc_id": doc_id,
            "chunk_idx": i,
            "text": c.text,
            "headings": c.headings or [],
            "item_refs": c.doc_item_refs,
            "n_tokens": wordpiece_count_tokens(c.text),
            "context_tokens": wordpiece_count_tokens(contextualize(c)),
            **flag,
        }
        for i, c in enumerate(chunks)
    ]


def _chunk_batches(hybrid: bool, max_tokens: int, with_flag: bool = False):
    cols = [
        "doc_id", "chunk_idx", "text", "headings", "item_refs",
        "n_tokens", "context_tokens",
    ] + (["needs_text_split"] if with_flag else [])

    return lambda batches: _per_doc(
        batches,
        lambda d, s: chunk_rows_doc(d, s, hybrid, max_tokens, with_flag),
        cols,
    )


def chunk_docs(
    docs: DataFrame, hybrid: bool = False, max_tokens: int = 64,
    with_flag: bool = False,
) -> DataFrame:
    """Chunking as one shuffle-free Arrow stage: docs(doc_id, spans) ->
    exploded chunk rows. Hybrid adds the token-budget refinement;
    `with_flag` appends the per-doc needs_text_split column used by the
    reference-derived hybrid gate row."""
    schema = CHUNKS_SCHEMA + (
        ", needs_text_split boolean" if with_flag else ""
    )
    return docs.mapInPandas(
        _chunk_batches(hybrid, max_tokens, with_flag), schema=schema
    )


# ---------------------------------------------------------------------------
# Synthetic corpus as a DataFrame (deterministic; see fixtures.py)
# ---------------------------------------------------------------------------

def synth_docs(
    spark: SparkSession,
    n: int,
    partitions: int = 32,
    include_shapes: bool = True,
    prefix: str = "doc",
) -> DataFrame:
    """Generate the deterministic synthetic docs table distributedly:
    spark.range -> mapInPandas(gen_spans). Each row depends only on its
    doc_id, so generation is embarrassingly parallel and reproducible."""
    from .fixtures import SHAPE_IDS, gen_spans

    shape_ids = list(SHAPE_IDS) if include_shapes else []

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                did = (
                    shape_ids[i]
                    if i < len(shape_ids)
                    else f"{prefix}-{i - len(shape_ids):08d}"
                )
                out.append({"doc_id": did, "spans": gen_spans(did)})
            yield pd.DataFrame(out, columns=["doc_id", "spans"])

    total = n + len(shape_ids)
    return (
        spark.range(0, total, numPartitions=partitions)
        .mapInPandas(gen, schema=S.DOCS_SCHEMA)
    )
