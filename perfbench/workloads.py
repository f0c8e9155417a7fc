"""The workloads. Each is a closed-loop batch job: one job at a time
from one driver, over seeded inputs cached before timing.

A workload provides
  * ``setup(spark, seed, work)``  -- generate and cache its inputs;
  * ``warm_up(spark, work)``      -- one small job, so Python workers,
                                     imports and code generation are warm;
  * ``check(spark, work)``        -- failures against the golden corpus
                                     or the DuckDB oracle, outside timing;
  * ``rep(spark, single_slot)``   -- one timed job; returns
                                     (docs in, docs out, step seconds);
                                     ``single_slot`` runs only the first
                                     stage, on one task slot;
  * ``traced_rep(...)``           -- the same job with layer spans on;
  * ``trivial_rep(...)``          -- (per-doc workloads) a traced stage
                                     that does nothing, over the same
                                     partitions.

Throughput is docs in over the summed step seconds.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, Tuple

from . import inputs
from .metrics import DEDUP_STEPS
from .golden import (check_against_golden, check_against_oracle,
                     golden_doc_count)

RepResult = Tuple[int, int, Dict[str, float]]


def _golden_sf_dir(work: str) -> str:
    """A directory whose ``documents.parquet`` has as many rows as the
    golden corpus: the gate queries size their synthetic corpus from
    that table's row count (``__spark_entry__._synth``)."""
    from docling_core_spark.fixtures import SHAPE_IDS

    sf_dir = os.path.join(work, "golden", "sf0.01")
    n = golden_doc_count() - len(SHAPE_IDS)
    inputs.write_documents([{"doc_id": i} for i in range(n)], sf_dir)
    return sf_dir


def _extract(docs):
    from docling_core_spark.pipeline import run_pipeline

    return run_pipeline(docs), False


def _chunk(docs):
    from docling_core_spark.pipeline import chunk_docs

    # one doc becomes many rows: docs out are the distinct doc ids, and
    # only the docs with chunkable content (``inputs.chunked_docs``)
    return chunk_docs(docs, hybrid=True, max_tokens=64), True


def _doctags_roundtrip(docs):
    from docling_core_spark.pipeline import doctags_roundtrip

    return doctags_roundtrip(docs), False


def _json_roundtrip(docs):
    from docling_core_spark.pipeline import json_roundtrip

    return json_roundtrip(docs), False


class PerDocWorkload:
    """A span-corpus workload: mapInPandas stages over cached docs, one
    after the other; each stage gives (DataFrame, rows per doc)."""

    name = ""
    why = ""
    n_docs = 0
    setup_rounds = 3
    warm_reps = 2
    golden_queries: Tuple[str, ...] = ()
    stage_fns: Tuple = ()
    # the single-slot leg of the first stage gives ``scaling_eff``
    scaling = False

    def __init__(self):
        self.docs = None
        self.digest = ""
        self.chunked = self.n_docs

    @property
    def n_stages(self) -> int:
        return len(self.stage_fns)

    def stages(self, docs) -> List:
        return [fn(docs) for fn in self.stage_fns]

    def setup(self, spark, seed: int, work: str) -> None:
        import pandas as pd

        from docling_core_spark import schema as S

        rows = inputs.corpus_rows(seed, self.n_docs)
        self.digest = inputs.digest(rows)
        self.chunked = inputs.chunked_docs(rows)
        # one partition per task slot: each Python task carries a fixed
        # start-up cost, so more, smaller tasks would time that instead
        self.docs = (
            spark.createDataFrame(pd.DataFrame(rows), S.DOCS_SCHEMA)
            .repartition(spark.sparkContext.defaultParallelism)
            .cache()
        )
        self.docs.count()

    def warm_up(self, spark, work: str) -> None:
        from docling_core_spark.pipeline import synth_docs

        docs = synth_docs(spark, 16, partitions=spark.sparkContext
                          .defaultParallelism, include_shapes=False)
        self._run(self.stages(docs), 16)

    def check(self, spark, work: str) -> Tuple[int, int]:
        bad = check_against_golden(
            spark, _golden_sf_dir(work), self.golden_queries)
        return golden_doc_count(), bad

    def _run(self, stages, n: int) -> RepResult:
        """The stages one after the other; docs out are ``n`` less each
        stage's distance from the docs out it must give."""
        from pyspark.sql import functions as F

        missing = 0
        steps = {}
        for i, (stage, rows_per_doc) in enumerate(stages):
            col = F.countDistinct("doc_id") if rows_per_doc else F.count("*")
            t0 = time.perf_counter()
            got = stage.agg(col).collect()[0][0]
            steps[f"stage{i}"] = time.perf_counter() - t0
            missing += abs((self.chunked if rows_per_doc else n) - got)
        return n, max(n - missing, 0), steps

    def rep(self, spark, single_slot: bool) -> RepResult:
        if single_slot:
            return self._run(self.stages(self.docs.coalesce(1))[:1],
                             self.n_docs)
        return self._run(self.stages(self.docs), self.n_docs)

    def traced_rep(self, spark, trace_dir: str) -> RepResult:
        from .trace import traced_stages

        with traced_stages(trace_dir):
            stages = self.stages(self.docs)
        return self._run(stages, self.n_docs)

    def trivial_rep(self, spark, trace_dir: str) -> int:
        """The trivial traced stage over the same partitions; docs out."""
        from .trace import trivial_stage

        return self.docs.mapInPandas(trivial_stage(trace_dir),
                                     "doc_id string").count()


class Extract(PerDocWorkload):
    name = "extract"
    why = ("the flagship run_pipeline: parse, validate and four "
           "serializers per doc, no shuffle; serializer and traversal "
           "changes show here")
    n_docs = 1200
    golden_queries = ("pipeline_span_seq", "pipeline_exports")
    stage_fns = (_extract,)
    scaling = True


class Chunk(PerDocWorkload):
    name = "chunk"
    why = ("hybrid chunking at 64 tokens: WordPiece counting dominates and "
           "one doc becomes many rows; bypasses html, doctags and etree")
    n_docs = 400
    golden_queries = ("pipeline_chunks_hybrid",)
    stage_fns = (_chunk,)


class ExtractChunk(PerDocWorkload):
    """``extract`` then ``chunk`` over one corpus, as one job."""

    name = "extract_chunk"
    why = ("run_pipeline (parse, validate, four serializers) then hybrid "
           "chunking at 64 tokens over the same docs: every per-doc layer "
           "but doctags parsing and JSON")
    n_docs = 600
    golden_queries = ("pipeline_span_seq", "pipeline_exports",
                      "pipeline_chunks_hybrid")
    stage_fns = (_extract, _chunk)
    scaling = True


class Reingest(PerDocWorkload):
    name = "reingest"
    why = ("doctags and JSON round trips: documents are rebuilt through "
           "the mutation APIs, so slower construction shows here")
    n_docs = 600
    golden_queries = ("pipeline_doctags_roundtrip", "pipeline_json_roundtrip")
    stage_fns = (_doctags_roundtrip, _json_roundtrip)


class Dedup:
    """The near-dup chain over a seeded ``documents`` table: JVM
    shuffles only, no Python workers."""

    name = "dedup"
    why = ("the corpus near-dup chain: JVM shuffles, no per-doc Python, so "
           "it bypasses every tree layer; memo caches cleared every run")
    n_docs = 1000
    # a round takes ~0.4 s: more rounds, so the median is steadier
    setup_rounds = 6
    # a chain takes 4-7 s and keeps getting faster for about seven (the
    # check's is the first); the run's time goes to timed chains rather
    # than to more warm-up, as slow spells of the host outweigh the ramp
    warm_reps = 1

    def __init__(self):
        self.sf_dir = ""
        self.digest = ""

    def setup(self, spark, seed: int, work: str) -> None:
        rows = inputs.documents_table(seed, self.n_docs)
        self.digest = inputs.digest(rows)
        self.sf_dir = os.path.join(work, f"dedup-s{seed}")
        inputs.write_documents(rows, self.sf_dir)

    def warm_up(self, spark, work: str) -> None:
        """Only a small JVM job: the correctness check after set-up runs
        the whole chain once on the timed input, which warms its code
        generation for the timed repetitions."""
        spark.range(0, 100_000).selectExpr("sum(id)").collect()

    def check(self, spark, work: str) -> Tuple[int, int]:
        from docling_core_spark.corpus import dedup as CD

        try:
            return self.n_docs, check_against_oracle(
                spark, self.sf_dir, DEDUP_STEPS)
        finally:
            CD.clear_caches()

    def _chain(self, spark, sf_dir: str):
        """Each step's rows collected to the driver, as the correctness
        check collects them: the check then warms the timed path."""
        import __spark_entry__ as E
        from docling_core_spark.corpus import dedup as CD

        CD.clear_caches()
        queries = E.queries()
        steps: Dict[str, float] = {}
        results = {}
        for name in DEDUP_STEPS:
            t0 = time.perf_counter()
            results[name] = queries[name](spark, sf_dir).collect()
            steps[name] = time.perf_counter() - t0
        return steps, results

    def _docs_out(self, spark) -> int:
        import __spark_entry__ as E

        # dedup_clusters covers every corpus row; the table is memoized
        return E.queries()["dedup_clusters"](spark, self.sf_dir).count()

    def rep(self, spark, single_slot: bool) -> RepResult:
        steps, _ = self._chain(spark, self.sf_dir)
        return self.n_docs, self._docs_out(spark), steps

    def traced_rep(self, spark, trace_dir: str):
        """The chain with the memo fills timed, plus the candidate and
        verified pair counts. Returns the rep result and those counts."""
        from .trace import timed_cache_fills

        with timed_cache_fills() as fills:
            steps, results = self._chain(spark, self.sf_dir)
        counts = {
            "cache_build_s": fills["seconds"],
            "candidate_pairs": sum(
                r["n_docs"] * (r["n_docs"] - 1) // 2
                for r in results["lsh_buckets"]
            ),
            "verified_pairs": len(results["neardup_pairs"]),
        }
        return (self.n_docs, self._docs_out(spark), steps), counts


WORKLOADS = {w.name: w for w in (Extract, Chunk, ExtractChunk, Reingest,
                                  Dedup)}
