"""Correctness checks outside the timed job.

Outputs are compared as the correctness gate compares them
(``tools/check_correctness.normalize``): sorted column names and an
order-insensitive multiset of normalized rows.
"""

from __future__ import annotations

import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from typing import List, Sequence, Tuple

from tools.check_correctness import normalize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_SF = "sf0.01"
GOLDEN_DIR = os.path.join(ROOT, "goldens", GOLDEN_SF)


def failures(got_rows: Sequence[tuple], got_cols: Sequence[str],
             exp_rows: Sequence[tuple], exp_cols: Sequence[str]) -> int:
    """Units that disagree: distinct doc ids among the rows found on
    only one side when both sides have a ``doc_id`` column, else the
    number of such rows. A schema mismatch fails every expected row."""
    if sorted(got_cols) != sorted(exp_cols):
        return max(len(exp_rows), 1)
    got = Counter(normalize(got_rows, got_cols))
    exp = Counter(normalize(exp_rows, exp_cols))
    bad = list(((got - exp) + (exp - got)).elements())
    cols = sorted(got_cols)
    if "doc_id" in cols:
        i = cols.index("doc_id")
        return len({row[i] for row in bad})
    return len(bad)


def golden_rows(name: str) -> Tuple[List[tuple], List[str]]:
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(GOLDEN_DIR, f"{name}.parquet"))
    cols = table.column_names
    data = table.to_pydict()
    return list(zip(*(data[c] for c in cols))), cols


def golden_doc_count() -> int:
    import json

    with open(os.path.join(GOLDEN_DIR, "MANIFEST.json")) as fh:
        return json.load(fh)["docs"]


def check_against_golden(spark, sf_dir: str, names: Sequence[str]) -> int:
    """Run the registered gate queries on the golden corpus and count
    the failing docs against ``goldens/sf0.01``. The corpus is built
    with one partition per task slot instead of the gate's 32, which
    changes no row and saves the per-task Python start-up."""
    import __spark_entry__ as E
    from docling_core_spark.pipeline import synth_docs

    def synth(spark, sf_dir):
        return synth_docs(spark, E._docs_count(spark, sf_dir),
                          partitions=spark.sparkContext.defaultParallelism)

    queries = E.queries()
    saved, E._synth = E._synth, synth
    try:
        bad = 0
        for name in names:
            df = queries[name](spark, sf_dir)
            exp_rows, exp_cols = golden_rows(name)
            bad += failures([tuple(r) for r in df.collect()], df.columns,
                            exp_rows, exp_cols)
    finally:
        E._synth = saved
    return bad


def _oracle_rows(sf_dir: str, names: Sequence[str]) -> dict:
    """{name: (rows, columns)} of ``oracle_sql()`` on DuckDB over
    ``<sf_dir>/documents.parquet``."""
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    # one thread: the Spark chain it runs beside keeps the CPUs
    con = duckdb.connect(config={"threads": 1})
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf_dir}/documents.parquet')"
        )
        out = {}
        for name in names:
            cur = con.execute(oracles[name])
            out[name] = cur.fetchall(), [d[0] for d in cur.description]
        return out
    finally:
        con.close()


def check_against_oracle(spark, sf_dir: str, names: Sequence[str]) -> int:
    """Run the registered queries on Spark and their ``oracle_sql()``
    on DuckDB over the same ``documents`` table; count the failures.
    DuckDB runs in a thread meanwhile, as both wait outside Python."""
    import __spark_entry__ as E

    queries = E.queries()
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(_oracle_rows, sf_dir, names)
        got = {}
        for name in names:
            df = queries[name](spark, sf_dir)
            got[name] = [tuple(r) for r in df.collect()], df.columns
        expected = expected.result()
    return sum(failures(*got[name], *expected[name]) for name in names)
