"""Executed-plan inventory of the gate queries: one JSON line per
queries() row with its row count, an md5 of its sorted normalized rows
(the same normalization tools/check_correctness.py compares) and the
shuffle-Exchange / BroadcastExchange counts of the executed plan.

Counts come from the `== Final Plan ==` section of the adaptive plan
only (its string form also prints the Initial Plan); a ReusedExchange
is not counted, since it reads an exchange's output without moving the
data again. Memoized session
artifacts are built inline for the run (`Memo.fetch` passes through to
its build), so a query's plan shows the work of every artifact it
reads instead of an InMemoryRelation; `artifacts.clear()` runs between
queries. Two checkouts can then be diffed row by row: same md5 means
the same result, and the counts show whether a rewrite moved data.

Usage: plan_inventory.py SF_DIR [NAME,NAME,...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

_NODE = r"^[ :|+\-]*{}\b"


def final_plan(df) -> str:
    """The executed plan's `== Final Plan ==` section (the whole plan
    when adaptive execution did not wrap it)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" not in plan:
        return plan
    return plan.split("== Final Plan ==", 1)[1].split(
        "== Initial Plan ==", 1)[0]


def plan_counts(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(_NODE.format("Exchange"), plan, re.M)),
        "broadcasts": len(
            re.findall(_NODE.format("BroadcastExchange"), plan, re.M)),
    }


def main(sf_dir: str, only: str | None = None) -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from check_correctness import normalize
    from docling_core_spark import artifacts

    artifacts.Memo.fetch = lambda self, spark, *parts, build: build()
    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    names = set(only.split(",")) if only else None
    for name, fn in E.queries().items():
        if names and name not in names:
            continue
        artifacts.clear()
        try:
            df = fn(spark, sf_dir)
            rows = normalize([tuple(r) for r in df.collect()], df.columns)
            line = {
                "rows": len(rows),
                "md5": hashlib.md5(repr(rows).encode()).hexdigest(),
                **plan_counts(final_plan(df)),
            }
        except Exception as ex:  # one broken query must not hide the rest
            line = {"error": str(ex).splitlines()[0]}
        print(json.dumps({"name": name, **line}), flush=True)
    artifacts.clear()
    spark.stop()


if __name__ == "__main__":
    if not 2 <= len(sys.argv) <= 3:
        sys.exit(__doc__)
    main(*sys.argv[1:])
