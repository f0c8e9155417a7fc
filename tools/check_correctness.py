"""Simulate the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, sorted column names, and order-insensitive value multiset.

Usage: check_correctness.py [SF_DIR] [NAME,NAME,...]
Golden- and artifact-backed oracles embed SF_DIR's sf unless
DOCLING_SPARK_GATE_SF names another.
Exits 1 unless every query run prints MATCH or rows-only."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import datetime
    import decimal
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    out.sort()
    return out


def main(sf_dir="/root/testdata/sf0.01", only=None):
    import __spark_entry__ as E
    from docling_core_spark.corpus import sf_token

    os.environ.setdefault("DOCLING_SPARK_GATE_SF", sf_token(sf_dir))

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(only.split(",")) if only else None
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            rows = df.collect()
            cols = df.columns
        except Exception as ex:
            results[name] = f"SPARK ERROR: {ex}"
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(rows)} rows"
            continue
        try:
            orc = con.execute(oracles[name])
            ocols = [d[0] for d in orc.description]
            orows = orc.fetchall()
        except Exception as ex:
            results[name] = f"ORACLE ERROR: {ex}"
            continue
        if sorted(cols) != sorted(ocols):
            results[name] = f"SCHEMA MISMATCH spark={sorted(cols)} duck={sorted(ocols)}"
            continue
        a = normalize([tuple(r) for r in rows], cols)
        b = normalize(orows, ocols)
        if len(a) != len(b):
            results[name] = f"ROWCOUNT MISMATCH {len(a)} vs {len(b)}"
        elif a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            results[name] = f"VALUE MISMATCH e.g. {diffs}"
        else:
            results[name] = f"MATCH ({len(a)} rows)"
    for k, v in results.items():
        print(f"{k:28s} {v}")
    spark.stop()
    return all(v.startswith(("MATCH", "rows-only")) for v in results.values())


if __name__ == "__main__":
    sys.exit(0 if main(*(sys.argv[1:] or [])) else 1)
