"""Decade-up linearity demonstration: sf0.1 vs sf1-equivalent.

Round-4 VERDICT ask #3: one order-of-magnitude scale-up of the
flagship paths, with measured per-unit cost next to the sf0.1 numbers
to evidence linearity. Two workloads:

  1. FLAGSHIP EXTRACTION — the span pipeline (parse + validate +
     reading-order + serialize) over the deterministic synthetic
     corpus: 50,030 docs (the bench's sf0.1 10x configuration) vs
     500,300 docs (sf1-equivalent). Zero-shuffle Arrow stage; linear
     by construction, measured to confirm.
  2. NEAR-DUP CHAIN — minhash_signatures -> lsh_buckets ->
     neardup_pairs -> dedup_clusters over the documents table: sf0.1's
     5,000 docs vs a 10x inflated corpus (50,000 docs where each
     source doc yields 10 true near-duplicate copies — shared
     shingles, distinct hashes — the boilerplate-web-corpus load
     profile of tools/bench_scaling.py:_inflate_docs). The chain's
     shuffles (banding, candidate join, pointer-jumping CC) all scale
     with corpus size; per-doc cost at 10x data is the linearity
     witness.

Metrics per run: wall (best-of-2), per-unit cost, shuffle read/write
bytes + records (Spark UI REST, deltas around the measured run), task
count, and the driver-JVM peak memory from /executors
peakMemoryMetrics. Results land in SCALE.md ("Decade-up linearity").

Usage: python tools/scale_linearity_demo.py [--quick]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

PORT = 4049
SF01 = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/sf1_linearity_input"


def _session(cpus: int = 32):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-linearity-demo")
        .config("spark.sql.shuffle.partitions", str(cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(PORT))
        .getOrCreate()
    )


def _inflate_sf1(spark, factor: int = 10):
    """sf1-equivalent documents table: 10x near-duplicate inflation of
    sf0.1 (50k docs, ~10 near-dup copies per source doc)."""
    dest = os.path.join(SF1_DIR, "documents.parquet")
    if os.path.exists(dest):
        return
    from pyspark.sql import functions as F

    shutil.rmtree(SF1_DIR, ignore_errors=True)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    (
        docs.crossJoin(
            spark.range(0, factor).withColumnRenamed("id", "copy")
        )
        .select(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("_"),
                F.col("copy").cast("string"),
            ).alias("doc_id"),
            F.concat(
                F.lit("v"), F.col("copy").cast("string"), F.lit(" "),
                F.col("text"),
            ).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(dest)
    )


def _app_base():
    base = f"http://localhost:{PORT}/api/v1/applications"
    app = json.load(urllib.request.urlopen(base))[0]["id"]
    return f"{base}/{app}"


def _exec_totals(app_base: str):
    execs = json.load(urllib.request.urlopen(f"{app_base}/executors"))
    w = r = n = tasks = 0
    peak = 0
    for e in execs:
        w += e.get("totalShuffleWrite", 0)
        r += e.get("totalShuffleRead", 0)
        tasks += e.get("totalTasks", 0)
        pm = e.get("peakMemoryMetrics") or {}
        peak = max(peak, pm.get("JVMHeapMemory", 0))
    return w, r, tasks, peak


def _measure(spark, fn, label: str, n_units: int, unit: str) -> dict:
    """Warm once (codegen/scan), then best-of-2 measured runs with
    shuffle/task deltas around the better run."""
    fn()  # warm
    best = None
    for _ in range(2):
        ab = _app_base()
        w0, r0, t0_, _ = _exec_totals(ab)
        t0 = time.time()
        fn()
        wall = time.time() - t0
        w1, r1, t1_, peak = _exec_totals(ab)
        rec = {
            "wall_sec": round(wall, 2),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "tasks": t1_ - t0_,
            "peak_jvm_heap_gb": round(peak / 1e9, 2),
        }
        if best is None or rec["wall_sec"] < best["wall_sec"]:
            best = rec
    best.update({
        "label": label,
        "n_units": n_units,
        "unit": unit,
        "per_unit_us": round(best["wall_sec"] / n_units * 1e6, 2),
    })
    return best


def flagship(spark, n_docs: int):
    from pyspark.sql import functions as F

    from docling_core_spark.pipeline import run_pipeline, synth_docs

    docs = synth_docs(spark, n_docs, partitions=64).cache()
    total = docs.count()  # n_docs + the fixed shape-doc prefix

    def run():
        out = run_pipeline(docs)
        agg = out.agg(
            F.count("*").alias("n"),
            F.sum("n_items").alias("items"),
        ).collect()[0]
        assert agg["n"] == total

    res = _measure(spark, run, f"extract_{n_docs}", total, "doc")
    res["docs_per_sec"] = round(total / res["wall_sec"], 1)
    docs.unpersist()
    return res


def neardup_chain(spark, sf_dir: str, label: str):
    from docling_core_spark import artifacts
    from docling_core_spark.corpus import dedup as CD

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def run():
        artifacts.clear()
        CD.q_dedup_clusters(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    res = _measure(spark, run, f"neardup_{label}", n_docs, "doc")
    return res


def main():
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    out = {"host_cpus": os.cpu_count()}
    try:
        _inflate_sf1(spark)
        out["extract_sf0.1"] = flagship(spark, 50_030)
        out["extract_sf1"] = flagship(spark, 500_300)
        out["neardup_sf0.1"] = neardup_chain(spark, SF01, "sf0.1")
        out["neardup_sf1"] = neardup_chain(spark, SF1_DIR, "sf1x10")
        for fam in ("extract", "neardup"):
            a, b = out[f"{fam}_sf0.1"], out[f"{fam}_sf1"]
            out[f"{fam}_per_unit_ratio"] = round(
                b["per_unit_us"] / a["per_unit_us"], 3
            )
        print(json.dumps(out, indent=1))
    finally:
        spark.stop()
        shutil.rmtree(SF1_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
