"""Run the offline deterministic per-subspace PQ k-means training job
(Spark built-ins — corpus/similarity.py:compute_pq_codebooks) per sf
and commit the codebook artifacts that both the Spark PQ queries and
the DuckDB oracle consume.

Usage: python tools/gen_pq_codebooks.py [sf0.001 sf0.01 sf0.1]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TESTDATA = "/root/testdata"


def main(sfs) -> None:
    from pyspark.sql import SparkSession

    from docling_core_spark.corpus import artifact_path, similarity as CS

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pq-kmeans-train")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf in sfs:
        sf_dir = f"{TESTDATA}/{sf}"
        t0 = time.time()
        books = CS.compute_pq_codebooks(spark, sf_dir)
        out = artifact_path(sf_dir, "pq_codebooks")
        with open(out, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "m": CS.PQ_M,
                    "ks": CS.PQ_KS,
                    "subdim": CS.PQ_SUBDIM,
                    "iters": CS.PQ_KMEANS_ITERS,
                    "seed_vec_ids": CS.PQ_SEED_IDS,
                    "codebooks": books,
                },
                f,
            )
        print(f"{sf}: wrote {out} in {time.time() - t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"])
