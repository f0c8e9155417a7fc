"""Run the offline deterministic IVF k-means training job (Spark
built-ins — corpus/similarity.py:compute_ivf_centroids) per sf and
commit the centroid artifacts that both the Spark ANN query and the
DuckDB oracle consume.

Usage: python tools/gen_centroids.py [sf0.001 sf0.01 sf0.1]
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
        .appName("ivf-kmeans-train")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf in sfs:
        sf_dir = f"{TESTDATA}/{sf}"
        t0 = time.time()
        cents = CS.compute_ivf_centroids(spark, sf_dir)
        out = artifact_path(sf_dir, "ivf_centroids")
        with open(out, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "k": CS.IVF_NUM_CENTROIDS,
                    "iters": CS.IVF_KMEANS_ITERS,
                    "init_vec_ids": CS.IVF_CENTROID_IDS,
                    "centroids": cents,
                },
                f,
            )
        print(
            f"{sf}: {len(cents)} centroids x {len(cents[0])} dims"
            f" -> {out} ({time.time() - t0:.1f}s)"
        )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"])
