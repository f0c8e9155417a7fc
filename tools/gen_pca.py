"""Run the offline PCA fit (corpus/cohesion.py:emb_pca — driver-side
eigendecomposition of the 64x64 covariance assembled from the
distributed exact-integer statistics) per sf and commit the component
artifacts that both the Spark `emb_pca_var` query and its DuckDB
oracle consume as broadcast literals.

Determinism: numpy's eigh is deterministic for a given matrix, but the
eigenvector SIGN is arbitrary — each component is canonicalized so its
largest-|value| element (lowest index on ties) is positive, then
quantized to milli integers. The committed artifact, not the fit, is
the contract (same pattern as tools/gen_centroids.py).

Usage: python tools/gen_pca.py [sf0.001 sf0.01 sf0.1]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TESTDATA = "/root/testdata"
TOP_K = 8


def main(sfs) -> None:
    import numpy as np
    from pyspark.sql import SparkSession

    from docling_core_spark.corpus import artifact_path, cohesion as CO

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pca-fit")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf in sfs:
        sf_dir = f"{TESTDATA}/{sf}"
        t0 = time.time()
        vals, comps, explained_ppm = CO.emb_pca(spark, sf_dir, TOP_K)
        comps = np.asarray(comps, dtype=np.float64)
        canon = []
        for k in range(comps.shape[0]):
            c = comps[k]
            pivot = int(np.argmax(np.abs(c)))
            if c[pivot] < 0:
                c = -c
            canon.append(
                [int(np.floor(v * 1000 + 0.5)) for v in c.tolist()]
            )
        out = artifact_path(sf_dir, "pca")
        with open(out, "w") as f:
            json.dump(
                {
                    "sf": sf,
                    "top_k": TOP_K,
                    "eigvals_micro": [
                        int(np.floor(v + 0.5)) for v in vals[:TOP_K]
                    ],
                    "explained_ppm": explained_ppm,
                    "components_milli": canon,
                },
                f,
            )
        print(
            f"{sf}: {TOP_K} components x {comps.shape[1]} dims"
            f" -> {out} ({time.time() - t0:.1f}s)"
        )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"])
