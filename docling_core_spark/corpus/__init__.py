"""Corpus-level training-data operators over the driver's parquet tables.

These are the large-scale data-pipeline companions of the document engine
(SURVEY.md §2 covers the per-document operators; this package covers the
cross-document ones): deduplication (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine), similarity search (brute-force + LSH-bucketed
ANN), text analysis (language-ID, quality scoring, token counting,
fingerprinting) and multimodal column plumbing.

Every operator is expressed as JVM-side DataFrame expressions (no Python
row loops); each has a DuckDB oracle built from the SAME constants so the
driver's correctness gate can verify values bit-for-bit.
"""

from pyspark.sql import DataFrame, SparkSession


def artifact_path(sf_dir: str, prefix: str) -> str:
    """Committed per-sf artifact under goldens/ (`<prefix>_sf<sf>.json`)
    — the ONE place that derives the scale token from an sf dir, shared
    by the IVF centroid and PCA component loaders so the Spark query
    and its DuckDB oracle can never resolve different artifacts."""
    import os

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    return os.path.join(repo, "goldens", f"{prefix}_sf{sf}.json")


def read_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a parquet table and make sure the scan's parallelism covers
    the cluster. A production-scale table has thousands of row-group
    splits and the repartition branch never fires; the driver's small
    test files arrive as ONE split, which would serialize all the
    per-row hashing onto a single core (measured 10x slowdown on the
    fingerprint/minhash ops). The shuffle moved here is the table
    itself — trivial at test scale, skipped at real scale.
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    return df
