"""Adversarial skewed-corpus dedup demo at sf1 scale (50k docs, 10x the
bench corpus): proves the minhash -> LSH -> verify -> clusters chain
survives the two failure shapes a web corpus throws at it, and records
the measured knobs (hot-bucket cap engagement, pointer-jump rounds,
loop partition sizing) for SCALE.md.

Corpus design (deterministic, synthesized in-Spark, no external data):

  1. BOILERPLATE MEGA-CLUSTER — `N_MEGA` byte-identical copies of one
     boilerplate page. Every band hashes them into the same bucket, so
     without a cap the in-bucket pair expansion is O(N_MEGA^2) x bands
     (~400M candidate structs here). With `MAX_BUCKET` the bucket is
     dropped at the groupBy output and the pair stage never sees it —
     correct, because byte-identical mass is exact-dup work: the
     hash-groupBy layer (dedup_exact, map-side combinable, skew-immune)
     collapses it, which the demo verifies.
  2. CHAIN GRAPHS — `N_CHAINS` sliding-window chains of `CHAIN_LEN`
     docs over disjoint vocabularies: adjacent docs share ~0.90 shingle
     Jaccard, decaying with hop distance until the exact-Jaccard
     verification cuts pairs more than 6 hops apart. The banded-LSH
     misses on such chains are RUN-CORRELATED (one band-minimum change
     breaks every pair crossing that position at once, unlike the
     independent-miss model), so the verified pair graph is a set of
     path-shaped fragments — long-diameter inputs for the CC loop, and
     an honest demonstration that LSH recall, not clustering, is the
     binding constraint on sliding near-dup chains (the measured
     fragment distribution is part of the report).
  3. UNIQUE BACKGROUND — `N_UNIQUE` docs with disjoint vocabularies:
     singletons that must never shuffle through the CC loop.

Verified invariants (assertions, not eyeballs):
  - PRECISION 1.0: every verified pair is intra-chain and <= 6 hops;
  - the forced pointer-jumping path labels the fragment graph exactly
    like the single-task union-find ground truth on the same pairs;
  - background docs stay singletons (never enter the loop);
  - mega-cluster collapses to 1 keeper in the exact-dup layer and is
    CAPPED OUT of the LSH pair stage (avoided candidate count
    reported);
  - on an explicit PATH GRAPH of diameter CHAIN_LEN-1 (the worst case,
    built directly as edges), pointer jumping converges in
    <= ceil(log2(CHAIN_LEN)) + 2 rounds — O(log diameter), where plain
    label propagation would need CHAIN_LEN-1 rounds.

Usage: python tools/skew_dedup_demo.py [n_mega n_chains chain_len n_unique]
Writes its JSON report to stdout; paste the numbers into SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

N_MEGA = 5_000
N_CHAINS = 20
CHAIN_LEN = 1_000
N_UNIQUE = 25_000
MAX_BUCKET = 64
WINDOW_W = 40   # tokens per chain doc
STRIDE = 2      # tokens advanced per chain hop


def synth_corpus(spark, n_mega, n_chains, chain_len, n_unique):
    """Deterministic adversarial documents table, built as expressions
    over spark.range (no driver-side data)."""
    from pyspark.sql import functions as F

    boiler = " ".join(f"boiler{i:03d}" for i in range(60))
    mega = spark.range(0, n_mega).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit(boiler).alias("text"),
    )
    # chain doc j of chain c = tokens c_{j*STRIDE} .. c_{j*STRIDE+W-1}
    chain = spark.range(0, n_chains * chain_len).select(
        (F.lit(n_mega) + F.col("id")).cast("bigint").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {WINDOW_W - 1}),"
            f" t -> concat('c', cast(id div {chain_len} as string), '_',"
            f" cast(cast(id % {chain_len} as int) * {STRIDE} + t"
            f" as string))))"
        ).alias("text"),
    )
    uniq = spark.range(0, n_unique).select(
        (F.lit(n_mega + n_chains * chain_len) + F.col("id"))
        .cast("bigint").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19),"
            " t -> concat('u', cast(id as string), 'w',"
            " cast(t as string))))"
        ).alias("text"),
    )
    return (
        mega.unionByName(chain).unionByName(uniq)
        .select(
            "doc_id", "text",
            F.lit("en").alias("lang"),
            F.lit("synthetic-skew").alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )


def main():
    args = [int(a) for a in sys.argv[1:]]
    n_mega, n_chains, chain_len, n_unique = (
        args + [N_MEGA, N_CHAINS, CHAIN_LEN, N_UNIQUE][len(args):]
    )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from docling_core_spark.corpus import dedup as D

    base = tempfile.mkdtemp(prefix="skew-corpus-")
    try:
        docs = synth_corpus(spark, n_mega, n_chains, chain_len, n_unique)
        docs.repartition(int(cpus)).write.parquet(
            os.path.join(base, "documents.parquet"), mode="overwrite"
        )
        n_docs = n_mega + n_chains * chain_len + n_unique
        report = {"n_docs": n_docs, "n_mega": n_mega,
                  "n_chains": n_chains, "chain_len": chain_len,
                  "n_unique": n_unique, "max_bucket": MAX_BUCKET}

        # --- hot-bucket census: sizes before the cap ---
        t0 = time.time()
        buckets = (
            D._bands_df(spark, base)
            .groupBy("band_id", "band_key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2)
        )
        census = buckets.agg(
            F.count("*").alias("buckets"),
            F.max("n").alias("max_bucket_size"),
            F.sum(F.when(F.col("n") > MAX_BUCKET, 1).otherwise(0))
            .alias("buckets_over_cap"),
            F.sum(
                F.when(F.col("n") > MAX_BUCKET,
                       F.col("n") * (F.col("n") - 1) / 2).otherwise(0)
            ).cast("bigint").alias("pairs_avoided_by_cap"),
        ).collect()[0]
        report["bucket_census"] = census.asDict()
        report["census_sec"] = round(time.time() - t0, 1)

        # --- capped pair generation + verification ---
        t0 = time.time()
        pairs = D.q_neardup_pairs(spark, base, max_bucket=MAX_BUCKET)
        pairs = pairs.select("doc_a", "doc_b").persist()
        n_pairs = pairs.count()
        report["verified_pairs"] = n_pairs
        report["pairs_sec"] = round(time.time() - t0, 1)
        # PRECISION: every verified pair is intra-chain (mega capped
        # out; uniques share nothing) and within the Jaccard band
        # J(d) = (38-2d)/(38+2d) >= 0.5, i.e. <= 6 hops apart
        c0, c1 = n_mega, n_mega + n_chains * chain_len
        bad = pairs.filter(
            f"doc_a < {c0} OR doc_b >= {c1}"
            f" OR (doc_a - {c0}) div {chain_len}"
            f"    != (doc_b - {c0}) div {chain_len}"
            f" OR abs(doc_a - doc_b) > 6"
        ).count()
        assert bad == 0, bad
        adjacent = pairs.filter(
            f"doc_b = doc_a + 1 AND doc_a >= {c0} AND doc_b < {c1}"
            f" AND (doc_a - {c0}) % {chain_len} != {chain_len - 1}"
        ).count()
        report["adjacent_recall_pct"] = round(
            100.0 * adjacent / (n_chains * (chain_len - 1)), 2
        )

        # --- clustering the LSH fragment graph, iterative path FORCED
        # (local_edge_limit=0), checked against the single-task
        # union-find ground truth on the SAME pairs ---
        t0 = time.time()
        stats: dict = {}
        labels = D._min_label_components(
            docs.select("doc_id"), pairs, stats=stats, local_edge_limit=0
        ).persist()
        truth = D._min_label_components(docs.select("doc_id"), pairs)
        mismatches = (
            labels.alias("a").join(truth.alias("b"), "doc_id")
            .filter("a.cluster_id != b.cluster_id").count()
        )
        assert mismatches == 0, mismatches
        frag = (
            labels.groupBy("cluster_id").agg(F.count("*").alias("n"))
            .filter("n > 1")
            .agg(F.count("*").alias("fragments"),
                 F.max("n").alias("largest"),
                 F.sum("n").alias("docs_in_fragments"))
            .collect()[0]
        )
        singletons = (
            labels.groupBy("cluster_id").agg(F.count("*").alias("n"))
            .filter("n = 1").count()
        )
        assert singletons == n_docs - int(frag["docs_in_fragments"])
        report["cc_stats"] = stats
        report["lsh_fragments"] = frag.asDict()
        report["cluster_sec"] = round(time.time() - t0, 1)
        labels.unpersist()

        # --- pointer-jump round count on an EXPLICIT path graph of
        # diameter chain_len-1 (worst case; plain propagation would
        # need chain_len-1 rounds) ---
        t0 = time.time()
        path_edges = spark.range(0, n_chains * chain_len).filter(
            f"id % {chain_len} != {chain_len - 1}"
        ).select(
            F.col("id").cast("bigint").alias("doc_a"),
            (F.col("id") + 1).cast("bigint").alias("doc_b"),
        )
        path_nodes = spark.range(0, n_chains * chain_len).select(
            F.col("id").cast("bigint").alias("doc_id")
        )
        pstats: dict = {}
        plabels = D._min_label_components(
            path_nodes, path_edges, stats=pstats, local_edge_limit=0
        )
        pdist = {
            int(r["n"]): int(r["c"])
            for r in plabels.groupBy("cluster_id")
            .agg(F.count("*").alias("n"))
            .groupBy("n").agg(F.count("*").alias("c")).collect()
        }
        assert pdist == {chain_len: n_chains}, pdist
        bound = math.ceil(math.log2(chain_len)) + 2
        assert pstats["rounds"] <= bound, (pstats, bound)
        report["path_graph"] = {
            "diameter": chain_len - 1, **pstats,
            "round_bound": bound,
        }
        report["path_graph_sec"] = round(time.time() - t0, 1)

        # --- the byte-identical mega-cluster belongs to the EXACT
        # layer: hash groupBy with map-side combine (skew-immune) ---
        t0 = time.time()
        exact = (
            docs.groupBy(F.md5(F.encode("text", "utf-8")).alias("h"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("keep"))
            .filter(F.col("n_copies") > 1)
            .collect()
        )
        assert len(exact) == 1 and exact[0]["n_copies"] == n_mega
        report["exact_dup_groups"] = {
            "groups": len(exact), "largest": int(exact[0]["n_copies"]),
        }
        report["exact_sec"] = round(time.time() - t0, 1)

        pairs.unpersist()
        from docling_core_spark import artifacts
        artifacts.clear()
        print(json.dumps(report))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
