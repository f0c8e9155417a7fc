"""Contrastive hard-negative mining over the embedding corpus — the
triplet table an embedding-model training run consumes (ANCE, Xiong et
al. 2021; DPR, Karpukhin et al. 2020): for each anchor, its hardest
POSITIVE (the best near-duplicate, cosine >= the dedup threshold) and
its hardest NEGATIVES (the highest-cosine neighbors BELOW it — similar
enough to be informative, distinct enough to be true negatives), plus
the triplet margin pos_cos - neg_cos the loss actually sees.

Composes the similarity family's substrate: `similarity._lsh_scored`
is the scored candidate table (the banded LSH signature table supplies
candidates that collide in ANY band, deduped map-side by the min-band
filter; `_score_pairs` adds exact cosines from the cached
embedding/norm table) and `similarity._nearest` ranks the negatives.
No new corpus-wide pass: candidate cost is query-set x collisions,
exactly the ann_lsh_topk shape, and positives and negatives are split
from ONE scored candidate table.

100 TB story: the broadcast query-band join keeps both embedding joins
scan-shaped; the positive reduction is an agg max per anchor (no
window); the negative cut is a per-anchor window over candidate-sized
partitions. The margin subtraction runs on 6dp-rounded doubles
identically in both engines.

Reference analog: none (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants as C
from .similarity import (
    _banded_cte_duck,
    _dot_duck,
    _lsh_scored,
    _nearest,
    _norm2_duck,
)

NEG_K = 5  # hardest negatives kept per anchor


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _lsh_scored(spark, sf_dir)
    pos = (
        scored.where(f"cos_sim >= {C.COSINE_NEARDUP_THRESHOLD}")
        .groupBy("q_id")
        .agg(F.max("cos_sim").alias("pos_cos"))
    )
    neg = scored.where(f"cos_sim < {C.COSINE_NEARDUP_THRESHOLD}")
    return (
        _nearest(neg, NEG_K)
        .join(F.broadcast(pos), "q_id", "left")
        .select(
            "q_id",
            F.col("rank").cast("bigint").alias("rk"),
            F.col("neighbor_id").alias("neg_id"),
            F.col("cos_sim").alias("neg_cos"),
            "pos_cos",
            F.expr("round(pos_cos - cos_sim, 6)").alias("margin"),
        )
    )


def sql_hard_negatives() -> str:
    dot = _dot_duck("a.embedding", "b.embedding")
    na = _norm2_duck("a.embedding")
    nb = _norm2_duck("b.embedding")
    thr = C.COSINE_NEARDUP_THRESHOLD
    return f"""
        WITH {_banded_cte_duck()},
        scored AS (
            SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS neighbor_id,
                   round({dot} / (sqrt({na}) * sqrt({nb})), 6)
                       AS cos_sim
            FROM bk a JOIN bk b
              ON a.band_id = b.band_id AND a.bucket = b.bucket
             AND a.vec_id != b.vec_id
            WHERE a.vec_id < {C.KNN_NUM_QUERIES}
        ),
        pos AS (
            SELECT q_id, MAX(cos_sim) AS pos_cos
            FROM scored WHERE cos_sim >= {thr} GROUP BY q_id
        ),
        neg AS (
            SELECT q_id, neighbor_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cos_sim DESC, neighbor_id ASC
                   )::BIGINT AS rk
            FROM scored WHERE cos_sim < {thr}
        )
        SELECT q_id, rk, neighbor_id AS neg_id, cos_sim AS neg_cos,
               pos_cos, round(pos_cos - cos_sim, 6) AS margin
        FROM neg LEFT JOIN pos USING (q_id)
        WHERE rk <= {NEG_K}
    """
