"""The session artifact memo (artifacts.Memo / artifacts.clear): one
fill per key, logged once, and one clear that frees every family."""

import logging

from docling_core_spark import artifacts

SF = "/root/testdata/sf0.001"


def _fills(caplog):
    return [r for r in caplog.records
            if r.name == artifacts.__name__ and r.levelno == logging.INFO]


def test_fill_logged_once_and_second_call_hits(spark, caplog):
    from docling_core_spark.corpus import dedup as CD

    artifacts.clear()
    try:
        CD.q_neardup_pairs(spark, SF)  # the clusters' inputs, filled first
        with caplog.at_level(logging.INFO, logger=artifacts.__name__):
            first = CD.q_dedup_clusters(spark, SF)
            assert [r.args[0] for r in _fills(caplog)] == ["dedup.clusters"]
            # the fill logs its size: one cluster row per corpus document
            assert _fills(caplog)[0].args[-1] == 500
            assert _fills(caplog)[0].getMessage().endswith(", 500 rows")
            caplog.clear()
            assert CD.q_dedup_clusters(spark, SF) is first
            assert not _fills(caplog)
    finally:
        artifacts.clear()


def test_clear_unpersists_every_family(spark):
    """One family each from dedup, similarity, cohesion and overlay:
    after clear() no returned DataFrame is cached and every Memo is
    empty."""
    from docling_core_spark.corpus import cohesion, similarity
    from docling_core_spark.corpus import dedup as CD
    from docling_core_spark.ops import overlay

    artifacts.clear()
    try:
        dfs = [
            CD.q_neardup_pairs(spark, SF),
            similarity.q_pq_encode(spark, SF),
            overlay.doc_items_df(spark, 5, partitions=1),
        ]
        cohesion.q_coreset_kcenter(spark, SF).collect()
        dfs += list(cohesion._MEMO.values())
        filled = (CD._PAIRS_CACHE, similarity._MEMO, cohesion._MEMO,
                  overlay._MEMO)
        assert all(filled)
        assert all(df.is_cached for df in dfs)
    finally:
        artifacts.clear()
    assert not any(df.is_cached for df in dfs)
    assert not any(artifacts._MEMOS)
