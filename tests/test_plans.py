"""Physical-plan audits: the plans the 100 TB deployment depends on.

Asserts Catalyst properties rather than timings (timings are host-noisy;
plan shape is deterministic): column pruning reaches the parquet scan,
predicates push down, small dimensions broadcast, and the extraction
pipeline stays shuffle-free.
"""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_token_stats_prunes_columns(spark):
    from docling_core_spark.corpus.textstats import q_token_stats

    plan = _plan(q_token_stats(spark, SF))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    # only doc_id + text reach the scan — lang/source/n_chars pruned
    assert "text" in scan[0] and "doc_id" in scan[0]
    assert "lang" not in scan[0] and "source" not in scan[0]


def test_tpch_q1_pushes_filter(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["tpch_q1"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan
    ), plan


def test_top_customers_broadcasts_dimension(spark):
    import __spark_entry__ as E

    plan = _plan(E.queries()["top_customers"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_pipeline_is_shuffle_free(spark):
    """The hot path must contain NO Exchange when the input partitioning
    is kept (every transform is per-document)."""
    from docling_core_spark.pipeline import run_pipeline, synth_docs

    docs = synth_docs(spark, 50, partitions=2)
    plan = _plan(run_pipeline(docs))
    assert "Exchange" not in plan, plan


def test_pipeline_salting_adds_exactly_one_exchange(spark):
    from docling_core_spark.pipeline import run_pipeline, synth_docs

    docs = synth_docs(spark, 50, partitions=2)
    plan = _plan(run_pipeline(docs, salt_partitions=8))
    assert plan.count("Exchange") >= 1
    # the salted repartition keys on the doc_id hash
    assert "xxhash64" in plan, plan


def test_knn_broadcasts_queries(spark):
    from docling_core_spark.corpus.similarity import q_knn_bruteforce

    plan = _plan(q_knn_bruteforce(spark, SF))
    assert "Broadcast" in plan, plan


def test_media_externalize_is_shuffle_free(spark):
    """The media-ref rewrite + manifest explode is a pure transform()
    chain — no Exchange anywhere."""
    from docling_core_spark.ops.media import media_manifest
    from docling_core_spark.pipeline import synth_docs

    docs = synth_docs(spark, 50, partitions=2)
    plan = _plan(media_manifest(docs))
    assert "Exchange" not in plan, plan


def test_variant_exports_is_shuffle_free(spark):
    from docling_core_spark.pipeline import synth_docs, variant_exports

    docs = synth_docs(spark, 50, partitions=2)
    plan = _plan(variant_exports(docs))
    assert "Exchange" not in plan, plan


def test_ivf_broadcasts_centroids(spark):
    """The centroid table must reach every executor as a broadcast, not
    a shuffle join — the property that keeps IVF assignment scan-shaped
    at 10^12 rows."""
    from docling_core_spark.corpus.similarity import q_ann_ivf_topk

    plan = _plan(q_ann_ivf_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_curation_single_exchange(spark):
    """The composed curation decision costs exactly ONE shuffle (the
    content-hash canonicalization window) plus AQE reads."""
    from docling_core_spark.corpus.curation import q_corpus_curation

    import re

    plan = _plan(q_corpus_curation(spark, SF))
    # formatted explain lists each node once as "(N) Exchange" in the
    # detail section; expect exactly the text_hash window partition
    # plus read_spread's test-file fan-out (absent on real tables)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan


def test_ann_lsh_no_candidate_distinct_shuffle(spark):
    """Round-3 property: cross-band candidate dedup is the map-side
    min-band filter, NOT a distinct — so the plan has no aggregate over
    the candidate id-pairs, and the query-bounded candidate side
    reaches the embedding joins as a broadcast."""
    import re

    from docling_core_spark.corpus.similarity import q_ann_lsh_topk

    plan = _plan(q_ann_lsh_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the only aggregation allowed is none at all pre-top-k; a distinct
    # would appear as HashAggregate over (q_id, neighbor_id)
    aggs = re.findall(r"^\(\d+\) HashAggregate", plan, re.M)
    assert not aggs, plan


def test_neardup_cosine_no_candidate_distinct_shuffle(spark):
    """Default (uncapped) path: the pair dedup must be the min-band
    filter (zero extra shuffle), not a global distinct."""
    import re

    from docling_core_spark.corpus.similarity import q_neardup_cosine

    plan = _plan(q_neardup_cosine(spark, SF))
    aggs = re.findall(r"^\(\d+\) HashAggregate", plan, re.M)
    assert not aggs, plan


def test_ivf_pairs_broadcast_into_embedding_joins(spark):
    """The probe/assignment pair set (bounded by queries x cell size)
    broadcasts into the embedding joins — the corpus-side signature
    table is never shuffled by vec_id."""
    from docling_core_spark.corpus.similarity import q_ann_ivf_topk

    plan = _plan(q_ann_ivf_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_jaccard_pairs_caps_df_without_self_join(spark):
    """The stop-shingle DF cap is a bucket-size cap on the posting
    groupBy (`_bucket_pairs`): posting rows never meet in a self-join,
    the pairs come from an in-bucket Generate, and the whole
    exact-join plan stays within its bounded shuffle budget: posting
    groupBy, pair agg, two doc_id joins (+ read_spread fan-out on the
    tiny test file)."""
    import re

    from docling_core_spark.corpus.dedup import q_jaccard_pairs

    plan = _plan(q_jaccard_pairs(spark, SF))
    # (join, left keys) per join node: only the doc_id size joins,
    # none keyed on the posting shingle g
    joins = re.findall(
        r"^\(\d+\) (\w*Join)\nLeft keys \[\d+\]: \[(.*)\]", plan, re.M
    )
    assert joins, plan
    assert not [j for j, keys in joins if keys.startswith("g#")], plan
    assert re.search(r"^\(\d+\) Generate", plan, re.M), plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 6, plan


def test_dup_ngrams_bounded_exchanges(spark):
    """Bigram stats: gram groupBy + doc groupBy + the stitch join (+
    read_spread fan-out) — no hidden extra shuffles."""
    import re

    from docling_core_spark.corpus.filters import q_dup_ngrams

    plan = _plan(q_dup_ngrams(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 5, plan


def test_corpus_stats_single_rollup_exchange(spark):
    """One groupBy on the tiny (source, lang) key with map-side partial
    aggregation (+ read_spread fan-out)."""
    import re

    from docling_core_spark.corpus.textstats import q_corpus_stats

    plan = _plan(q_corpus_stats(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan
    assert "partial_" in plan.lower() or "ObjectHashAggregate" in plan, plan


def test_range_join_never_nested_loop(spark):
    """The whole point of the bucketed range join: the range predicate
    must ride a hash equi-join, never a BroadcastNestedLoopJoin or a
    cartesian product."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["events_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_asof_join_single_user_exchange(spark):
    """The as-of realization is union -> ONE user-keyed exchange ->
    ordered window; no join of the two event streams appears at all."""
    import re

    import __spark_entry__ as E

    plan = _plan(E.queries()["events_asof"](spark, SF))
    assert "Window" in plan, plan
    assert "NestedLoop" not in plan, plan
    # formatted-mode detail lines carry the partitioning expression
    assert re.search(r"hashpartitioning\(user_id", plan), plan
    assert re.findall(r"^\(\d+\) Exchange", plan, re.M), plan


def test_cocitation_no_edge_self_join(spark):
    """Pairs must expand in-array after one doc-keyed exchange — an
    edges-x-edges SortMergeJoin on doc_id would be the rejected design."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["link_cocitation"](spark, SF))
    assert "Generate explode" in plan or "Generate" in plan, plan
    # the only joins are the two target-keyed degree joins
    assert plan.count("SortMergeJoin") <= 2, plan


def test_winnow_fingerprint_zero_shuffle(spark):
    """Winnowing is pure per-row array lambdas: no Exchange beyond the
    read_spread fan-out repartition may appear."""
    import re

    from docling_core_spark.corpus.dedup import q_winnow_fingerprint

    plan = _plan(q_winnow_fingerprint(spark, SF))
    hash_exchanges = re.findall(r"hashpartitioning", plan)
    assert not hash_exchanges, plan


def test_simhash_neardup_exchange_budget(spark):
    """One bucket groupBy + the pair distinct — no third corpus-width
    shuffle may creep in."""
    import re

    from docling_core_spark.corpus.dedup import q_simhash_neardup

    plan = _plan(q_simhash_neardup(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange hashpartitioning", plan, re.M)
    assert len(exchanges) <= 2, plan


def test_url_normalize_zero_shuffle_and_pruned_scan(spark):
    """Canonicalization is pure per-row expressions: no hash exchange;
    only doc_id reaches the scan (the URL is synthesised from it)."""
    import re

    from docling_core_spark.corpus.urls import q_url_normalize

    plan = _plan(q_url_normalize(spark, SF))
    assert not re.findall(r"hashpartitioning", plan), plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "doc_id" in scan[0] and "text" not in scan[0]


def test_repetition_ladder_zero_shuffle(spark):
    """The full ladder is array lambdas in one codegen stage — no
    Exchange beyond the read_spread fan-out."""
    import re

    from docling_core_spark.corpus.filters import q_repetition_ladder

    plan = _plan(q_repetition_ladder(spark, SF))
    assert not re.findall(r"hashpartitioning", plan), plan


def test_media_dedup_single_exchange_no_payload_shuffle(spark):
    """One digest groupBy; the binary payload is digested BEFORE the
    exchange so only (digest, id, n_bytes) cross the wire."""
    import re

    from docling_core_spark.corpus.multimodal import q_media_dedup

    plan = _plan(q_media_dedup(spark, SF))
    exchanges = re.findall(r"Arguments: hashpartitioning", plan)
    assert len(exchanges) == 1, plan
    # downstream of the digest shuffle the payload column is gone —
    # only (digest, counts) reach the final aggregate
    assert "payload" not in plan.split("hashpartitioning")[-1], plan


def test_robots_filter_broadcasts_rules(spark):
    from docling_core_spark.corpus.urls import q_robots_filter

    plan = _plan(q_robots_filter(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_crossdedup_never_self_pairs_old_side(spark):
    """Candidate generation joins new-side bands against old-side bands
    only — the old corpus must not appear on both sides of the join
    (cost scales with the batch, not the corpus)."""
    from docling_core_spark.corpus import dedup as CD

    CD.clear_caches()
    try:
        rows = CD.q_crossdedup_lsh(spark, SF).collect()
        assert rows
        for r in rows:
            assert r["doc_id"] % CD.CROSS_NEW_MOD == 0
            if r["is_dup"]:
                assert r["match_id"] % CD.CROSS_NEW_MOD != 0
                assert r["jaccard"] >= 0.5
            else:
                assert r["match_id"] is None and r["n_candidates"] == 0
    finally:
        CD.clear_caches()


def test_bm25_broadcasts_query_vocab(spark):
    """The query vocabulary must reach the token stream as a broadcast
    semi-join (no corpus-wide shuffle before the term filter), and the
    salted cut must keep the heavy window off the raw stream: both
    row_number windows run AFTER the per-(query, doc) aggregate."""
    from docling_core_spark.corpus.bm25 import q_bm25_topk

    plan = _plan(q_bm25_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_lm2_no_corpus_wide_window(spark):
    """The bigram LM must never rank or window the corpus: only
    joins + aggregates may appear."""
    from docling_core_spark.corpus.lm2 import q_lm2_score

    plan = _plan(q_lm2_score(spark, SF))
    assert "Window" not in plan, plan


def test_source_drift_broadcasts_scalars(spark):
    from docling_core_spark.corpus.drift import q_source_drift

    plan = _plan(q_source_drift(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_emb_dim_stats_partial_agg_single_exchange(spark):
    """The 64-key dim census must collapse map-side: HashAggregate
    with partial_ BEFORE the single rollup exchange (+ read_spread
    fan-out); no window, no Python."""
    import re

    from docling_core_spark.corpus.cohesion import q_emb_dim_stats

    plan = _plan(q_emb_dim_stats(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan


def test_tok_fertility_one_exchange_pruned_scan(spark):
    """The Arrow tokenizer stage pre-aggregates per batch, so the plan
    is scan -> mapInPandas -> one lang-keyed rollup exchange; only
    (lang, text) reach the parquet scan."""
    import re

    from docling_core_spark.corpus.fertility import q_tok_fertility

    plan = _plan(q_tok_fertility(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan  # rollup + read_spread fan-out
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" in scan[0] and "lang" in scan[0], plan
    assert "n_chars" not in scan[0] and "source" not in scan[0], plan


def test_events_funnel_pushes_type_predicates(spark):
    """Each funnel stage's event_type filter must reach the scan, and
    no stage may plan a nested-loop join."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["events_funnel"](spark, SF))
    assert "NestedLoop" not in plan, plan
    assert "PushedFilters" in plan and "event_type" in plan, plan


def test_pmi_pairs_takeordered_no_full_sort(spark):
    """The top-k cut must be TakeOrdered on the already-joined
    candidate table, never a global Sort of the full gram aggregate;
    corpus scalars broadcast."""
    from docling_core_spark.corpus.keywords import q_pmi_pairs

    plan = _plan(q_pmi_pairs(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_token_budget_no_corpus_wide_window(spark):
    """The only unpartitioned window must run over the <=64-row band
    table; every corpus-sized window is partitioned by band, and the
    band-prefix/budget scalars broadcast."""
    import re

    from docling_core_spark.corpus.budget import q_token_budget_select

    plan = _plan(q_token_budget_select(spark, SF))
    assert "BroadcastExchange" in plan, plan
    # unpartitioned windows appear as SinglePartition exchanges; they
    # must be fed by the tiny band-total aggregate, not a corpus scan
    sp = re.findall(r"^\(\d+\) Exchange SinglePartition", plan, re.M)
    assert len(sp) <= 1, plan


def test_emb_covariance_constant_key_partial_agg(spark):
    """The 2080-key covariance rollup must combine map-side (partial_
    HashAggregate before the single exchange + read_spread fan-out);
    no window, no Python, no cartesian."""
    import re

    from docling_core_spark.corpus.cohesion import q_emb_covariance

    plan = _plan(q_emb_covariance(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_token_entropy_uniform_keys_no_window(spark):
    """(doc_id, token) count and the doc rollup are both partial-agg
    groupBys; the totals join keys on uniform doc_id; no window."""
    from docling_core_spark.corpus.textstats import q_token_entropy

    plan = _plan(q_token_entropy(spark, SF))
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan


def test_code_detect_zero_shuffle_pruned(spark):
    from docling_core_spark.corpus.filters import q_code_detect

    import re

    plan = _plan(q_code_detect(spark, SF))
    # the only exchange allowed is read_spread's RoundRobin fan-out
    # for single-file parquet; no hash/shuffle exchange
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 1, plan
    assert "hashpartitioning" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" in scan[0] and "lang" not in scan[0], plan


def test_media_captions_zero_shuffle(spark):
    """The caption pairing must stay a per-row HOF: no Exchange, no
    Window, no Python in the plan."""
    from docling_core_spark.ops.media import media_captions
    from docling_core_spark.pipeline import synth_docs

    plan = _plan(media_captions(synth_docs(spark, 20, partitions=2)))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_hll_register_build_partial_agg(spark):
    """The 256-register build must combine map-side before its single
    exchange; the estimate side must not introduce a window."""
    from docling_core_spark.corpus.keywords import q_hll_distinct

    plan = _plan(q_hll_distinct(spark, SF))
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan


def test_cluster_keeper_no_window_over_members(spark):
    """Quality-aware keeper election must be groupBy-argmax (map-side
    combinable), never a window partitioned by cluster_id — a
    boilerplate mega-cluster would make that partition the straggler."""
    from docling_core_spark.corpus.curation import q_cluster_keeper_quality

    plan = _plan(q_cluster_keeper_quality(spark, SF))
    assert "Window" not in plan, plan
    assert "partial_" in plan.lower(), plan


def test_bpe_pairs_vocab_first_partial_agg(spark):
    """BPE pair counting must collapse the corpus to the word-count
    table BEFORE pair expansion (two partial-agg groupBys), and the
    only window runs over the already-cut top-K rows."""
    from docling_core_spark.corpus.keywords import q_bpe_pair_counts

    plan = _plan(q_bpe_pair_counts(spark, SF))
    assert "partial_count" in plan or "partial_" in plan.lower(), plan
    assert "TakeOrderedAndProject" in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" in scan[0] and "doc_id" not in scan[0], plan


def test_emb_pca_var_constant_key_partial_agg(spark):
    """The PCA quadratic-form check must ride the covariance pass: the
    only corpus-sized work is the 2080-key constant groupBy (map-side
    combined); the per-component rollup is an 8-key partial agg; no
    window, no join back to the corpus."""
    from docling_core_spark.corpus.cohesion import q_emb_pca_var

    plan = _plan(q_emb_pca_var(spark, SF))
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "embedding" in scan[0] and "vec_id" not in scan[0], plan


def test_compaction_plan_partition_window_only(spark):
    """The compaction planner's window must partition by (source, lang)
    — never a global SinglePartition ordering — and the manifest rollup
    must partial-aggregate before its exchange."""
    from docling_core_spark.corpus.maintenance import q_compaction_plan

    plan = _plan(q_compaction_plan(spark, SF))
    assert "partial_" in plan.lower(), plan
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "n_chars" in scan[0] and "text" not in scan[0], plan


def test_tpch_q3_broadcast_dim_takeordered(spark):
    """Q3: the segment-filtered customer dimension must broadcast, the
    top-10 must be TakeOrderedAndProject (never a global sort), and
    both date predicates must push to the scans."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["tpch_q3"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "o_orderdate" in plan and "l_shipdate" in plan, plan


def test_tpch_q5_broadcasts_all_dims(spark):
    """Q5: every dimension (nation+region, customer, supplier) must
    broadcast — the only corpus-sized exchange is the orders-lineitem
    hash join."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["tpch_q5"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_stream_enrich_join_is_broadcast(spark):
    """The enrichment transform (the exact expression tree the stream
    runs per micro-batch) must plan as a BroadcastHashJoin — the
    zero-stream-side-shuffle claim, asserted on the batch twin."""
    from docling_core_spark.streaming.enrich import enrich

    from pyspark.sql import functions as F

    facts = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dim = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plan = _plan(enrich(facts, dim, "o_custkey"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_merge_plan_key_join_partial_agg(spark):
    """MERGE planning: the change batch joins the target on the unique
    doc_id key and the per-partition rollup partial-aggregates; no
    window, no cartesian."""
    from docling_core_spark.corpus.maintenance import q_merge_plan

    plan = _plan(q_merge_plan(spark, SF))
    assert "partial_" in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" not in scan[0], plan


def test_emb_outliers_takeordered_no_window_shuffle(spark):
    """Outlier census: constant-key stats agg broadcast back, per-row
    exact fold, TakeOrdered top-K — the only Window runs on the
    already-cut K rows."""
    from docling_core_spark.corpus.cohesion import q_emb_outliers

    plan = _plan(q_emb_outliers(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan or "Broadcast" in plan, plan


def test_lsh_multiprobe_query_side_fanout_only(spark):
    """Multi-probe must fan out the QUERY side only: the probe set
    broadcasts into the index join and into the embedding joins; the
    corpus index is untouched (no extra corpus-sized aggregate)."""
    from docling_core_spark.corpus.similarity import q_ann_lsh_multiprobe

    plan = _plan(q_ann_lsh_multiprobe(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_gram_pipelines_tokenize_once(spark):
    """Linearity guard for every k-gram / segment pipeline: the
    document split must be projected ONCE per scan, never inlined
    inside the per-gram lambda. `slice(split(...)` in the optimized
    plan means Spark re-splits the whole document for every gram —
    an O(tokens^2) per-row blowup (measured 86.8 s vs 1.4 s on
    200 x 5000-token docs at local[8])."""
    from docling_core_spark.corpus.dedup import (
        q_dup_passages,
        q_seg_dedup,
        q_winnow_fingerprint,
    )

    for q in (q_seg_dedup, q_dup_passages, q_winnow_fingerprint):
        plan = _plan(q(spark, SF))
        flat = " ".join(plan.split())
        assert "slice(split(" not in flat, (q.__name__, plan[:4000])


def test_template_dedup_no_text_in_exchange(spark):
    """Template dedup hashes BEFORE the exchange: the distinct-agg
    shuffles carry (tpl_hash, text_hash, doc_id) only — document text
    never crosses an exchange — and injection is a single-scan
    explode, not a multi-arm union re-reading the table."""
    import re

    from docling_core_spark.corpus.templates import q_template_dedup

    plan = _plan(q_template_dedup(spark, SF))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_mojibake_census_single_rollup_exchange(spark):
    """All three damage counters are per-row expressions; the only
    shuffle is the source rollup (plus read_spread's test-file
    fan-out)."""
    import re

    from docling_core_spark.corpus.filters import q_mojibake_census

    plan = _plan(q_mojibake_census(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan


def test_adaptive_quality_broadcasts_thresholds_no_corpus_window(spark):
    """The per-source quantile runs over BUCKET rows (<= 1001/source):
    every Window node sorts bucket/cnt columns, never per-document
    rows, and the threshold table reaches the corpus side as a
    broadcast."""
    import re

    from docling_core_spark.corpus.curation import q_adaptive_quality

    plan = _plan(q_adaptive_quality(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # window operators must consume the bucket aggregate (cnt column),
    # not raw documents: no window input carries q_micro per doc
    win_lines = [
        ln for ln in plan.splitlines() if re.match(r"^\(\d+\) Window", ln)
    ]
    assert win_lines, plan
    assert "cnt#" in plan, plan


def test_vocab_growth_broadcast_curve_join(spark):
    """The Heaps-curve assembly joins VG_POINTS-row aggregates via
    broadcast (no sort-merge exchanges on k), and the only corpus-wide
    shuffle is the token first-doc aggregate."""
    import re

    from docling_core_spark.corpus.textstats import q_vocab_growth

    plan = _plan(q_vocab_growth(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_ablation_fixed_width_aggregate(spark):
    """The ablation is one fixed-width aggregate over the zero-shuffle
    Gopher signals collapsed map-side to a single row: at most the
    read_spread fan-out plus the single-partition final-agg exchange."""
    import re

    from docling_core_spark.corpus.filters import q_filter_ablation

    plan = _plan(q_filter_ablation(spark, SF))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 2, plan


def test_dedup_agreement_no_cartesian(spark):
    """The agreement join runs at pair-table size; the only cross
    joins are the three one-row aggregate combines (broadcast nested
    loop, never a CartesianProduct over data)."""
    from docling_core_spark.corpus.dedup import q_dedup_agreement

    plan = _plan(q_dedup_agreement(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_split_ks_windows_over_grid_not_documents(spark):
    """The KS windows run over the (split x bucket) grid: every Window
    node's child is the broadcast-joined grid (cnt column present), and
    the corpus contributes only one map-side-combined groupBy."""
    import re

    from docling_core_spark.corpus.splits import q_split_ks

    plan = _plan(q_split_ks(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "cnt#" in plan, plan
    # no corpus-sized sort: the only Sorts serve the grid windows
    win = re.findall(r"^\(\d+\) Window", plan, re.M)
    assert win, plan


def test_kmeans_step_broadcasts_and_bounds_state(spark):
    """The Lloyd-step assign must broadcast the k-row centroid table
    (scan-shaped at 10^12 rows) and its sufficient-statistics groupBy
    must be partial-aggregated map-side (HashAggregate pairs around the
    single exchange) so each partition ships <= k x dim rows."""
    from docling_core_spark.corpus.similarity import q_kmeans_step

    df = q_kmeans_step(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    rows = df.collect()
    assert 0 < len(rows) <= 32
    assert sum(r.n_points for r in rows) > 0


def test_badwords_filter_is_shuffle_free(spark):
    """The C4 blocklist census is pure per-row expression work — a
    hash exchange would mean the blocklist leaked into a join (only
    read_spread's RoundRobin single-file fan-out may appear)."""
    import re

    from docling_core_spark.corpus.filters import q_badwords_filter

    plan = _plan(q_badwords_filter(spark, SF))
    assert "hashpartitioning" not in plan, plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 1, plan


def test_reading_order_windows_partition_by_page(spark):
    """Every XY-cut window must partition by page_id — a global
    (unpartitioned) window would serialize 10^12 cells through one
    task."""
    import re

    from docling_core_spark.pages import q_page_reading_order

    plan = _plan(q_page_reading_order(spark, SF))
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, plan
    for s in specs:
        assert "page_id" in s, (s, plan)


def test_tpch_q4_uses_semi_join(spark):
    """The EXISTS must compile to a LEFT SEMI join (probe side carries
    no payload, short-circuits per order) — a full inner join + dedup
    would rebuild the duplicate rows Q4 exists to avoid."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["tpch_q4"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "ReadSchema" in plan
    li_scans = [ln for ln in plan.splitlines()
                if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_scans and all(
        "l_extendedprice" not in ln for ln in li_scans
    ), plan


def test_tpch_q6_scanside_no_exchange_before_agg(spark):
    """Q6: all four predicates push to the parquet scan, the scan reads
    only the needed columns, and the plan is scan -> partial agg ->
    single-row final agg (no join, no wide exchange beyond the 1-row
    reduce)."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["tpch_q6"](spark, SF))
    assert "l_shipdate" in plan and "l_discount" in plan, plan
    assert "PushedFilters" in plan or "Filter" in plan, plan
    assert "Join" not in plan, plan
    # projection pruning: the untouched wide columns never appear
    assert "l_comment" not in plan and "l_returnflag" not in plan, plan


def test_rrf_fusion_broadcasts_and_full_outer_is_tiny(spark):
    """Both rankers must cut the token stream with broadcast semi-joins
    (the corpus never shuffles its full term stream), and the fusion
    join must be the only full-outer — operating on the two top-K
    tables, after both salted cuts."""
    from docling_core_spark.corpus.bm25 import q_rrf_fusion

    import re

    plan = _plan(q_rrf_fusion(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # exactly ONE full-outer join NODE (formatted mode lists each node
    # in the tree and once in the details -> one node == two mentions)
    joins = re.findall(r"Join FullOuter \(\d+\)", plan)
    assert len(joins) == 1, plan


def test_kmv_source_overlap_shuffles_hashes_not_grams(spark):
    """The only corpus-sized exchange may carry (source, 30-bit hash)
    rows — gram TEXT must never cross an exchange (it is hashed
    map-side before the distinct)."""
    from docling_core_spark.corpus import keywords as CK

    import re

    plan = _plan(CK.q_kmv_source_overlap(spark, SF))
    # every hash exchange must be keyed on (source / h / pair keys) —
    # never on the gram string itself (it is hashed map-side)
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and "gram" not in keys, plan
    # the persisted artifact must appear (memoized fan-out table)
    assert "InMemoryTableScan" in plan, plan


def test_fuzzy_decontaminate_broadcasts_eval_side(spark):
    """The benchmark-sized eval side (band keys AND shingle sets) must
    broadcast; the persisted augmented-shingle artifact must be read
    from cache, not recomputed per branch."""
    from docling_core_spark.corpus import dedup as CD

    plan = _plan(CD.q_fuzzy_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_corpus_rollup_single_expand(spark):
    """ROLLUP must plan as ONE Expand + one hash aggregate chain over
    ONE scan of the documents table — not three dashboard scans."""
    import re

    from docling_core_spark.corpus.textstats import q_corpus_rollup

    plan = _plan(q_corpus_rollup(spark, SF))
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_bow_dedup_hash_only_exchanges(spark):
    """The sorted-token-multiset key is computed map-side: no window,
    and every hash exchange is keyed on the 16-byte hashes (the
    countDistinct two-phase pair) — document text never shuffles."""
    import re

    from docling_core_spark.corpus.templates import q_bow_dedup

    plan = _plan(q_bow_dedup(spark, SF))
    assert "Window" not in plan, plan
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) <= {"bow_hash", "text_hash"}, plan


def test_readability_no_explode_no_window(spark):
    """All three Flesch components are per-row array expressions — the
    plan must contain no Generate (explode) and no Window; the only
    exchange is the groupBy(source)."""
    from docling_core_spark.corpus.filters import q_readability

    plan = _plan(q_readability(spark, SF))
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan


def test_texttiling_no_inferred_generate_filter(spark):
    """The boundary explode must be an OUTER generate: a plain explode
    lets InferFiltersFromGenerate push a size(...)>0 predicate below
    the tiling projections, inlining the whole chain (re-splitting the
    document per tile — O(tokens^2) per row, measured 45x at
    1,000-token docs). The optimized plan must carry no Filter that
    evaluates the tile pipeline."""
    import re

    from docling_core_spark.corpus.textstats import q_texttiling

    df = q_texttiling(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        if line.strip().startswith("Filter") or "+- Filter" in line:
            assert "array_intersect" not in line, line[:400]
            assert "array_distinct" not in line, line[:400]
