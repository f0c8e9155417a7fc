"""Near-duplicate detection: MinHash signatures, LSH banding, candidate
verification by exact shingle Jaccard, and SimHash.

Scale design (the 100 TB story):
  - Shingling/hashing/signatures are narrow per-row JVM expressions — no
    shuffle, full whole-stage codegen, columns pruned to (doc_id, text).
  - LSH banding turns O(n^2) pair search into `explode(bands)` +
    `groupBy(band_id, band_key)` — ONE shuffle keyed by band hash, which
    is uniformly distributed by construction (md5 of minhashes), so no
    skew. Bucket sizes are bounded because only true near-duplicates
    collide in a band.
  - Pairwise Jaccard verification runs ONLY on LSH candidates (a tiny
    fraction of n^2); the shingle sets are re-joined by doc_id, an
    AQE-managed shuffle join at most the size of the candidate set.
  - The self-pair finders block, then verify (SparkER, EDBT'19): one
    substrate, `_bucket_pairs`, groups rows by a blocking key (LSH band,
    SimHash table, winnow print, shingle, href) and expands each bucket
    into its pairs in the JVM; the finder then verifies them. Its
    `max_bucket` is both the hot-bucket guard and, on an inverted index,
    the document-frequency cap.

Every op has a DuckDB oracle generated from the same constants
(`constants.py`) so the driver's gate verifies values exactly.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import Memo, clear
from . import constants as C, read_spread
from .textstats import TOKENS_DUCK, TOKENS_SPARK, _h30_duck, _h30_spark

# ---------------------------------------------------------------------------
# shingle + signature fragments
# ---------------------------------------------------------------------------


def _shingles_spark() -> str:
    """Distinct word k-shingles; docs shorter than k tokens fall back to
    one whole-text shingle (both dialects guard identically — Spark's
    sequence(1, 0) is a DESCENDING range, not empty, so the guard is
    mandatory)."""
    k = C.SHINGLE_K
    parts = ", ".join(
        f"element_at(toks, i + {j})" for j in range(k)
    )
    return (
        f"CASE WHEN size(toks) < {k} THEN array(concat_ws(' ', toks)) "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {k - 1}),"
        f" i -> concat_ws(' ', {parts}))) END"
    )


def _shingles_duck() -> str:
    k = C.SHINGLE_K
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len(toks) < {k} THEN [array_to_string(toks, ' ')] "
        f"ELSE list_distinct(list_transform(generate_series(1,"
        f" len(toks) - {k - 1}), i -> {parts})) END"
    )


def _sig_exprs_spark() -> list[str]:
    return [
        f"array_min(transform(hs, h -> (h * {a}L + {b}L) % {C.MINHASH_P}))"
        for (a, b) in C.MINHASH_PERMS
    ]


def _sig_exprs_duck() -> list[str]:
    return [
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {C.MINHASH_P}))"
        for (a, b) in C.MINHASH_PERMS
    ]


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select("doc_id", F.expr(_shingles_spark()).alias("sh"))


# One persisted shingle table per (session, sf_dir): the in-session
# analog of materializing the signature table to storage, which is what
# a 100 TB run would do (compute shingles/signatures exactly once, then
# band + verify from the materialized table).
_SHINGLE_CACHE = Memo("dedup.shingles")
# verified near-dup pairs: the second table a production dedup run
# materializes — downstream consumers (connected-component clustering,
# curation) read it instead of re-running the LSH + Jaccard chain
_PAIRS_CACHE = Memo("dedup.pairs")
# the cluster assignment (doc_id -> canonical): the keep/drop list IS
# the final artifact a dedup job writes to storage
_CLUSTERS_CACHE = Memo("dedup.clusters")
clear_caches = clear  # the name perfbench and the dedup tests clear through


def _persisted_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _SHINGLE_CACHE.fetch(
        spark, sf_dir, build=lambda: _shingles_df(spark, sf_dir))


def _sig_from_shingles(sh: DataFrame) -> DataFrame:
    return sh.select(
        "doc_id",
        "sh",
        F.expr(f"transform(sh, g -> {_h30_spark('g')})").alias("hs"),
    ).select(
        "doc_id",
        F.size("sh").alias("n_shingles"),
        *[
            F.expr(e).alias(f"mh_{i}")
            for i, e in enumerate(_sig_exprs_spark())
        ],
    )


def _with_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sig_from_shingles(_persisted_shingles(spark, sf_dir))


_SIG_CTE_DUCK = """
    toks AS (SELECT doc_id, {tokens} AS toks FROM documents),
    shs AS (SELECT doc_id, {shingles} AS sh FROM toks),
    hss AS (SELECT doc_id, sh,
                   list_transform(sh, g -> {h30}) AS hs FROM shs),
    sig AS (SELECT doc_id, len(sh) AS n_shingles, {sigs} FROM hss)
"""


def _sig_cte_duck() -> str:
    return _SIG_CTE_DUCK.format(
        tokens=TOKENS_DUCK,
        shingles=_shingles_duck(),
        h30=_h30_duck("g"),
        sigs=", ".join(
            f"{e} AS mh_{i}" for i, e in enumerate(_sig_exprs_duck())
        ),
    )


# ---------------------------------------------------------------------------
# minhash signatures
# ---------------------------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_signatures(spark, sf_dir)


def sql_minhash_signatures() -> str:
    return f"WITH {_sig_cte_duck()} SELECT * FROM sig"


# ---------------------------------------------------------------------------
# LSH buckets (banding)
# ---------------------------------------------------------------------------

def _band_key_spark(b: int) -> str:
    cols = ", ".join(
        f"cast(mh_{b * C.ROWS_PER_BAND + r} as string)"
        for r in range(C.ROWS_PER_BAND)
    )
    return f"md5(encode(concat_ws('-', {cols}), 'utf-8'))"


def _band_key_duck(b: int) -> str:
    cols = " || '-' || ".join(
        f"mh_{b * C.ROWS_PER_BAND + r}::VARCHAR"
        for r in range(C.ROWS_PER_BAND)
    )
    return f"md5({cols})"


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    band_structs = ", ".join(
        f"struct({b} as band_id, {_band_key_spark(b)} as band_key)"
        for b in range(C.LSH_BANDS)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("bd")
    ).select("doc_id", "bd.band_id", "bd.band_key")


def _bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bands_from_sig(_with_signatures(spark, sf_dir))


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colliding LSH buckets = near-duplicate clusters (candidates)."""
    bands = _bands_df(spark, sf_dir)
    return (
        bands.groupBy("band_id", "band_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.expr(
                "md5(encode(concat_ws(',', transform("
                "sort_array(collect_list(doc_id)),"
                " d -> cast(d as string))), 'utf-8'))"
            ).alias("cluster_md5"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def sql_lsh_buckets() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_band_key_duck(b)} AS band_key"
        f" FROM sig"
        for b in range(C.LSH_BANDS)
    )
    return f"""
        WITH {_sig_cte_duck()},
        bands AS ({band_selects})
        SELECT band_id, band_key, count(*) AS n_docs,
               min(doc_id) AS min_doc,
               md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id))
                   AS cluster_md5
        FROM bands GROUP BY band_id, band_key HAVING count(*) >= 2
    """


# ---------------------------------------------------------------------------
# blocking substrate: bucket by key -> in-bucket pairs
# ---------------------------------------------------------------------------

def _bucket_pairs(
    rows: DataFrame, keys: list, item, max_bucket: int = 0
) -> DataFrame:
    """(a, b): one row per pair of distinct `item` values with a < b that
    share a bucket of `keys`, once per shared bucket — `.distinct()`
    gives the candidate set, `groupBy(a, b).count()` the shared-bucket
    count.

    A bucket is the SET of its items: a repeated item neither pairs
    with itself nor counts twice, and because collect_set ignores
    duplicates Catalyst drops a `.distinct()` that only feeds it (the
    link finders' edge table is not shuffled a second time).
    `max_bucket` > 0 drops buckets with more items than the cap before
    expansion: the hot-bucket guard on LSH/SimHash/winnow buckets, and
    on an inverted index (keys = the term) the document-frequency cap.
    One groupBy shuffle; the O(bucket^2) expansion runs inside each
    bucket's sorted array, no self-join."""
    buckets = (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_set(item)).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket > 0:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds)), y ->"
                " struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")


def _lsh_candidates(sh: DataFrame, max_bucket: int = 0) -> DataFrame:
    """(doc_a, doc_b): distinct pairs sharing at least one LSH band."""
    bands = _bands_from_sig(_sig_from_shingles(sh))
    return _bucket_pairs(
        bands, ["band_id", "band_key"], "doc_id", max_bucket
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b")).distinct()


def _shared_shingles(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter): every pair sharing a shingle,
    with both set sizes and the intersection size — the AllPairs
    inverted index (Bayardo et al. WWW'07) over posting rows (doc_id, g),
    stop-shingles with document frequency above `JACCARD_MAX_DF` dropped
    (without the cap the expansion grows O(sum df^2)). Shuffles: the
    posting groupBy (uniform: shingles are near-unique trigrams), the
    pair count on (doc_a, doc_b), and two doc_id size joins."""
    sizes = sh.select("doc_id", F.size("sh"))
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    return (
        _bucket_pairs(posts, ["g"], "doc_id", C.JACCARD_MAX_DF)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
        .join(sizes.toDF("doc_a", "n_a"), "doc_a")
        .join(sizes.toDF("doc_b", "n_b"), "doc_b")
        .select("doc_a", "doc_b", "n_a", "n_b", "inter")
    )


# ---------------------------------------------------------------------------
# near-dup pairs: LSH candidates -> exact shingle-Jaccard verification
# ---------------------------------------------------------------------------

def q_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = 0
) -> DataFrame:
    """LSH candidates -> exact shingle-Jaccard verification.

    `max_bucket` > 0 drops buckets larger than the cap before pair
    expansion — the standard hot-bucket guard: a bucket with 10^5
    members is boilerplate-duplicate mass whose pairs are O(bucket^2)
    and already captured by exact dedup; capping bounds the worst-case
    candidate count at corpus scale (0 = no cap, the oracle-checked
    default at test scale where buckets are tiny).

    Shape for 100 TB: the shingle table is computed ONCE and persisted
    (on a cluster you would materialize the signature table to storage —
    persist is the in-query analog); candidate pairs are generated
    WITHIN each LSH bucket by `_bucket_pairs` after a single
    groupBy(band) shuffle — no self-join of the bands table, so
    the expensive minhash pipeline is never recomputed per join side.
    Bucket sizes are bounded (only near-dups collide in a band), so the
    in-bucket pair expansion is O(bucket^2) with tiny buckets.

    The default (uncapped) verified-pairs table is itself memoized per
    session — like the shingle table, it is the artifact a production
    run materializes once; downstream consumers (`q_dedup_clusters`)
    read it rather than re-running the chain.
    """
    if max_bucket == 0:
        return _PAIRS_CACHE.fetch(
            spark, sf_dir,
            build=lambda: _compute_neardup_pairs(spark, sf_dir, 0))
    return _compute_neardup_pairs(spark, sf_dir, max_bucket)


def _compute_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int
) -> DataFrame:
    sh = _persisted_shingles(spark, sf_dir)
    return (
        _lsh_candidates(sh, max_bucket)
        .join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "round(size(array_intersect(sa.sh, sb.sh)) /"
                " cast(size(sa.sh) + size(sb.sh)"
                " - size(array_intersect(sa.sh, sb.sh)) as double), 6)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= C.JACCARD_THRESHOLD)
    )


def sql_neardup_pairs() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_band_key_duck(b)} AS band_key"
        f" FROM sig"
        for b in range(C.LSH_BANDS)
    )
    return f"""
        WITH {_sig_cte_duck()},
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                         / (len(sa.sh) + len(sb.sh)
                            - len(list_intersect(sa.sh, sb.sh))), 6)
                       AS jaccard
            FROM cand
            JOIN shs sa ON cand.doc_a = sa.doc_id
            JOIN shs sb ON cand.doc_b = sb.doc_id
        )
        SELECT * FROM pairs WHERE jaccard >= {C.JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over token hashes (occurrence-weighted bit votes)."""
    docs = read_spread(spark, sf_dir, "documents")
    hs = docs.select(
        "doc_id",
        F.expr(
            f"transform({TOKENS_SPARK}, t -> {_h30_spark('t')})"
        ).alias("hs"),
    )
    bit_terms = " + ".join(
        f"(CASE WHEN aggregate(hs, 0, (acc, h) -> acc"
        f" + (cast(shiftright(h, {b}) & 1 as int) * 2 - 1)) > 0"
        f" THEN {1 << b}L ELSE 0L END)"
        for b in range(C.SIMHASH_BITS)
    )
    return hs.select(
        "doc_id",
        F.expr(bit_terms).alias("simhash"),
        F.size("hs").alias("n_tokens"),
    )


def sql_simhash() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs,"
        f" h -> ((h >> {b}) & 1) * 2 - 1)) > 0"
        f" THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(C.SIMHASH_BITS)
    )
    return f"""
        WITH hss AS (
            SELECT doc_id,
                   list_transform({TOKENS_DUCK}, t -> {_h30_duck('t')}) AS hs
            FROM documents
        )
        SELECT doc_id, {bit_terms} AS simhash, len(hs) AS n_tokens
        FROM hss
    """


# ---------------------------------------------------------------------------
# Exact n-gram-Jaccard all-pairs (inverted-index similarity join)
# ---------------------------------------------------------------------------

def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard similarity join — no LSH recall loss.

    Inverted-index plan (the AllPairs/PPJoin family): `_shared_shingles`
    blocks posting rows by shingle with the stop-shingle DF cap
    (`JACCARD_MAX_DF`; the DuckDB oracle applies the same cap so both
    engines compute identical sets) and counts intersections per pair;
    this computes |A∩B| / (|A| + |B| - |A∩B|). Complements
    `neardup_pairs` (MinHash-LSH candidates -> Jaccard verify): LSH is
    the sub-quadratic scale path with banding recall; this is the exact
    path whose cost is bounded by the posting DF distribution.
    """
    return (
        _shared_shingles(_persisted_shingles(spark, sf_dir))
        .select(
            "*",
            F.expr(
                "round(inter / cast(n_a + n_b - inter as double), 6)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= C.JACCARD_THRESHOLD)
    )


def sql_jaccard_pairs() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
        ),
        shs AS (SELECT doc_id, {_shingles_duck()} AS sh FROM toks),
        cnts AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
        posts0 AS (SELECT doc_id, unnest(sh) AS g FROM shs),
        hot AS (
            SELECT g FROM posts0 GROUP BY g
            HAVING count(*) > {C.JACCARD_MAX_DF}
        ),
        posts AS (
            SELECT * FROM posts0 WHERE g NOT IN (SELECT g FROM hot)
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS inter
            FROM posts a JOIN posts b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
               i.inter,
               round(i.inter / (ca.n_sh + cb.n_sh - i.inter)::DOUBLE, 6)
                   AS jaccard
        FROM inter i
        JOIN cnts ca ON ca.doc_id = i.doc_a
        JOIN cnts cb ON cb.doc_id = i.doc_b
        WHERE round(i.inter / (ca.n_sh + cb.n_sh - i.inter)::DOUBLE, 6)
              >= {C.JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# Connected-component dedup clustering (pairs -> clusters -> keep list)
# ---------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group verified near-duplicate pairs into connected components and
    elect one canonical document per component (the minimum doc_id) —
    the step that turns pairwise similarity into an actual keep/drop
    decision. Covers every corpus row: documents with no near-duplicate
    are singleton clusters of themselves.

    Algorithm: iterative min-label propagation with pointer jumping to
    a fixpoint — each round a neighbor-min step (one shuffle join on
    the uniform doc_id key plus one groupBy) followed by a pointer-jump
    step l(v) <- l(l(v)) (one self-join), with `localCheckpoint`
    truncating the lineage so the plan does not grow with the iteration
    count (a cluster job would use a durable checkpoint dir). The jump
    halves the remaining distance to the component minimum each round,
    so convergence is O(log diameter) — the shape Kiveris et al.
    ("Connected Components in MapReduce and Beyond", SoCC'14) prove
    for the star-rewriting family; dense text near-dup components
    converge in 2 rounds, the chain-shaped embedding graphs in ~5.

    The reference library has no corpus-level dedup (SURVEY.md §2's
    training-data extension surface); semantics follow the standard
    MinHash-LSH dedup recipe (Broder '97; GPL-free public description).
    """
    return _CLUSTERS_CACHE.fetch(
        spark, sf_dir,
        build=lambda: _cluster_table(
            read_spread(spark, sf_dir, "documents").select("doc_id"),
            q_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        ),
    )


def _cluster_table(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_canonical): the connected
    components of `pairs` over `docs`, each led by its minimum id."""
    labels = _min_label_components(docs, pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _min_label_components(
    docs: DataFrame, pairs: DataFrame,
    stats: Optional[dict] = None,
    local_edge_limit: Optional[int] = None,
) -> DataFrame:
    """Fixpoint min-label propagation: (doc_id) nodes + (doc_a, doc_b)
    undirected edges -> (doc_id, cluster_id) where cluster_id is the
    minimum doc_id in the node's connected component.

    `stats`, when given, receives n_pairs / path / loop_partitions /
    rounds (tools/skew_dedup_demo.py uses it to evidence convergence on
    adversarial chain graphs); `local_edge_limit` overrides
    CC_LOCAL_EDGE_LIMIT (0 forces the iterative pointer-jumping path).

    Only nodes that appear in an edge enter the loop: a node with no
    near-duplicate is trivially its own component (label(v) = v), so
    singletons — the overwhelming majority of a web corpus — never
    shuffle at all; the iteration runs on the near-dup subgraph, orders
    of magnitude smaller than the corpus, and is stitched back with one
    left join at the end."""
    # Size the loop to the SUBGRAPH, not the corpus: the iteration's
    # working set is the near-dup edge list, orders of magnitude
    # smaller than the input. Both the persisted edge partitioning and
    # the loop's shuffle width are set from the edge count — at test
    # scale that is ONE partition (a round costs one small job instead
    # of scheduling the pairs table's hundreds of inherited cache
    # partitions); at web scale it keeps full parallelism. The session
    # shuffle width is restored before the stitch join, which is
    # corpus-sized and must use the normal width.
    sess = docs.sparkSession
    n_pairs = pairs.count()
    limit = (
        C.CC_LOCAL_EDGE_LIMIT if local_edge_limit is None
        else local_edge_limit
    )
    if stats is not None:
        stats["n_pairs"] = n_pairs
    if n_pairs <= limit:
        # the contracted graph fits in one task: finish locally — the
        # standard last step of the MapReduce CC algorithms (Kiveris et
        # al., SoCC'14). One shuffle of the EDGE LIST (not the corpus)
        # to a single task, union-find there, stitch singletons back
        # with the same corpus-width left join as the iterative path.
        if stats is not None:
            stats["path"] = "local_union_find"
        labels = _local_components(pairs)
        return docs.join(labels, "doc_id", "left").select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    loop_p = max(
        1,
        min(
            sess.sparkContext.defaultParallelism,
            (2 * n_pairs) // 100_000 + 1,
        ),
    )
    if stats is not None:
        stats["path"] = "pointer_jumping"
        stats["loop_partitions"] = loop_p
    old_sp = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(loop_p))
    edges = None
    try:
        # symmetrized edge list; persist — it is re-joined every round
        edges = (
            pairs.union(
                pairs.select(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                )
            )
            .repartition(loop_p, "doc_b")
            .persist()
        )
        edges.count()
        labels = _propagate_labels(edges, stats)
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", old_sp)
        # inside finally: a _propagate_labels raise (CC_MAX_ROUNDS)
        # must not leak the persisted edge RDD into executor storage
        if edges is not None:
            edges.unpersist()
    # stitch singletons (no edges -> own component) back in
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )


def _local_components(pairs: DataFrame) -> DataFrame:
    """Single-task union-find over the (un-symmetrized) edge list.

    Used when the near-dup subgraph is below `CC_LOCAL_EDGE_LIMIT`
    edges — even a 10B-document corpus with a 1% near-dup rate yields
    an edge list measured in GB, and after a few rounds of the
    iterative contraction the frontier always shrinks under the limit,
    so this is the terminal step either way. mapInPandas (Arrow
    batches, not per-row Python UDF) over one repartitioned partition;
    no driver-side collect. Union-by-min-root makes the final root of
    every tree the component's minimum id, matching the min-label
    fixpoint semantics of `_propagate_labels` exactly (parity-tested
    both ways in tests/test_corpus_ops.py)."""
    id_type = dict(pairs.dtypes)["doc_a"]
    schema = f"doc_id {id_type}, cluster_id {id_type}"

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # smaller root wins -> root(component) == min id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        nodes = list(parent)
        yield pd.DataFrame(
            {"doc_id": nodes, "cluster_id": [find(n) for n in nodes]}
        )

    return pairs.repartition(1).mapInPandas(uf, schema)


def _propagate_labels(
    edges: DataFrame, stats: Optional[dict] = None
) -> DataFrame:
    labels = (
        edges.select("doc_a")
        .distinct()
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_a").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(C.CC_MAX_ROUNDS):
        nbr = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a.alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        half = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("old_cid"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", "cluster_id"),
                ).alias("mid"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jump: l(v) <- l(l(v)). Labels are always node ids, so
        # the label's own label exists; following it halves the
        # remaining distance to the component minimum each round,
        # turning O(diameter) convergence into O(log diameter) — the
        # chain-shaped graphs an embedding near-dup corpus produces
        # (measured diameter 17 at sf0.001) would otherwise cost one
        # full shuffle round per hop
        jumped = half.select("doc_id", "old_cid", "mid")
        for _ in range(2):  # two jumps: remaining distance / 4 per round
            parent = half.select(
                F.col("doc_id").alias("mid"), F.col("mid").alias("jmp")
            )
            jumped = jumped.join(parent, "mid", "left").select(
                "doc_id",
                "old_cid",
                F.least(F.col("mid"), F.coalesce("jmp", "mid")).alias(
                    "mid"
                ),
            )
        # carry the changed flag INSIDE the checkpointed round output:
        # the convergence probe is then a scan of local blocks, not a
        # second join job per round
        nxt = (
            jumped.select(
                "doc_id",
                F.col("mid").alias("new_cid"),
                (F.col("mid") < F.col("old_cid")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.filter("chg").limit(1).count()
        labels = nxt.select(
            "doc_id", F.col("new_cid").alias("cluster_id")
        )
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup clustering did not converge in {C.CC_MAX_ROUNDS} rounds"
        )
    return labels


def sql_dedup_clusters() -> str:
    """DuckDB oracle: exact connected components by recursive CTE —
    min doc_id reachable from each node over the symmetrized verified
    near-dup pairs (UNION dedup guarantees termination on cycles)."""
    return f"""
        WITH RECURSIVE
        pairs AS MATERIALIZED ({sql_neardup_pairs()}),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, reach.lbl
            FROM reach JOIN edges e ON e.src = reach.node
        ),
        comp AS (
            SELECT node AS doc_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        ),
        sized AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM comp GROUP BY cluster_id
        )
        SELECT comp.doc_id, comp.cluster_id, sized.cluster_size,
               comp.doc_id = comp.cluster_id AS is_canonical
        FROM comp JOIN sized USING (cluster_id)
    """


# ---------------------------------------------------------------------------
# dedup savings report (what the keep list buys)
# ---------------------------------------------------------------------------

def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report of what applying the dedup keep list saves:
    document / token / char mass dropped by keeping one canonical per
    near-dup cluster — the number a curation run reports to decide
    whether the dedup pass paid for itself. Reuses the memoized
    cluster table; one corpus-width join on doc_id + a global agg
    (AQE collapses it to a single partial-aggregated exchange)."""
    from .textstats import TOKENS_SPARK as _TOKS

    clusters = q_dedup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"size({_TOKS})").alias("n_toks"),
        "n_chars",
    )
    joined = docs.join(clusters, "doc_id")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_dropped"),
        F.sum("n_toks").cast("bigint").alias("tokens_total"),
        F.sum(F.when(~F.col("is_canonical"), F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("tokens_dropped"),
        F.sum(F.when(~F.col("is_canonical"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_dropped"),
    ).select(
        "*",
        F.expr(
            "round(tokens_dropped / cast(tokens_total as double), 6)"
        ).alias("token_drop_frac"),
    )


def sql_dedup_savings() -> str:
    from .textstats import TOKENS_DUCK as _TOKS

    return f"""
        WITH clusters AS ({sql_dedup_clusters()}),
        toks AS (
            SELECT doc_id, len({_TOKS}) AS n_toks, n_chars
            FROM documents
        ),
        j AS (
            SELECT t.n_toks, t.n_chars, c.is_canonical
            FROM toks t JOIN clusters c USING (doc_id)
        )
        SELECT count(*)::BIGINT AS n_docs,
               sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END)::BIGINT
                   AS docs_dropped,
               sum(n_toks)::BIGINT AS tokens_total,
               sum(CASE WHEN NOT is_canonical THEN n_toks ELSE 0
                   END)::BIGINT AS tokens_dropped,
               sum(CASE WHEN NOT is_canonical THEN n_chars ELSE 0
                   END)::BIGINT AS chars_dropped,
               round(sum(CASE WHEN NOT is_canonical THEN n_toks ELSE 0
                         END) / sum(n_toks)::DOUBLE, 6)
                   AS token_drop_frac
        FROM j
    """


# ---------------------------------------------------------------------------
# corpus-wide exact segment dedup (C4-style)
# ---------------------------------------------------------------------------

# C4 (Raffel et al. 2020, JMLR 21(140) §2.2) removes every later
# occurrence of any exact three-sentence span across the WHOLE corpus.
# This corpus is single-line text with no sentence markers, so the
# deduplication unit is the consecutive SEG_WORDS-word window instead —
# the same corpus-global first-occurrence-wins semantics on a
# deterministic segmentation both SQL dialects can compute identically.
SEG_WORDS = 8


def _segments_spark(toks: str = "toks") -> str:
    """array<struct<ord int, seg string>>: consecutive SEG_WORDS-word
    windows of the lowercased token list (last window may be short).

    Like _grams_spark, operates over a pre-projected token-array column
    — inlining TOKENS_SPARK into the lambda re-splits the document per
    segment (O(tokens^2/w) per row)."""
    w = SEG_WORDS
    return (
        f"case when size({toks}) > 0 then"
        f" transform(sequence(1, (size({toks}) + {w - 1}) div {w}),"
        f"   i -> named_struct('ord', i, 'seg',"
        f"     concat_ws(' ', slice({toks}, (i - 1) * {w} + 1, {w}))))"
        f" else array() end"
    )


def _segments_duck() -> str:
    w = SEG_WORDS
    toks = TOKENS_DUCK
    return (
        f"CASE WHEN len({toks}) > 0 THEN"
        f" list_transform(range(1, (len({toks}) + {w - 1}) // {w} + 1),"
        f"   i -> {{'ord': i, 'seg':"
        f"     array_to_string({toks}[(i - 1) * {w} + 1 :"
        f"       least(i * {w}, len({toks}))], ' ')}})"
        f" ELSE [] END"
    )


def q_seg_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global exact segment dedup: every occurrence of a
    segment other than its first (by (doc_id, ord)) is dropped; each doc
    reports how much of it survives and the md5 of its retained text.

    100 TB story: the keeper per segment is a groupBy-min(struct) — NOT
    a per-segment window — so corpus boilerplate repeated 10^9 times
    combines map-side instead of serializing one hot window partition.
    No segment TEXT ever crosses an exchange: segments are hashed to
    md5 map-side so the keeper shuffle carries (32B digest, doc_id,
    ord), the per-doc rebuild shuffle carries only kept ords (ints),
    and kept text is reconstructed from the UN-exploded documents scan
    by filtering each doc's segment array to its kept ords — cutting
    shuffle bytes severalfold vs exchanging the exploded segment
    strings twice (measured at sf0.1 in SCALE.md).
    """
    docs = read_spread(spark, sf_dir, "documents")
    # hash BEFORE the exchange: the exploded rows that shuffle are
    # (16-byte binary digest, doc_id, ord), never the segment string
    segrows = docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id", F.explode(F.expr(_segments_spark())).alias("s")
    ).select(
        "doc_id",
        F.col("s.ord").alias("ord"),
        F.unhex(F.md5(F.col("s.seg"))).alias("h"),
    )
    # first occurrence per segment digest, corpus-wide; struct min gives
    # (doc_id, ord) lexicographic order == the oracle's ROW_NUMBER order
    keep = (
        segrows.groupBy("h")
        .agg(F.min(F.struct("doc_id", "ord")).alias("k"))
        .select(F.col("k.doc_id").alias("doc_id"), F.col("k.ord").alias("ord"))
    )
    # per-doc kept ordinals: an integer-only, combinable shuffle
    kept = keep.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sort_array(F.collect_list("ord")).alias("kept_ords"),
    )
    # rebuild kept text doc-locally from the un-exploded scan: one
    # corpus-sized doc_id join (RAW text crosses the wire once — the
    # segment array is recomputed post-join so the exchange carries the
    # most compact representation; on a doc_id-bucketed production
    # table even this exchange vanishes) + an in-row ord filter
    return (
        docs.select("doc_id", "text")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id", "n_kept", "kept_ords",
            F.expr(TOKENS_SPARK).alias("toks"),
        )
        .select(
            "doc_id", "n_kept",
            "kept_ords",
            F.expr(_segments_spark()).alias("segs"),
        )
        .select(
            "doc_id",
            F.expr("cast(size(segs) as bigint)").alias("n_segs"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "array_join(transform(filter(segs,"
                " s -> array_contains(coalesce(kept_ords, array()),"
                " s.ord)), x -> x.seg), ' ')"
            ).alias("kept_text"),
        )
        .select(
            "doc_id",
            "n_segs",
            "n_kept",
            F.expr("cast(length(kept_text) as bigint)").alias("n_chars_kept"),
            F.expr("md5(kept_text)").alias("kept_md5"),
        )
    )


def sql_seg_dedup() -> str:
    return f"""
        WITH segrows AS (
            SELECT doc_id, unnest({_segments_duck()}, recursive := true)
            FROM documents
        ),
        keep AS (
            SELECT doc_id, ord, seg FROM segrows
            QUALIFY row_number()
                OVER (PARTITION BY seg ORDER BY doc_id, ord) = 1
        ),
        kept AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
                   string_agg(seg, ' ' ORDER BY ord) AS kept_text
            FROM keep GROUP BY doc_id
        ),
        sizes AS (
            SELECT doc_id, len({_segments_duck()})::BIGINT AS n_segs
            FROM documents
        )
        SELECT s.doc_id, s.n_segs,
               COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
               length(COALESCE(k.kept_text, ''))::BIGINT AS n_chars_kept,
               md5(COALESCE(k.kept_text, '')) AS kept_md5
        FROM sizes s LEFT JOIN kept k USING (doc_id)
    """


# ---------------------------------------------------------------------------
# MinHash Jaccard-estimate calibration report
# ---------------------------------------------------------------------------

# 1e6 / NUM_PERMS is integral (62,500 for 16 perms), so the MinHash
# estimate in micro-Jaccard units is an exact BIGINT in both engines.
_MICRO_PER_PERM = 1_000_000 // C.NUM_PERMS


def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report for the dedup family: for every
    verified near-dup pair, the MinHash-estimated Jaccard (matching
    signature components / NUM_PERMS — the estimator of Broder 1997)
    next to the exact shingle Jaccard, both in exact micro-Jaccard
    BIGINTs. The sample is conditioned on LSH collision + verification
    (est is biased high vs random pairs — that is the population a
    production dedup run actually consults the sketch for).

    100 TB story: rides entirely on the two tables a production run has
    already materialized (verified pairs + signature table); one
    candidate-scale join per side on uniform doc ids, no new corpus-wide
    work."""
    pairs = q_neardup_pairs(spark, sf_dir)
    sig = _with_signatures(spark, sf_dir)
    matching = " + ".join(
        f"case when a.mh_{i} = b.mh_{i} then 1 else 0 end"
        for i in range(C.NUM_PERMS)
    )
    return (
        pairs.alias("p")
        .join(sig.alias("a"), F.col("p.doc_a") == F.col("a.doc_id"))
        .join(sig.alias("b"), F.col("p.doc_b") == F.col("b.doc_id"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.expr(
                f"cast(({matching}) * {_MICRO_PER_PERM} as bigint)"
            ).alias("est_micro"),
            F.expr(
                "cast(floor(p.jaccard * 1000000 + 0.5) as bigint)"
            ).alias("exact_micro"),
        )
        .select(
            "doc_a", "doc_b", "est_micro", "exact_micro",
            F.expr(
                "cast(abs(est_micro - exact_micro) as bigint)"
            ).alias("abs_err_micro"),
        )
    )


def sql_minhash_est_error() -> str:
    matching = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
        for i in range(C.NUM_PERMS)
    )
    return f"""
        WITH pairs AS ({sql_neardup_pairs()}),
        {_sig_cte_duck()}
        SELECT p.doc_a, p.doc_b,
               (({matching}) * {_MICRO_PER_PERM})::BIGINT AS est_micro,
               floor(p.jaccard * 1000000 + 0.5)::BIGINT AS exact_micro,
               abs((({matching}) * {_MICRO_PER_PERM})
                   - floor(p.jaccard * 1000000 + 0.5))::BIGINT
                   AS abs_err_micro
        FROM pairs p
        JOIN sig a ON p.doc_a = a.doc_id
        JOIN sig b ON p.doc_b = b.doc_id
    """


def q_neardup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance SECOND-stage verification of the near-dup pairs:
    for every Jaccard-verified pair, the Levenshtein distance and the
    normalized edit similarity (1 - dist / max_len) over a fixed
    EDIT_PREFIX-char text prefix. Shingle Jaccard is order-insensitive
    (bag of 3-grams); edit distance is the orthogonal order-SENSITIVE
    check — a pair with high Jaccard but low edit similarity is a
    shuffled/templated rewrite, not a true near-duplicate. Standard
    two-signal verify in production dedup (MinHash recall, edit-ratio
    precision).

    100 TB story: runs ONLY over the memoized verified-pair table
    (candidate-set-sized, never corpus^2); the two text lookups are
    uniform doc_id hash joins against a (doc_id, prefix) projection
    of the scan; `levenshtein` is a JVM codegen expression whose cost
    is bounded to EDIT_PREFIX^2 cells per pair by the prefix cap.
    Zero new corpus-wide shuffles.
    """
    pairs = q_neardup_pairs(spark, sf_dir)
    prefix = read_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"substring(text, 1, {C.EDIT_PREFIX})").alias("t"),
    )
    return (
        pairs.join(prefix.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
        .join(prefix.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.expr("levenshtein(da.t, db.t)")
            .cast("bigint")
            .alias("edit_dist"),
            # both-empty prefixes => identical => similarity 1 (guards
            # the ANSI divide-by-zero / NULL divergence class)
            F.expr(
                "case when greatest(length(da.t), length(db.t)) = 0"
                " then cast(1.0 as double)"
                " else round(1.0 - levenshtein(da.t, db.t) /"
                " cast(greatest(length(da.t), length(db.t)) as double),"
                " 6) end"
            ).alias("edit_sim"),
        )
    )


def q_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve calibration: empirical candidate rate per
    exact-Jaccard decile vs the theoretical collision probability
    1 - (1 - s^r)^b for the configured (LSH_BANDS, ROWS_PER_BAND) —
    the table you read to pick band parameters before a production
    dedup run (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
    §3.4).

    Per decile: pair count, LSH-candidate count, empirical candidate
    rate in exact integer micro units, and the theoretical rate at the
    decile midpoint. A healthy configuration shows emp tracking theo:
    near-0 below the threshold deciles, near-10^6 above.

    100 TB story: the exact all-pairs side is the AllPairs inverted
    index (`_shared_shingles`, DF-capped postings) — at production
    scale you run the calibration on a sampled stratum (compose with
    stratified_sample), exactly how band parameters are tuned in
    practice; the candidate side is `neardup_pairs`' `_lsh_candidates`;
    the final rollup is a 10-row map-side-combinable groupBy.
    """
    sh = _persisted_shingles(spark, sf_dir)
    pairs = _shared_shingles(sh).select(
        "doc_a", "doc_b",
        F.expr(
            "round(inter / cast(n_a + n_b - inter as double), 6)"
        ).alias("jaccard"),
    )
    cand = _lsh_candidates(sh).withColumn("is_cand", F.lit(1))
    b, r = C.LSH_BANDS, C.ROWS_PER_BAND
    return (
        pairs.join(cand, ["doc_a", "doc_b"], "left")
        .select(
            F.expr(
                "cast(least(floor(jaccard * 10), 9) as bigint)"
            ).alias("bucket"),
            F.coalesce("is_cand", F.lit(0)).alias("c"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("c").cast("bigint").alias("n_cand"),
        )
        .select(
            "bucket",
            "n_pairs",
            "n_cand",
            F.expr("(n_cand * 1000000) div n_pairs").cast("bigint")
            .alias("emp_micro"),
            F.expr(
                f"cast(floor((1.0 - power(1.0 - power("
                f"(bucket * 2 + 1) / 20.0, {r}), {b})) * 1000000 + 0.5)"
                " as bigint)"
            ).alias("theo_micro"),
        )
    )


def sql_lsh_scurve() -> str:
    b, r = C.LSH_BANDS, C.ROWS_PER_BAND
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_id,"
        f" {_band_key_duck(bi)} AS band_key FROM sig"
        for bi in range(C.LSH_BANDS)
    )
    return f"""
        WITH {_sig_cte_duck()},
        counts AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
        posts AS (
            SELECT doc_id, unnest(sh) AS g FROM shs
        ),
        keep AS (
            SELECT g FROM posts GROUP BY g
            HAVING COUNT(*) <= {C.JACCARD_MAX_DF}
        ),
        kp AS (SELECT p.* FROM posts p JOIN keep USING (g)),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS inter
            FROM kp a JOIN kp b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b,
                   round(inter / (ca.n_sh + cb.n_sh - inter)::DOUBLE, 6)
                       AS jaccard
            FROM inter
            JOIN counts ca ON inter.doc_a = ca.doc_id
            JOIN counts cb ON inter.doc_b = cb.doc_id
        ),
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        marked AS (
            SELECT least(floor(p.jaccard * 10), 9)::BIGINT AS bucket,
                   CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS c
            FROM pairs p
            LEFT JOIN cand c
              ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
        )
        SELECT bucket,
               COUNT(*)::BIGINT AS n_pairs,
               SUM(c)::BIGINT AS n_cand,
               ((SUM(c) * 1000000) // COUNT(*))::BIGINT AS emp_micro,
               floor((1.0 - pow(1.0 - pow(
                   (bucket * 2 + 1) / 20.0, {r}), {b})) * 1000000
                   + 0.5)::BIGINT AS theo_micro
        FROM marked GROUP BY bucket
    """


def sql_neardup_edit() -> str:
    return f"""
        WITH pairs AS ({sql_neardup_pairs()}),
        pre AS (
            SELECT doc_id, substr(text, 1, {C.EDIT_PREFIX}) AS t
            FROM documents
        )
        SELECT p.doc_a, p.doc_b, p.jaccard,
               levenshtein(da.t, db.t)::BIGINT AS edit_dist,
               CASE WHEN greatest(len(da.t), len(db.t)) = 0
                    THEN 1.0::DOUBLE
                    ELSE round(1.0 - levenshtein(da.t, db.t)
                         / greatest(len(da.t), len(db.t))::DOUBLE, 6)
               END AS edit_sim
        FROM pairs p
        JOIN pre da ON p.doc_a = da.doc_id
        JOIN pre db ON p.doc_b = db.doc_id
    """


# ---------------------------------------------------------------------------
# duplicated-passage detection (exact-substring dedup at k-gram resolution)
# ---------------------------------------------------------------------------
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") removes every >=50-token substring that appears twice in the
# corpus, using a corpus-wide suffix array — a structure with no
# shuffle-friendly equivalent. The standard distributed approximation
# (used by several open reproductions) detects duplicated MAXIMAL
# PASSAGES at k-token-gram resolution: a passage is duplicated iff all
# its k-grams are, so merging overlapping duplicated k-grams
# reconstructs every duplicated passage with (k-1)-token edge slack.

PASSAGE_WORDS = 8


def _grams_spark(k: int, toks: str = "toks") -> str:
    """array<struct<pos int, gram string>>: all k-token windows (1-based
    start position) of the lowercased token list.

    Operates over a PRE-PROJECTED token-array column (callers alias
    TOKENS_SPARK to `toks` in a prior select) — inlining the split into
    the lambda makes Spark re-split the whole document per gram, an
    O(tokens^2) per-row blowup (measured 86.8 s -> 1.4 s on 200 docs x
    5000 tokens at local[8]; the projection survives CollapseProject,
    plan shows exactly one split)."""
    return (
        f"case when size({toks}) >= {k} then"
        f" transform(sequence(1, size({toks}) - {k} + 1),"
        f"   i -> named_struct('pos', i, 'gram',"
        f"     concat_ws(' ', slice({toks}, i, {k}))))"
        f" else array() end"
    )


def _grams_duck(k: int) -> str:
    toks = TOKENS_DUCK
    return (
        f"CASE WHEN len({toks}) >= {k} THEN"
        f" list_transform(range(1, len({toks}) - {k} + 2),"
        f"   i -> {{'pos': i, 'gram':"
        f"     array_to_string({toks}[i : i + {k} - 1], ' ')}})"
        f" ELSE [] END"
    )


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated passages per doc: every corpus-wide repeated
    {PASSAGE_WORDS}-token gram (count >= 2, within-doc repeats included),
    merged into maximal token spans by the gaps-and-islands rule.

    100 TB story: gram texts never cross an exchange — grams hash to a
    16-byte digest map-side; the duplicated-gram table is a
    groupBy(digest)-count HAVING >= 2 (map-side combinable, uniform
    key), the hit join is digest-keyed (uniform), and the island merge
    windows partition by doc_id, so no stage sees more than one doc's
    positions. A 10^9x-repeated boilerplate gram collapses per map
    task in the count and fans back out only to the docs that carry it.
    """
    k = PASSAGE_WORDS
    from pyspark.sql import Window

    docs = read_spread(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id", F.explode(F.expr(_grams_spark(k))).alias("g")
    ).select(
        "doc_id",
        F.col("g.pos").alias("pos"),
        F.unhex(F.md5(F.col("g.gram"))).alias("h"),
    )
    dup = (
        grams.groupBy("h").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2).select("h")
    )
    hits = grams.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + k),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    pas = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + k - 1).alias("end_tok"),
    )
    w2 = Window.partitionBy("doc_id").orderBy("start_tok")
    return pas.select(
        "doc_id",
        F.row_number().over(w2).cast("bigint").alias("passage_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.col("end_tok").cast("bigint").alias("end_tok"),
        (F.col("end_tok") - F.col("start_tok") + 1)
        .cast("bigint").alias("n_tokens"),
    )


def sql_dup_passages() -> str:
    k = PASSAGE_WORDS
    return f"""
        WITH gramrows AS (
            SELECT doc_id, unnest({_grams_duck(k)}, recursive := true)
            FROM documents
        ),
        hashed AS (SELECT doc_id, pos, md5(gram) AS h FROM gramrows),
        dup AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) >= 2),
        hits AS (
            SELECT doc_id, pos FROM hashed
            WHERE h IN (SELECT h FROM dup)
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + {k}
                        THEN 1 ELSE 0 END AS brk
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        grp AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS island
            FROM isl
        ),
        pas AS (
            SELECT doc_id, island, MIN(pos) AS start_tok,
                   MAX(pos) + {k} - 1 AS end_tok
            FROM grp GROUP BY doc_id, island
        )
        SELECT doc_id,
               (row_number() OVER (PARTITION BY doc_id
                                   ORDER BY start_tok))::BIGINT
                   AS passage_idx,
               start_tok::BIGINT AS start_tok,
               end_tok::BIGINT AS end_tok,
               (end_tok - start_tok + 1)::BIGINT AS n_tokens
        FROM pas
    """


# ---------------------------------------------------------------------------
# SimHash hamming-ball near-dup join (Manku, Jain & Das Sarma, WWW'07)
# ---------------------------------------------------------------------------
# Blocked all-pairs search for fingerprints within hamming distance
# SIMHASH_HAMMING_MAX: split the SIMHASH_BITS fingerprint into
# len(SIMHASH_BLOCK_SIZES) blocks; a pair within distance d differs in
# at most d blocks, so keying every C(blocks, blocks - d) combination
# of intact blocks guarantees each qualifying pair collides in at
# least one table (pigeonhole) — the permuted-table scheme of Manku et
# al. WWW'07 §3, expressed as one explode + one groupBy instead of
# sorted fingerprint tables.


def _simhash_block_offsets() -> list[int]:
    offs, acc = [], 0
    for sz in C.SIMHASH_BLOCK_SIZES:
        offs.append(acc)
        acc += sz
    return offs


def _simhash_table_combos() -> list[tuple[int, int, int]]:
    from itertools import combinations

    keep = len(C.SIMHASH_BLOCK_SIZES) - C.SIMHASH_HAMMING_MAX
    return list(combinations(range(len(C.SIMHASH_BLOCK_SIZES)), keep))


def _simhash_key_expr(combo: tuple[int, ...], col: str, duck: bool = False) -> str:
    """Concatenate the chosen blocks into one integer key — the same
    shift/mask arithmetic in both dialects (DuckDB spells shifts as
    >>/<<, Spark as shiftright/shiftleft)."""
    offs = _simhash_block_offsets()
    sizes = C.SIMHASH_BLOCK_SIZES
    parts, shift = [], 0
    for b in reversed(combo):
        mask = (1 << sizes[b]) - 1
        blk = (
            f"(({col} >> {offs[b]}) & {mask})"
            if duck
            else f"(shiftright({col}, {offs[b]}) & {mask})"
        )
        parts.append(f"({blk} * {1 << shift})")
        shift += sizes[b]
    return " + ".join(parts)


def q_simhash_neardup(
    spark: SparkSession, sf_dir: str, max_bucket: int = 0
) -> DataFrame:
    """All doc pairs within hamming distance SIMHASH_HAMMING_MAX of
    each other's SimHash, with the exact distance.

    100 TB story: the fingerprint table (one BIGINT per doc) is tiny
    relative to the corpus; each doc explodes into C(6,3)=20 table
    keys — 16-17-bit keys whose space grows with the fingerprint
    width, so buckets hold only true near-duplicates plus ~n/2^16
    random collisions per table. ONE shuffle (groupBy table_id, tkey),
    in-bucket pair expansion by `_bucket_pairs` like the MinHash path
    (no self-join, fingerprints ride along in the bucket struct so
    verification is a bit_count on the spot, no re-join), then a
    uniform pair-key distinct. `max_bucket` > 0 is the same hot-bucket
    guard as `q_neardup_pairs` — an exact-duplicate mega-cluster
    collapses to one bucket whose pairs are already captured by exact
    dedup. Production fingerprints are 64-bit with the same plan
    shape (wider blocks, same table count).
    """
    sim = q_simhash(spark, sf_dir).select("doc_id", "simhash")
    combos = _simhash_table_combos()
    tbl_structs = ", ".join(
        f"struct({t} AS table_id,"
        f" {_simhash_key_expr(cmb, 'simhash')} AS tkey)"
        for t, cmb in enumerate(combos)
    )
    bands = sim.select(
        "doc_id",
        "simhash",
        F.expr(f"explode(array({tbl_structs}))").alias("tb"),
    ).select("doc_id", "simhash", "tb.table_id", "tb.tkey")
    return (
        _bucket_pairs(
            bands, ["table_id", "tkey"], F.struct("doc_id", "simhash"),
            max_bucket,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("cast(bit_count(a.simhash ^ b.simhash) AS bigint)")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= C.SIMHASH_HAMMING_MAX)
        .distinct()
    )


def sql_simhash_neardup() -> str:
    combos = _simhash_table_combos()
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {t} AS table_id,"
        f" {_simhash_key_expr(cmb, 'simhash', duck=True)} AS tkey FROM sims"
        for t, cmb in enumerate(combos)
    )
    return f"""
        WITH sims AS ({sql_simhash()}),
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sa, b.simhash AS sb
            FROM bands a
            JOIN bands b
              ON a.table_id = b.table_id AND a.tkey = b.tkey
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               bit_count(xor(sa, sb))::BIGINT AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= {C.SIMHASH_HAMMING_MAX}
    """


# ---------------------------------------------------------------------------
# dup_passages_apply: the REWRITE step of exact-substring dedup
# ---------------------------------------------------------------------------
# Lee et al. 2021 detect duplicated substrings (q_dup_passages above)
# and then CUT them out of the corpus; this operator is that apply
# step, with the conservative corpus-global policy (remove every
# flagged occurrence — the C4/RefinedWeb-style cut; keep-one-copy is a
# policy variant that would key the keeper by min(doc_id, pos) per
# digest before the span merge).


def q_dup_passages_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rewritten with their duplicated passages removed.

    100 TB story: token arrays NEVER explode here — the flagged-span
    table (only docs that carry duplicates, a small fraction of the
    corpus) aggregates per doc with one map-side-combinable groupBy on
    uniform doc_id, joins back to the un-exploded documents scan on the
    same uniform key, and the cut itself is a per-row JVM lambda over
    the token array (positions outside every flagged [start, end] span
    survive, order preserved). Fully-duplicated docs come out as the
    empty string — the downstream length filter drops them. No windows,
    no driver-side data.
    """
    spans = (
        q_dup_passages(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.expr(
                "collect_list(struct(start_tok, end_tok))"
            ).alias("spans")
        )
    )
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(TOKENS_SPARK).alias("t")
    )
    # The merged spans are disjoint and non-adjacent by construction
    # (islands break on a > k gap), so the cut is a complement-slice
    # scan over the gaps between sorted spans: O(tokens + spans) per
    # doc. flatten(transform(gaps, slice)) copies each kept token
    # exactly once — an array-append FOLD would re-copy the
    # accumulator per span (O(spans x tokens) on passage-riddled
    # docs), and the naive per-token filter-over-spans is
    # O(tokens * spans) AND allocates a struct per token. The sorted
    # span array binds via the one-element-transform LET so it is
    # computed once.
    kept = (
        "case when spans is null then t else"
        " transform(array(array_sort(spans)), sp ->"
        "  flatten(transform(sequence(1, size(sp) + 1), i ->"
        "   slice(t,"
        "    cast(if(i = 1, 1, element_at(sp, i - 1).end_tok + 1) as int),"
        "    greatest(cast(if(i <= size(sp),"
        "       element_at(sp, i).start_tok"
        "       - if(i = 1, 1, element_at(sp, i - 1).end_tok + 1),"
        "       size(t) - if(i = 1, 1, element_at(sp, i - 1).end_tok + 1)"
        "         + 1) as int), 0))))"
        " )[0] end"
    )
    return (
        docs.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("cast(size(t) as bigint)").alias("n_tokens"),
            F.expr(kept).alias("kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("cast(size(kept) as bigint)").alias("n_kept"),
            F.expr("concat_ws(' ', kept)").alias("clean_text"),
        )
    )


def sql_dup_passages_apply() -> str:
    kept = (
        "CASE WHEN spans IS NULL THEN t ELSE list_transform("
        " list_filter(list_transform(t, (x, i) -> {'tok': x, 'p': i}),"
        "  s -> len(list_filter(spans, sp -> s.p >= sp.s"
        "   AND s.p <= sp.e)) = 0),"
        " s -> s.tok) END"
    )
    return f"""
        WITH pas AS ({sql_dup_passages()}),
        spans AS (
            SELECT doc_id,
                   list({{'s': start_tok, 'e': end_tok}}) AS spans
            FROM pas GROUP BY doc_id
        ),
        toks AS (SELECT doc_id, {TOKENS_DUCK} AS t FROM documents),
        cut AS (
            SELECT doc_id, len(t)::BIGINT AS n_tokens, {kept} AS kept
            FROM toks LEFT JOIN spans USING (doc_id)
        )
        -- DuckDB's array_to_string([]) is NULL; Spark's concat_ws of
        -- an empty array is '' — coalesce so both emit ''
        SELECT doc_id, n_tokens, len(kept)::BIGINT AS n_kept,
               COALESCE(array_to_string(kept, ' '), '') AS clean_text
        FROM cut
    """


# ---------------------------------------------------------------------------
# winnow_fingerprint: winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03)
# ---------------------------------------------------------------------------
# Local fingerprinting with the GUARANTEE the mod-p scheme
# (textstats.q_fingerprint) lacks: in every window of WINNOW_W
# consecutive k-gram hashes at least one is selected, so any match of
# length >= WINNOW_W + WINNOW_K - 1 tokens between two documents
# shares at least one fingerprint (the paper's detection theorem,
# asserted on planted docs in tests). Ties select the RIGHTMOST
# minimal hash — the paper's robust-winnowing rule, which minimizes
# fingerprint density.

WINNOW_K = 5  # tokens per gram
WINNOW_W = 4  # grams per window


def _winnow_expr(duck: bool) -> str:
    """Selected (pos, h) pairs from the per-doc gram-hash list `hs`
    (1-based positions). Shorter-than-one-window docs winnow the
    whole list as a single window; empty docs select nothing.
    Selection dedups by POSITION (an int — DuckDB's list_distinct
    cannot histogram structs), then maps pos -> hs[pos]."""
    w = WINNOW_W
    if duck:
        sl = f"hs[i : i + {w - 1}]"
        pos = (
            f"i + len({sl})"
            f" - list_position(list_reverse({sl}), list_min({sl}))"
        )
        whole = (
            f"len(hs) + 1"
            f" - list_position(list_reverse(hs), list_min(hs))"
        )
        return (
            f"CASE WHEN len(hs) = 0 THEN []"
            f" WHEN len(hs) < {w} THEN"
            f" [{{'pos': {whole}, 'h': hs[{whole}]}}]"
            f" ELSE list_transform(list_distinct(list_transform("
            f"generate_series(1, len(hs) - {w - 1}), i -> {pos})),"
            f" p -> {{'pos': p, 'h': hs[p]}})"
            f" END"
        )
    sl = f"slice(hs, i, {w})"
    pos = (
        f"i + size({sl})"
        f" - array_position(reverse({sl}), array_min({sl}))"
    )
    whole = (
        f"size(hs) + 1 - array_position(reverse(hs), array_min(hs))"
    )
    return (
        f"CASE WHEN size(hs) = 0 THEN"
        f" cast(array() as array<struct<pos: bigint, h: bigint>>)"
        f" WHEN size(hs) < {w} THEN"
        f" array(struct({whole} AS pos,"
        f" element_at(hs, cast({whole} as int)) AS h))"
        f" ELSE transform(array_distinct(transform("
        f"sequence(1, size(hs) - {w - 1}), i -> {pos})),"
        f" p -> struct(p AS pos, element_at(hs, cast(p as int)) AS h))"
        f" END"
    )


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per selected fingerprint: (doc_id, pos, h).

    100 TB story: ZERO shuffles — grams, hashes, window minima, and
    the rightmost-tie selection are all per-row array lambdas inside
    whole-stage codegen over a (doc_id, text)-pruned scan; the explode
    emits ~2/(w+1) of gram count per doc (the paper's expected
    density). Downstream plagiarism/overlap detection groupBys these
    rows by h exactly like dup_passages' digest join."""
    k = WINNOW_K
    docs = read_spread(spark, sf_dir, "documents")
    hs = docs.select(
        "doc_id", F.expr(TOKENS_SPARK).alias("toks")
    ).select(
        "doc_id",
        F.expr(
            f"transform({_grams_spark(k)}, g -> {_h30_spark('g.gram')})"
        ).alias("hs"),
    )
    return hs.select(
        "doc_id", F.explode(F.expr(_winnow_expr(False))).alias("fp")
    ).select(
        "doc_id",
        F.col("fp.pos").cast("bigint").alias("pos"),
        F.col("fp.h").cast("bigint").alias("h"),
    )


def sql_winnow_fingerprint() -> str:
    k = WINNOW_K
    return f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform({_grams_duck(k)},
                                  g -> {_h30_duck('g.gram')}) AS hs
            FROM documents
        ),
        sel AS (
            SELECT doc_id, unnest({_winnow_expr(True)}, recursive := true)
            FROM hs
        )
        SELECT doc_id, pos::BIGINT AS pos, h::BIGINT AS h FROM sel
    """


WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many prints


def q_winnow_overlap(
    spark: SparkSession, sf_dir: str, max_bucket: int = 0
) -> DataFrame:
    """Doc pairs ranked by shared winnow fingerprints — the MOSS-style
    overlap report the fingerprints exist for: n_shared plus the
    overlap coefficient n_shared / min(n_a, n_b) in exact micro units.

    100 TB story: the fingerprint table is ~2/(W+1) of gram count and
    carries only (doc_id, h) after the per-doc distinct; ONE groupBy(h)
    shuffle builds the inverted index, in-bucket pair expansion by
    `_bucket_pairs` (buckets hold only docs sharing a fingerprint
    plus ~n/2^30 random collisions), the pair rollup is map-side
    combined, and per-doc print counts join back at pair-table size.
    `max_bucket` caps degenerate boilerplate hashes the same way the
    LSH paths do."""
    fps = (
        q_winnow_fingerprint(spark, sf_dir)
        .select("doc_id", "h")
        .distinct()
    )
    counts = fps.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp")
    )
    pairs = (
        _bucket_pairs(fps, ["h"], "doc_id", max_bucket)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(
            counts.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        )
        .withColumnRenamed("n_fp", "n_fp_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_fp", "n_fp_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "(n_shared * 1000000) div least(n_fp_a, n_fp_b)"
            ).cast("bigint").alias("overlap_micro"),
        )
    )


def sql_winnow_overlap() -> str:
    return f"""
        WITH fp0 AS ({sql_winnow_fingerprint()}),
        fps AS (SELECT DISTINCT doc_id, h FROM fp0),
        counts AS (
            SELECT doc_id, COUNT(*)::BIGINT AS n_fp
            FROM fps GROUP BY doc_id
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*)::BIGINT AS n_shared
            FROM fps a JOIN fps b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
        )
        SELECT doc_a, doc_b, n_shared,
               ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
               ((n_shared * 1000000)
                // least(ca.n_fp, cb.n_fp))::BIGINT AS overlap_micro
        FROM pairs
        JOIN counts ca ON ca.doc_id = pairs.doc_a
        JOIN counts cb ON cb.doc_id = pairs.doc_b
    """


# ---------------------------------------------------------------------------
# cdc_segments: content-defined chunking (LBFS, Muthitacharoen SOSP'01)
# ---------------------------------------------------------------------------
# Boundaries are declared wherever the rolling hash of the last
# CDC_W tokens hits 0 mod CDC_MOD — so segment boundaries are a
# function of CONTENT, not position. Insert a token at the front of a
# document and every fixed-window segmentation shifts, but CDC
# boundaries re-synchronize after one window (shift-robustness is
# property-tested); repeated chunks then collide on their digest
# corpus-wide no matter where they sit in a document. Expected segment
# length = CDC_MOD tokens.

CDC_W = 3     # tokens per rolling window
CDC_MOD = 32  # boundary probability 1/MOD -> expected segment length


def _cdc_segments_expr(duck: bool) -> str:
    """Per-doc array<struct<seg_idx, n_tokens, digest>> over `toks`."""
    w, m = CDC_W, CDC_MOD
    if duck:
        gram = f"array_to_string(toks[i - {w - 1} : i], ' ')"
        bpos = (
            f"list_filter(list_transform("
            f"generate_series({w}, len(toks)),"
            f" i -> CASE WHEN ({_h30_duck(gram)}) % {m} = 0"
            f" THEN i ELSE 0 END), x -> x > 0)"
        )
        cuts = (
            f"list_sort(list_distinct(list_concat(list_concat("
            f"[0], {bpos}), [len(toks)])))"
        )
        seg = (
            "{'seg_idx': j, 'n_tokens': cuts[j + 1] - cuts[j],"
            " 'digest': md5(array_to_string("
            "toks[cuts[j] + 1 : cuts[j + 1]], ' '))}"
        )
        return (
            f"CASE WHEN len(toks) = 0 THEN [] ELSE"
            f" flatten(list_transform([{cuts}], cuts ->"
            f" list_transform(generate_series(1, len(cuts) - 1),"
            f" j -> {seg})))"
            f" END"
        )
    gram = f"concat_ws(' ', slice(toks, i - {w - 1}, {w}))"
    bpos = (
        f"filter(transform(sequence({w}, size(toks)),"
        f" i -> IF({_h30_spark(gram)} % {m} = 0, i, 0)), x -> x > 0)"
    )
    # bind cuts once via a single-element transform (Spark SQL has no
    # scalar LET inside an expression)
    cuts = (
        f"array_sort(array_distinct(concat(array(0), {bpos},"
        f" array(size(toks)))))"
    )
    seg = (
        "struct(j AS seg_idx,"
        " element_at(cuts, j + 1) - element_at(cuts, j) AS n_tokens,"
        " md5(encode(concat_ws(' ', slice(toks,"
        " element_at(cuts, j) + 1,"
        " element_at(cuts, j + 1) - element_at(cuts, j))),"
        " 'utf-8')) AS digest)"
    )
    return (
        f"CASE WHEN size(toks) = 0 THEN"
        f" cast(array() as"
        f" array<struct<seg_idx: int, n_tokens: int, digest: string>>)"
        f" ELSE flatten(transform(array({cuts}), cuts ->"
        f" transform(sequence(1, size(cuts) - 1), j -> {seg})))"
        f" END"
    )


def q_cdc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per content-defined segment: (doc_id, seg_idx,
    n_tokens, digest).

    100 TB story: ZERO shuffles — the rolling-hash boundary scan, cut
    assembly, and per-segment digests are per-row array lambdas in
    whole-stage codegen over a pruned (doc_id, text) scan (the Spark
    side binds the cut list via a one-element transform, the
    expression-level LET). Corpus-wide chunk dedup downstream is a
    groupBy on the digest — uniform by construction, and shift-robust
    where seg_dedup's separator-based segments are not."""
    docs = read_spread(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.expr(TOKENS_SPARK).alias("toks")
        )
        .select(
            "doc_id",
            F.explode(F.expr(_cdc_segments_expr(False))).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.seg_idx").cast("bigint").alias("seg_idx"),
            F.col("s.n_tokens").cast("bigint").alias("n_tokens"),
            F.col("s.digest").alias("digest"),
        )
    )


def sql_cdc_segments() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
        ),
        segs AS (
            SELECT doc_id,
                   unnest({_cdc_segments_expr(True)},
                          recursive := true)
            FROM toks
        )
        SELECT doc_id, seg_idx::BIGINT AS seg_idx,
               n_tokens::BIGINT AS n_tokens, digest
        FROM segs
    """


def q_cdc_dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated content-defined chunks: for every digest
    seen in >= 2 places, its occurrence count, distinct docs, token
    length, and the duplicated token mass (count-1 copies are
    redundant) — the storage/compute savings table a CDC-based dedup
    run acts on.

    100 TB story: one map-side-combined groupBy on the digest (uniform
    md5 key); boilerplate chunks repeated 10^9x collapse per map task
    exactly like exact-dedup's text hash."""
    segs = q_cdc_segments(spark, sf_dir)
    return (
        segs.groupBy("digest")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            "digest",
            "n_occurrences",
            "n_docs",
            "n_tokens",
            ((F.col("n_occurrences") - 1) * F.col("n_tokens"))
            .cast("bigint")
            .alias("dup_token_mass"),
        )
    )


def sql_cdc_dup_chunks() -> str:
    return f"""
        WITH segs AS ({sql_cdc_segments()})
        SELECT digest, COUNT(*)::BIGINT AS n_occurrences,
               COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
               MAX(n_tokens)::BIGINT AS n_tokens,
               ((COUNT(*) - 1) * MAX(n_tokens))::BIGINT
                   AS dup_token_mass
        FROM segs GROUP BY digest HAVING COUNT(*) >= 2
    """


# ---------------------------------------------------------------------------
# cross-snapshot incremental dedup: new crawl batch vs existing corpus
# ---------------------------------------------------------------------------

CROSS_NEW_MOD = 4  # doc_id % 4 == 0 is the incoming batch (~25%)


def q_crossdedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the corpus is split into an OLD
    snapshot (already curated) and a NEW crawl batch (doc_id %
    CROSS_NEW_MOD == 0), and each new document is checked for a
    near-duplicate ALREADY IN the old snapshot — the decision table an
    append-only corpus consults before admitting a batch. One row per
    new document: its best old-side match (highest verified Jaccard,
    ties to the smallest old doc_id), the candidate count, and the
    admit/drop verdict.

    100 TB story: the signature table is the SAME persisted artifact
    the full-corpus chain uses (an incremental run would read the old
    side's signatures from storage and compute only the batch's); band
    keys join new x old directly — candidates are only cross-side, so
    the old corpus NEVER self-pairs: cost scales with the batch, not
    the corpus. Verification joins shingles at candidate-set size; the
    best-match window partitions by new doc_id over candidate-sized
    partitions. Reference analog: none (SURVEY.md §2.8).
    """
    sh = _persisted_shingles(spark, sf_dir)
    bands = _bands_from_sig(_sig_from_shingles(sh))
    new_b = bands.where(f"doc_id % {CROSS_NEW_MOD} = 0")
    old_b = bands.where(f"doc_id % {CROSS_NEW_MOD} != 0")
    cand = (
        new_b.alias("n")
        .join(
            old_b.alias("o"),
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("o.doc_id").alias("old_id"),
        )
        .distinct()
    )
    verified = (
        cand.join(sh.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("old_id") == F.col("sb.doc_id"))
        .select(
            "new_id",
            "old_id",
            F.expr(
                "cast(size(array_intersect(sa.sh, sb.sh)) * 1000000"
                " div (size(sa.sh) + size(sb.sh)"
                " - size(array_intersect(sa.sh, sb.sh))) as bigint)"
            ).alias("j_micro"),
        )
        .where(f"j_micro >= {int(C.JACCARD_THRESHOLD * 1_000_000)}")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(
        F.desc("j_micro"), F.asc("old_id")
    )
    best = (
        verified.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_candidates",
            F.count("*").over(Window.partitionBy("new_id")).cast("bigint"),
        )
        .where("rk = 1")
        .select("new_id", "old_id", "j_micro", "n_candidates")
    )
    new_docs = read_spread(spark, sf_dir, "documents").where(
        f"doc_id % {CROSS_NEW_MOD} = 0"
    )
    return new_docs.join(
        best, new_docs.doc_id == best.new_id, "left"
    ).select(
        "doc_id",
        F.col("old_id").alias("match_id"),
        F.expr("round(j_micro / cast(1000000 as double), 6)").alias("jaccard"),
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.expr("old_id is not null").alias("is_dup"),
    )


def sql_crossdedup_lsh() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_band_key_duck(b)} AS band_key"
        f" FROM sig"
        for b in range(C.LSH_BANDS)
    )
    thr = int(C.JACCARD_THRESHOLD * 1_000_000)
    return f"""
        WITH {_sig_cte_duck()},
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
            FROM bands n JOIN bands o
              ON n.band_id = o.band_id AND n.band_key = o.band_key
            WHERE n.doc_id % {CROSS_NEW_MOD} = 0
              AND o.doc_id % {CROSS_NEW_MOD} != 0
        ),
        verified AS (
            SELECT new_id, old_id,
                   (len(list_intersect(sa.sh, sb.sh)) * 1000000
                    // (len(sa.sh) + len(sb.sh)
                        - len(list_intersect(sa.sh, sb.sh))))::BIGINT
                       AS j_micro
            FROM cand
            JOIN shs sa ON cand.new_id = sa.doc_id
            JOIN shs sb ON cand.old_id = sb.doc_id
        ),
        kept AS (SELECT * FROM verified WHERE j_micro >= {thr}),
        best AS (
            SELECT new_id, old_id, j_micro,
                   COUNT(*) OVER (PARTITION BY new_id)::BIGINT
                       AS n_candidates,
                   row_number() OVER (
                       PARTITION BY new_id
                       ORDER BY j_micro DESC, old_id ASC) AS rk
            FROM kept
        )
        SELECT d.doc_id,
               b.old_id AS match_id,
               round(b.j_micro / 1000000.0, 6) AS jaccard,
               COALESCE(b.n_candidates, 0)::BIGINT AS n_candidates,
               b.old_id IS NOT NULL AS is_dup
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
          ON d.doc_id = b.new_id
        WHERE d.doc_id % {CROSS_NEW_MOD} = 0
    """


# ---------------------------------------------------------------------------
# Asymmetric near-containment (the dups symmetric Jaccard misses)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment join: pairs where one document's
    shingle set is >=80% contained in the other's while the symmetric
    Jaccard stays BELOW the dedup threshold — a wire story embedded in
    a long page, a quoted post inside a thread. Symmetric dedup
    (jaccard >= t) never fires on these (the union is dominated by the
    larger doc), so they need their own detector; C(A->B) = |A∩B|/|A|
    (Broder '97's containment, the original resemblance companion).

    Rides `q_jaccard_pairs`' inverted index (`_shared_shingles`: same
    posting table, same stop-shingle DF cap, same memoized shingle
    artifact), so the incremental cost over a corpus that already ran
    the exact join is one more projection of the intersection table.
    Shuffle inventory identical to jaccard_pairs.
    """
    return (
        _shared_shingles(_persisted_shingles(spark, sf_dir))
        .select(
            "*",
            F.expr("round(inter / cast(n_a as double), 6)").alias("c_a"),
            F.expr("round(inter / cast(n_b as double), 6)").alias("c_b"),
            F.expr(
                "round(inter / cast(n_a + n_b - inter as double), 6)"
            ).alias("jaccard"),
        )
        .filter(
            (F.greatest("c_a", "c_b") >= CONTAINMENT_THRESHOLD)
            & (F.col("jaccard") < C.JACCARD_THRESHOLD)
        )
    )


def sql_containment_pairs() -> str:
    jac = "round(i.inter / (ca.n_sh + cb.n_sh - i.inter)::DOUBLE, 6)"
    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
        ),
        shs AS (SELECT doc_id, {_shingles_duck()} AS sh FROM toks),
        cnts AS (SELECT doc_id, len(sh) AS n_sh FROM shs),
        posts0 AS (SELECT doc_id, unnest(sh) AS g FROM shs),
        hot AS (
            SELECT g FROM posts0 GROUP BY g
            HAVING count(*) > {C.JACCARD_MAX_DF}
        ),
        posts AS (
            SELECT * FROM posts0 WHERE g NOT IN (SELECT g FROM hot)
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS inter
            FROM posts a JOIN posts b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
               i.inter,
               round(i.inter / ca.n_sh::DOUBLE, 6) AS c_a,
               round(i.inter / cb.n_sh::DOUBLE, 6) AS c_b,
               {jac} AS jaccard
        FROM inter i
        JOIN cnts ca ON ca.doc_id = i.doc_a
        JOIN cnts cb ON cb.doc_id = i.doc_b
        WHERE greatest(round(i.inter / ca.n_sh::DOUBLE, 6),
                       round(i.inter / cb.n_sh::DOUBLE, 6))
              >= {CONTAINMENT_THRESHOLD}
          AND {jac} < {C.JACCARD_THRESHOLD}
    """


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content novelty: the share of a document's distinct
    shingles it is the FIRST to contribute (ownership = min doc_id over
    the shingle's holders — the deterministic stand-in for ingest
    order). The corpus-level novelty curve this induces is the crawl-
    ROI dashboard: when marginal novelty_ppm collapses, another
    snapshot buys boilerplate, not data.

    Shuffle inventory: one groupBy on the uniform shingle key (min
    doc_id — map-side combinable), one posting join back on the same
    key, one per-doc rollup on uniform doc_id. Rides the memoized
    shingle artifact shared with the minhash/jaccard family."""
    sh = _persisted_shingles(spark, sf_dir)
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    owner = posts.groupBy("g").agg(
        F.min("doc_id").alias("owner")
    )
    return (
        posts.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sh"),
            F.sum(
                F.expr("cast(doc_id = owner as bigint)")
            ).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id", "n_sh", "n_novel",
            F.expr(
                "cast(n_novel * 1000000 div n_sh as bigint)"
            ).alias("novelty_ppm"),
        )
    )


def sql_shingle_novelty() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
        ),
        shs AS (SELECT doc_id, {_shingles_duck()} AS sh FROM toks),
        posts AS (SELECT doc_id, unnest(sh) AS g FROM shs),
        owner AS (SELECT g, MIN(doc_id) AS owner FROM posts GROUP BY g)
        SELECT p.doc_id,
               COUNT(*)::BIGINT AS n_sh,
               SUM(CASE WHEN p.doc_id = o.owner THEN 1 ELSE 0
                   END)::BIGINT AS n_novel,
               (SUM(CASE WHEN p.doc_id = o.owner THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*))::BIGINT AS novelty_ppm
        FROM posts p JOIN owner o USING (g)
        GROUP BY p.doc_id
    """


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    near-dup clusters span both — the mirror/aggregator detector (a
    pair sharing most of its clusters is one feed scraped twice; the
    dedup keep-list then prefers the cheaper/cleaner side wholesale
    instead of deciding per document).

    100 TB story: the memoized cluster table joins documents on uniform
    doc_id; the per-cluster source set is a distinct on (cluster_id,
    source) — bounded by clusters x sources; the self-join is keyed by
    cluster_id whose per-key width is the source count of that cluster
    (<= #sources, a small dimension), so no quadratic blowup; output is
    at most sources^2 rows."""
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    cs = (
        q_dedup_clusters(spark, sf_dir)
        .join(docs, "doc_id")
        .select("cluster_id", "source")
        .distinct()
    )
    a = cs.alias("a")
    b = cs.alias("b")
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_clusters"))
    )


def sql_source_overlap() -> str:
    return f"""
        WITH clusters AS ({sql_dedup_clusters()}),
        cs AS (
            SELECT DISTINCT c.cluster_id, d.source
            FROM clusters c JOIN documents d USING (doc_id)
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*)::BIGINT AS n_shared_clusters
        FROM cs a JOIN cs b
          ON a.cluster_id = b.cluster_id AND a.source < b.source
        GROUP BY a.source, b.source
    """


def q_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution (size -> cluster count +
    doc mass) — the mega-cluster detector: one boilerplate template
    exploding into a 10^6-member cluster is the classic dedup failure
    mode (it is what the hot-bucket caps and pointer-jumping bounds
    defend against), and this histogram is where it shows first.

    100 TB story: two map-side-combined groupBys over the memoized
    cluster table (cluster_id is uniform min-label; size is a small
    key space); output is distinct-size rows."""
    sizes = (
        q_dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("size"))
    )
    return (
        sizes.groupBy("size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "size", "n_clusters",
            F.expr("cast(size * n_clusters as bigint)").alias("n_docs"),
        )
    )


def sql_cluster_size_hist() -> str:
    return f"""
        WITH clusters AS ({sql_dedup_clusters()}),
        sizes AS (
            SELECT cluster_id, COUNT(*)::BIGINT AS size
            FROM clusters GROUP BY cluster_id
        )
        SELECT size, COUNT(*)::BIGINT AS n_clusters,
               (size * COUNT(*))::BIGINT AS n_docs
        FROM sizes GROUP BY size
    """


def q_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster edge density: verified-pair edges vs possible pairs
    C(size, 2), in exact integer micro units. Connected components
    merge by TRANSITIVITY — A~B and B~C put A and C in one cluster
    without ever verifying A~C — so a low-density big cluster is the
    transitive-chaining failure mode (boilerplate bridging unrelated
    docs); density 10^6 means a clique where every pair was verified.
    The per-cluster companion to cluster_size_hist: that one finds the
    mega-cluster, this one says whether to trust it.

    100 TB story: both inputs are already-materialized artifacts (the
    memoized cluster + verified-pair tables); the edge rollup joins
    pairs to clusters on uniform doc_id and aggregates map-side by
    cluster_id; output is one row per multi-doc cluster.
    """
    clusters = q_dedup_clusters(spark, sf_dir).filter(
        "cluster_size >= 2"
    )
    # every verified pair is intra-cluster by construction (clusters
    # are the components OF the pair graph), so one endpoint suffices
    edges = (
        q_neardup_pairs(spark, sf_dir)
        .select("doc_a")
        .join(
            clusters.select(
                F.col("doc_id").alias("doc_a"), "cluster_id"
            ),
            "doc_a",
        )
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.max("cluster_size").cast("bigint").alias("size")
    )
    return (
        sizes.join(edges, "cluster_id", "left")
        .select(
            "cluster_id",
            "size",
            F.coalesce("n_edges", F.lit(0)).cast("bigint")
            .alias("n_edges"),
            F.expr("(size * (size - 1)) div 2").cast("bigint")
            .alias("possible_pairs"),
            F.expr(
                "(coalesce(n_edges, 0) * 1000000)"
                " div ((size * (size - 1)) div 2)"
            ).cast("bigint").alias("density_micro"),
        )
    )


def sql_cluster_density() -> str:
    return f"""
        WITH clusters AS ({sql_dedup_clusters()}),
        pairs AS ({sql_neardup_pairs()}),
        multi AS (
            SELECT doc_id, cluster_id, cluster_size
            FROM clusters WHERE cluster_size >= 2
        ),
        edges AS (
            SELECT m.cluster_id, COUNT(*)::BIGINT AS n_edges
            FROM pairs p JOIN multi m ON p.doc_a = m.doc_id
            GROUP BY m.cluster_id
        ),
        sizes AS (
            SELECT cluster_id, MAX(cluster_size)::BIGINT AS size
            FROM multi GROUP BY cluster_id
        )
        SELECT s.cluster_id, s.size,
               COALESCE(e.n_edges, 0)::BIGINT AS n_edges,
               ((s.size * (s.size - 1)) // 2)::BIGINT AS possible_pairs,
               ((COALESCE(e.n_edges, 0) * 1000000)
                // ((s.size * (s.size - 1)) // 2))::BIGINT
                   AS density_micro
        FROM sizes s LEFT JOIN edges e USING (cluster_id)
    """


def q_dedup_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_savings broken out per source — which feed pays the dedup
    bill: a source whose token_drop_ppm dominates is re-crawl of known
    content and gets demoted in the frontier scheduler. Same plan
    shape as the global report (memoized cluster table, one uniform
    doc_id join), rollup key is the small source dimension."""
    from .textstats import TOKENS_SPARK as _TOKS

    clusters = q_dedup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr(f"size({_TOKS})").alias("n_toks"),
    )
    return (
        docs.join(clusters, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0))
            .cast("bigint").alias("docs_dropped"),
            F.sum("n_toks").cast("bigint").alias("tokens_total"),
            F.sum(
                F.when(~F.col("is_canonical"), F.col("n_toks"))
                .otherwise(0)
            ).cast("bigint").alias("tokens_dropped"),
        )
        .select(
            "*",
            F.expr(
                "case when tokens_total = 0 then null else"
                " cast(tokens_dropped * 1000000 div tokens_total"
                " as bigint) end"
            ).alias("token_drop_ppm"),
        )
    )


def sql_dedup_savings_by_source() -> str:
    from .textstats import TOKENS_DUCK as _TOKS

    return f"""
        WITH clusters AS ({sql_dedup_clusters()}),
        toks AS (
            SELECT doc_id, source, len({_TOKS}) AS n_toks
            FROM documents
        ),
        j AS (
            SELECT t.source, t.n_toks, c.is_canonical
            FROM toks t JOIN clusters c USING (doc_id)
        )
        SELECT source,
               count(*)::BIGINT AS n_docs,
               sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END)::BIGINT
                   AS docs_dropped,
               sum(n_toks)::BIGINT AS tokens_total,
               sum(CASE WHEN NOT is_canonical THEN n_toks ELSE 0
                   END)::BIGINT AS tokens_dropped,
               CASE WHEN sum(n_toks) = 0 THEN NULL ELSE
                   (sum(CASE WHEN NOT is_canonical THEN n_toks ELSE 0
                        END) * 1000000 // sum(n_toks))::BIGINT
               END AS token_drop_ppm
        FROM j GROUP BY source
    """


# ---------------------------------------------------------------------------
# Dedup method-agreement census (MinHash-verified vs SimHash)
# ---------------------------------------------------------------------------

def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: how much do the two near-dup detectors agree? Pair
    counts from the MinHash->LSH->Jaccard-verified chain and from the
    SimHash hamming-ball join, their intersection, each side's unique
    finds, and the Jaccard of the two PAIR SETS in exact micro units.

    The dashboard that decides which detector (or both) a corpus run
    pays for: SimHash at hamming<=3 is the high-recall/low-precision
    side on short documents, the verified MinHash chain is the
    precision side; a healthy setup shows the verified set nearly
    contained in the hamming ball.

    100 TB story: consumes the two already-materialized pair tables
    (both candidate-bounded by their banding schemes — nothing
    corpus-quadratic); the agreement join runs at pair-table size on
    the uniform (doc_a, doc_b) key; output is one fixed-width row.
    Reference analog: none (SURVEY.md §2.8)."""
    mh = q_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = q_simhash_neardup(spark, sf_dir).select("doc_a", "doc_b")
    both = mh.join(sh, ["doc_a", "doc_b"], "left_semi").agg(
        F.count("*").cast("bigint").alias("n_both")
    )
    n_mh = mh.agg(F.count("*").cast("bigint").alias("n_minhash"))
    n_sh = sh.agg(F.count("*").cast("bigint").alias("n_simhash"))
    return (
        n_mh.crossJoin(n_sh)
        .crossJoin(both)
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            F.expr("n_minhash - n_both").cast("bigint").alias(
                "only_minhash"
            ),
            F.expr("n_simhash - n_both").cast("bigint").alias(
                "only_simhash"
            ),
            F.expr(
                "case when n_minhash + n_simhash - n_both > 0 then"
                " cast(n_both * 1000000"
                " div (n_minhash + n_simhash - n_both) as bigint) end"
            ).alias("pairset_jaccard_micro"),
            F.expr(
                "case when n_minhash > 0 then"
                " cast(n_both * 1000000 div n_minhash as bigint) end"
            ).alias("minhash_covered_micro"),
        )
    )


def sql_dedup_agreement() -> str:
    return f"""
        WITH mh AS (
            SELECT doc_a, doc_b FROM ({sql_neardup_pairs()})
        ),
        sh AS (
            SELECT doc_a, doc_b FROM ({sql_simhash_neardup()})
        ),
        counts AS (
            SELECT
                (SELECT COUNT(*) FROM mh)::BIGINT AS n_minhash,
                (SELECT COUNT(*) FROM sh)::BIGINT AS n_simhash,
                (SELECT COUNT(*) FROM mh
                 WHERE EXISTS (SELECT 1 FROM sh
                               WHERE sh.doc_a = mh.doc_a
                                 AND sh.doc_b = mh.doc_b))::BIGINT
                    AS n_both
        )
        SELECT n_minhash, n_simhash, n_both,
               (n_minhash - n_both)::BIGINT AS only_minhash,
               (n_simhash - n_both)::BIGINT AS only_simhash,
               (CASE WHEN n_minhash + n_simhash - n_both > 0 THEN
                    n_both * 1000000 // (n_minhash + n_simhash - n_both)
                END)::BIGINT AS pairset_jaccard_micro,
               (CASE WHEN n_minhash > 0 THEN
                    n_both * 1000000 // n_minhash
                END)::BIGINT AS minhash_covered_micro
        FROM counts
    """


# ---------------------------------------------------------------------------
# fuzzy (MinHash-banded) decontamination
# ---------------------------------------------------------------------------

# minimum containment of the EVAL doc's shingle set inside the training
# doc to flag contamination (asymmetric: a lightly-edited benchmark item
# is contamination even when pair Jaccard is diluted)
FUZZY_DECON_MIN = 0.3
# injected contaminated renders live far above any real doc_id; the
# offset's residue mod DECON_MOD (5e9 % 97 = 73) keeps renders out of
# the eval split at every sf
FUZZY_VARIANT_BASE = 5_000_000_000
# every FUZZY_EDIT_STEP-th token of the injected render is replaced —
# a ~1/24 edit rate kills ~1/8 of the 3-shingles, leaving pair Jaccard
# ~0.78: high enough that most renders band-collide (S-curve
# P = 1-(1-J^4)^4 ~ 0.84), low enough that the exact 8-gram
# decontaminate no longer matches every window — the gap this fuzzy
# pass exists to cover
FUZZY_EDIT_STEP = 24


def _fuzzy_render_spark() -> str:
    return (
        "concat_ws(' ', transform(split(lower(trim(text)), '\\\\s+'),"
        f" (w, i) -> case when (i + 1) % {FUZZY_EDIT_STEP} = 0"
        " then 'zzqx' else w end))"
    )


def _fuzzy_render_duck() -> str:
    return (
        "array_to_string(list_transform(range(1, len(toks0) + 1),"
        f" i -> CASE WHEN i % {FUZZY_EDIT_STEP} = 0"
        " THEN 'zzqx' ELSE toks0[i] END), ' ')"
    )


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-match decontamination: flag (training doc, eval doc) pairs
    whose banded MinHash signatures collide AND whose exact shingle
    CONTAINMENT of the eval doc — |S_t n S_e| / |S_e| — clears
    {FUZZY_DECON_MIN}. The fuzzy twin of `filters.decontaminate`
    (exact 8-gram hit): catches lightly-edited benchmark dumps whose
    long grams no longer match verbatim.

    The eval split is the same pseudo-benchmark carve-out decontaminate
    uses (doc_id % DECON_MOD == DECON_RESIDUE). Like template_dedup,
    the corpus has no organic edited benchmark copies, so the query
    deterministically INJECTS one render per eval doc (every
    {FUZZY_EDIT_STEP}-th token replaced) before detection — both
    engines run the identical rule, so the gate checks the detector.
    Banding recall follows the Jaccard S-curve, so a render can
    legitimately evade the candidate stage; the verify metric is
    containment, not Jaccard, because a benchmark item inside a longer
    page has tiny pair Jaccard but containment ~1.

    100 TB story: the eval side is benchmark-sized regardless of
    corpus scale, so BOTH its band keys and its shingle sets
    broadcast; candidates are eval x colliding-train only (the train
    side never self-pairs), and the exact containment verify joins
    shingles at candidate-set size. Reference analog: none
    (SURVEY.md §2.8).
    """
    from .filters import DECON_MOD, DECON_RESIDUE

    ev_pred = f"doc_id % {DECON_MOD} = {DECON_RESIDUE}"
    docs = read_spread(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        F.explode(
            F.expr(
                f"CASE WHEN {ev_pred} THEN array("
                " struct(doc_id, text),"
                f" struct(doc_id + {FUZZY_VARIANT_BASE} AS doc_id,"
                f"        {_fuzzy_render_spark()} AS text))"
                " ELSE array(struct(doc_id, text)) END"
            )
        ).alias("r")
    ).select(F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text"))
    # the augmented shingle table fans into FOUR plan branches (two
    # band sides + both verify joins); memoize it, or the corpus-wide
    # tokenize+shingle subtree is recomputed per branch
    sh = _SHINGLE_CACHE.fetch(
        spark, sf_dir, "fuzzy_aug",
        build=lambda: aug.select(
            "doc_id", F.expr(TOKENS_SPARK).alias("toks")
        ).select("doc_id", F.expr(_shingles_spark()).alias("sh")),
    )
    bands = _bands_from_sig(_sig_from_shingles(sh))
    tr_b = bands.where(f"NOT ({ev_pred})")
    ev_b = bands.where(ev_pred)
    cand = (
        tr_b.alias("t")
        .join(
            F.broadcast(ev_b.alias("e")),
            (F.col("t.band_id") == F.col("e.band_id"))
            & (F.col("t.band_key") == F.col("e.band_key")),
        )
        .select(
            F.col("t.doc_id").alias("doc_id"),
            F.col("e.doc_id").alias("eval_doc_id"),
        )
        .distinct()
    )
    thr = int(FUZZY_DECON_MIN * 1_000_000)
    return (
        cand.alias("c")
        .join(sh.alias("st"), F.col("c.doc_id") == F.col("st.doc_id"))
        .join(
            F.broadcast(sh.where(ev_pred).alias("se")),
            F.col("c.eval_doc_id") == F.col("se.doc_id"),
        )
        .where("size(se.sh) > 0")
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("c.eval_doc_id").alias("eval_doc_id"),
            F.expr("cast(size(array_intersect(st.sh, se.sh)) as bigint)")
            .alias("n_shared"),
            F.expr("cast(size(se.sh) as bigint)").alias("n_eval_shingles"),
            # cast BEFORE the multiply: size() is INT and
            # INT * 1000000 overflows 32-bit at >= 2148 shared
            # shingles (ANSI ArithmeticException); the OPH offsets
            # below dodge the same trap
            F.expr(
                "cast(size(array_intersect(st.sh, se.sh)) as bigint)"
                " * 1000000 div size(se.sh)"
            ).cast("bigint").alias("cont_micro"),
        )
        .where(f"cont_micro >= {thr}")
        .select(
            "doc_id", "eval_doc_id", "n_shared", "n_eval_shingles",
            F.expr(
                "round(cont_micro / cast(1000000 as double), 6)"
            ).alias("containment"),
        )
    )


def sql_fuzzy_decontaminate() -> str:
    from .filters import DECON_MOD, DECON_RESIDUE

    ev = f"doc_id % {DECON_MOD} = {DECON_RESIDUE}"
    sigs = ", ".join(
        f"{e} AS mh_{i}" for i, e in enumerate(_sig_exprs_duck())
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_band_key_duck(b)} AS band_key"
        f" FROM sig"
        for b in range(C.LSH_BANDS)
    )
    thr = int(FUZZY_DECON_MIN * 1_000_000)
    return f"""
        WITH base0 AS (
            SELECT doc_id, text, {TOKENS_DUCK} AS toks0 FROM documents
        ),
        aug AS (
            SELECT doc_id, text FROM base0
            UNION ALL
            SELECT doc_id + {FUZZY_VARIANT_BASE} AS doc_id,
                   {_fuzzy_render_duck()} AS text
            FROM base0 WHERE {ev}
        ),
        toks AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM aug),
        shs AS (SELECT doc_id, {_shingles_duck()} AS sh FROM toks),
        hss AS (SELECT doc_id, sh,
                       list_transform(sh, g -> {_h30_duck('g')}) AS hs
                FROM shs),
        sig AS (SELECT doc_id, {sigs} FROM hss),
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_doc_id
            FROM bands t JOIN bands e
              ON t.band_id = e.band_id AND t.band_key = e.band_key
            WHERE NOT (t.{ev}) AND e.{ev}
        ),
        verified AS (
            SELECT c.doc_id, c.eval_doc_id,
                   len(list_intersect(st.sh, se.sh))::BIGINT AS n_shared,
                   len(se.sh)::BIGINT AS n_eval_shingles,
                   (len(list_intersect(st.sh, se.sh)) * 1000000
                    // len(se.sh))::BIGINT AS cont_micro
            FROM cand c
            JOIN shs st ON c.doc_id = st.doc_id
            JOIN shs se ON c.eval_doc_id = se.doc_id
            WHERE len(se.sh) > 0 AND se.{ev}
        )
        SELECT doc_id, eval_doc_id, n_shared, n_eval_shingles,
               round(cont_micro / 1000000.0, 6) AS containment
        FROM verified WHERE cont_micro >= {thr}
    """


# ---------------------------------------------------------------------------
# near-dup graph transitivity (triangle census)
# ---------------------------------------------------------------------------

def q_neardup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row triangle census of the verified near-dup graph: node /
    edge / wedge / triangle counts and the global clustering
    coefficient 3T / W. The dedup-graph diagnostic behind keeper
    election: connected-component collapse treats near-duplication as
    transitive, and this measures how closed the graph actually is —
    a LOW closure means chains (a~b~c with a!~c) where a single keeper
    silently drops pairwise-distinct text.

    100 TB story: runs entirely on the memoized VERIFIED pair table
    (candidate-sized, orders of magnitude smaller than the corpus —
    the same artifact clustering reads), never on documents. Triangles
    use the compact-forward ordered join (Latapy 2008): edges oriented
    a < b, so each triangle a<b<c matches exactly once as
    (a,b)x(b,c)x(a,c); wedge mass is a per-node degree aggregate. The
    hot-bucket cap upstream bounds the worst-case node degree, which
    bounds both the wedge blowup and the join fan-out (production
    would orient by (degree, id) — identical result, flatter skew).
    Reference analog: none (SURVEY.md §2.8)."""
    e = q_neardup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    nodes_edges = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("bigint").alias(
            "n_wedges"
        ),
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e.alias("e3"),
            (F.col("e1.doc_a") == F.col("e3.doc_a"))
            & (F.col("e2.doc_b") == F.col("e3.doc_b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return nodes_edges.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "case when n_wedges = 0 then 0.0 else round("
            "(3 * n_triangles * 1000000 div n_wedges)"
            " / cast(1000000 as double), 6) end"
        ).alias("closure"),
    )


def sql_neardup_transitivity() -> str:
    return f"""
        WITH pairs AS ({sql_neardup_pairs()}),
        e AS (SELECT doc_a, doc_b FROM pairs),
        deg AS (
            SELECT v, COUNT(*)::BIGINT AS deg FROM (
                SELECT doc_a AS v FROM e
                UNION ALL
                SELECT doc_b AS v FROM e
            ) GROUP BY v
        ),
        ne AS (
            SELECT COUNT(*)::BIGINT AS n_nodes,
                   (SUM(deg) / 2)::BIGINT AS n_edges,
                   SUM(deg * (deg - 1) // 2)::BIGINT AS n_wedges
            FROM deg
        ),
        tri AS (
            SELECT COUNT(*)::BIGINT AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.doc_b = e2.doc_a
            JOIN e e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges = 0 THEN 0.0 ELSE round(
                   (3 * n_triangles * 1000000 // n_wedges)
                   / 1000000.0, 6) END AS closure
        FROM ne CROSS JOIN tri
    """


# ---------------------------------------------------------------------------
# one-permutation MinHash with rotation densification (OPH)
# ---------------------------------------------------------------------------

# slot count of the one-permutation sketch (same width as the classic
# signature so the two estimators are comparable slot-for-slot)
OPH_SLOTS = C.NUM_PERMS


def _oph_sig(duck: bool) -> str:
    """OPH signature from the permuted hash array `ph`: hash each
    shingle ONCE (one permutation — Li, Owen & Zhang NIPS'12), bin by
    h % {OPH_SLOTS}, keep the min per bin, and densify empty bins by
    borrowing from the next non-empty bin clockwise with a +j*P offset
    per step (rotation densification, Shrivastava & Li ICML'14 — the
    offset keeps borrowed slots from colliding with genuine ones).
    The whole expression is GENERATED once for both dialects: 16
    coalesce chains over the binned minima."""
    k = OPH_SLOTS
    if duck:
        bins = (
            f"list_transform(range(0, {k}),"
            f" i -> list_min(list_filter(ph, x -> x % {k} = i)))"
        )
        def el(arr: str, idx: str) -> str:
            return f"{arr}[{idx} + 1]"
    else:
        bins = (
            f"transform(sequence(0, {k - 1}),"
            f" i -> array_min(filter(ph, x -> x % {k} = i)))"
        )
        def el(arr: str, idx: str) -> str:
            return f"element_at({arr}, {idx} + 1)"
    # offsets precomputed in Python and emitted as 64-bit literals —
    # a bare `j * 1000000007` multiplies 32-bit ints in Spark's ANSI
    # mode and overflows at j >= 3
    def off(j: int) -> str:
        if not j:
            return ""
        v = j * C.MINHASH_P
        return f" + {v}" if duck else f" + {v}L"

    slots = ", ".join(
        "coalesce(" + ", ".join(
            el("b", str((i + j) % k)) + off(j)
            for j in range(k)
        ) + ")"
        for i in range(k)
    )
    arr = "[{}]".format(slots) if duck else f"array({slots})"
    # bind `b` via a one-element lambda so the bin array is computed
    # once, not 256 times
    if duck:
        return f"list_transform([{bins}], b -> {arr})[1]"
    return f"transform(array({bins}), b -> {arr})[0]"


def q_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPH-vs-classic sketch calibration: for every verified near-dup
    pair, the one-permutation densified estimate (matching slots /
    {OPH_SLOTS}) next to the exact shingle Jaccard. The point of OPH at
    100 TB: the classic signature evaluates NUM_PERMS permutations per
    shingle hash; OPH evaluates ONE and bins — a {OPH_SLOTS}x cheaper
    signature pass over the dominant cost of the dedup chain, with
    densification keeping the estimator usable on short documents
    (documents with < {OPH_SLOTS} shingles leave empty bins).

    Rides the memoized shingle + verified-pair artifacts; the only new
    work is a narrow per-doc expression and two candidate-scale joins
    on uniform doc ids. Reference analog: none (SURVEY.md §2.8)."""
    a0, b0 = C.MINHASH_PERMS[0]
    pairs = q_neardup_pairs(spark, sf_dir)
    sh = _persisted_shingles(spark, sf_dir)
    sig = sh.select(
        "doc_id",
        F.expr(
            f"transform(sh, g -> ({_h30_spark('g')} * {a0}L + {b0}L)"
            f" % {C.MINHASH_P})"
        ).alias("ph"),
    ).select("doc_id", F.expr(_oph_sig(False)).alias("sg"))
    k = OPH_SLOTS
    matches = (
        f"size(filter(zip_with(a.sg, b.sg, (x, y) -> x = y), t -> t))"
    )
    micro_per_slot = 1_000_000 // k
    return (
        pairs.alias("p")
        .join(sig.alias("a"), F.col("p.doc_a") == F.col("a.doc_id"))
        .join(sig.alias("b"), F.col("p.doc_b") == F.col("b.doc_id"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.expr(f"cast({matches} as bigint)").alias("n_slot_matches"),
            F.expr(
                f"cast({matches} * {micro_per_slot} as bigint)"
            ).alias("oph_micro"),
            F.expr(
                "cast(floor(p.jaccard * 1000000 + 0.5) as bigint)"
            ).alias("exact_micro"),
        )
        .select(
            "doc_a", "doc_b", "n_slot_matches", "oph_micro",
            "exact_micro",
            F.expr(
                "cast(oph_micro - exact_micro as bigint)"
            ).alias("err_micro"),
        )
    )


def sql_minhash_oph() -> str:
    a0, b0 = C.MINHASH_PERMS[0]
    k = OPH_SLOTS
    micro_per_slot = 1_000_000 // k
    matches = (
        f"list_sum(list_transform(range(1, {k + 1}),"
        " i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END))"
    )
    return f"""
        WITH pairs AS ({sql_neardup_pairs()}),
        toks AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
        shs AS (SELECT doc_id, {_shingles_duck()} AS sh FROM toks),
        phs AS (
            SELECT doc_id,
                   list_transform(sh, g -> ({_h30_duck('g')} * {a0}
                       + {b0}) % {C.MINHASH_P}) AS ph
            FROM shs
        ),
        sigs AS (
            SELECT doc_id, {_oph_sig(True)} AS sg FROM phs
        )
        SELECT p.doc_a, p.doc_b,
               {matches}::BIGINT AS n_slot_matches,
               ({matches} * {micro_per_slot})::BIGINT AS oph_micro,
               floor(p.jaccard * 1000000 + 0.5)::BIGINT AS exact_micro,
               (({matches} * {micro_per_slot})
                - floor(p.jaccard * 1000000 + 0.5))::BIGINT AS err_micro
        FROM pairs p
        JOIN sigs a ON p.doc_a = a.doc_id
        JOIN sigs b ON p.doc_b = b.doc_id
    """
