"""Main-content extraction over web-style documents: HTML boilerplate
strip + DOM-heuristic block classification (the north rule's "HTML
boilerplate strip ... DOM heuristics" surface).

The corpus tables carry plain text, so each operator first *synthesises*
a deterministic HTML page around every document — head with title /
style / script, a nav link bar, an h1, the document text as content
paragraphs, a sponsored aside, and a footer — entirely inside the query
(no external data), then extracts the main content back out:

* ``html_strip``  — script/style removal + tag strip + whitespace
  normalisation; the classic "visible text" pass.
* ``main_content`` — block segmentation (p/h1/nav/aside/footer) and a
  context-free Boilerpipe/jusText-style classifier: a block is content
  iff it is a PARAGRAPH block that is long enough AND has link density
  <= 0.2 (Kohlschuetter et al., WSDM 2010 "Boilerplate Detection using
  Shallow Text Features"; Pomikalek 2011 jusText). The link-density
  threshold is applied as an exact integer comparison
  (5*link_chars <= n_chars) so Spark and DuckDB agree bit-for-bit with
  no float rounding.
* ``extract_links`` — the outlink table (ord, href, anchor) per
  document; the link-graph half of a crawler extraction stage.

Because the page is synthesised around known text, both operators are
self-validating: ``html_strip`` must *contain* the original text and
``main_content`` must *equal* it (whitespace-normalised) whenever the
content paragraphs clear the length floor — reported per-row as
``contains_source`` / ``recovered`` booleans that the gate hashes.

100 TB story: both operators are narrow per-row expression pipelines
over a pruned (doc_id, text[, lang, source]) scan — zero shuffles, zero
Python, whole-stage codegen end to end. Block stats are computed with
transform()/aggregate() HOFs over the extracted block array instead of
an explode, so no row multiplication ever reaches an exchange.

Reference analog: none — docling-core starts from already-parsed
documents; this is the upstream acquisition step a web-scale corpus
needs before the SURVEY.md §2 pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import read_spread
from .dedup import _bucket_pairs, _cluster_table
from .textstats import _spark_re

# Classifier constants (shared by both dialects).
# LENGTH_LOW: jusText's length_low is 70 chars for real web paragraphs;
# this corpus' documents are 47-560 chars so paragraphs are half that —
# 15 keeps every real content paragraph while rejecting the h1/nav
# stubs. MAX_LINK_DENSITY 0.2 is the jusText default, applied as
# 5*link_chars <= n_chars (exact in integers).
LENGTH_LOW = 15
LINK_DENSITY_NUM = 5  # content iff LINK_DENSITY_NUM * link_chars <= n_chars

_BLOCK_RE = r"<(?:p|h1|nav|aside|footer)\b[^>]*>.*?</(?:p|h1|nav|aside|footer)>"
_TAG_RE = r"<[^>]*>"
_ANCHOR_RE = r"<a\b[^>]*>(.*?)</a>"
_SCRIPT_STYLE_RE = r"<(?:script|style)\b[^>]*>.*?</(?:script|style)>"


# ---------------------------------------------------------------------------
# deterministic page synthesis (identical byte output in both dialects)
# ---------------------------------------------------------------------------

def _page_spark() -> str:
    """Spark SQL expr: the synthesised page, from (doc_id, text, lang,
    source). Paragraphs are the first/second halves of the token list."""
    toks = r"split(trim(text), '\\s+')"
    k = f"(size({toks}) + 1) div 2"
    p1 = f"concat_ws(' ', slice({toks}, 1, {k}))"
    p2 = (
        f"concat_ws(' ', slice({toks}, {k} + 1,"
        f" size({toks}) - ({k})))"
    )
    did = "cast(doc_id as string)"
    return f"""concat(
        '<html><head><title>doc ', {did}, '</title>',
        '<style>body{{margin:0}}</style>',
        '<script>var t=1;</script></head><body>',
        '<nav><a href="/">home</a> <a href="/s/', source, '">', source,
        '</a> <a href="/l/', lang, '">', lang, '</a></nav>',
        '<h1>doc ', {did}, '</h1>',
        '<p>', {p1}, '</p>',
        '<p>', {p2}, '</p>',
        '<aside><a href="/ad">sponsored</a> click here now</aside>',
        '<footer>copyright ', source,
        ' <a href="/t">terms</a> <a href="/p">privacy</a></footer>',
        '</body></html>')"""


def _page_duck() -> str:
    """DuckDB SQL expr producing byte-identical pages."""
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    k = f"((len({toks}) + 1) // 2)"
    # coalesce: DuckDB array_to_string([]) is NULL (single-token docs
    # make the second slice empty); Spark concat_ws gives '' there.
    p1 = f"coalesce(array_to_string({toks}[1:{k}], ' '), '')"
    p2 = f"coalesce(array_to_string({toks}[{k} + 1:len({toks})], ' '), '')"
    did = "doc_id::VARCHAR"
    return f"""'<html><head><title>doc ' || {did} || '</title>' ||
        '<style>body{{margin:0}}</style>' ||
        '<script>var t=1;</script></head><body>' ||
        '<nav><a href="/">home</a> <a href="/s/' || source || '">' ||
        source || '</a> <a href="/l/' || lang || '">' || lang ||
        '</a></nav>' ||
        '<h1>doc ' || {did} || '</h1>' ||
        '<p>' || {p1} || '</p>' ||
        '<p>' || {p2} || '</p>' ||
        '<aside><a href="/ad">sponsored</a> click here now</aside>' ||
        '<footer>copyright ' || source ||
        ' <a href="/t">terms</a> <a href="/p">privacy</a></footer>' ||
        '</body></html>'"""


_NORM_SPARK = r"trim(regexp_replace({0}, '\\s+', ' '))"
_NORM_DUCK = r"trim(regexp_replace({0}, '\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# html_strip: script/style removal + tag strip -> visible text
# ---------------------------------------------------------------------------

def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visible-text extraction: drop <script>/<style> subtrees, strip
    every remaining tag, normalise whitespace. ``contains_source`` is
    the self-check: the stripped page must contain the original
    (normalised) document text."""
    docs = read_spread(spark, sf_dir, "documents")
    stripped = (
        f"regexp_replace(regexp_replace({_page_spark()},"
        f" '{_spark_re(_SCRIPT_STYLE_RE)}', ' '), '{_TAG_RE}', ' ')"
    )
    norm = _NORM_SPARK.format(stripped)
    norm_text = _NORM_SPARK.format("text")
    return docs.select(
        "doc_id",
        F.expr(f"cast(length({_page_spark()}) as bigint)").alias(
            "n_html_chars"
        ),
        F.expr(f"cast(length({norm}) as bigint)").alias("n_text_chars"),
        F.expr(f"instr({norm}, {norm_text}) > 0").alias(
            "contains_source"
        ),
        F.expr(f"md5({norm})").alias("strip_md5"),
    )


def sql_html_strip() -> str:
    stripped = (
        f"regexp_replace(regexp_replace(page,"
        f" '{_SCRIPT_STYLE_RE}', ' ', 'g'), '{_TAG_RE}', ' ', 'g')"
    )
    norm = _NORM_DUCK.format(stripped)
    norm_text = _NORM_DUCK.format("text")
    return f"""
        WITH pages AS (
            SELECT doc_id, text, {_page_duck()} AS page FROM documents
        )
        SELECT doc_id,
               length(page)::BIGINT AS n_html_chars,
               length({norm})::BIGINT AS n_text_chars,
               strpos({norm}, {norm_text}) > 0 AS contains_source,
               md5({norm}) AS strip_md5
        FROM pages
    """


# ---------------------------------------------------------------------------
# main_content: block segmentation + length/link-density classifier
# ---------------------------------------------------------------------------

def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe/jusText-style main-content extraction. Blocks are the
    p/h1/nav/aside/footer regions; a block is content iff it is a
    PARAGRAPH block (the DOM heuristic — jusText classifies paragraph
    units; headings/nav/aside/footer are structural boilerplate by tag)
    whose visible text has >= LENGTH_LOW chars and link density <= 0.2.
    The tag guard matters at scale: a purely length-based rule lets an
    11+-digit doc_id push the h1 over the floor and leak 'doc N' into
    the extracted text. ``recovered`` asserts the concatenated content
    blocks equal the original text."""
    docs = read_spread(spark, sf_dir, "documents")
    inner = (
        "trim(regexp_replace(regexp_replace(b,"
        f" '{_TAG_RE}', ' '), '\\\\s+', ' '))"
    )
    link_chars = (
        f"aggregate(regexp_extract_all(b, '{_spark_re(_ANCHOR_RE)}', 1),"
        " 0, (acc, x) -> acc + length(x))"
    )
    tag = "lower(regexp_extract(b, '^<([a-zA-Z0-9]+)', 1))"
    # two-level transform so the tag-strip regex runs ONCE per block
    # (txt), with n_chars derived from it — not re-stripped
    stats = (
        f"transform(transform(regexp_extract_all({_page_spark()},"
        f" '{_spark_re(_BLOCK_RE)}', 0),"
        f" b -> named_struct("
        f"'txt', {inner},"
        f" 'tag', {tag},"
        f" 'link_chars', {link_chars})),"
        f" t -> named_struct("
        f"'txt', t.txt,"
        f" 'tag', t.tag,"
        f" 'n_chars', length(t.txt),"
        f" 'link_chars', t.link_chars))"
    )
    is_content = (
        f"s -> s.tag = 'p'"
        f" AND s.n_chars >= {LENGTH_LOW}"
        f" AND {LINK_DENSITY_NUM} * s.link_chars <= s.n_chars"
    )
    norm_text = _NORM_SPARK.format("text")
    base = docs.select(
        "doc_id",
        F.expr(norm_text).alias("norm_text"),
        F.expr(stats).alias("stats"),
    ).select(
        "doc_id",
        "norm_text",
        "stats",
        F.expr(f"filter(stats, {is_content})").alias("content"),
    )
    total = "aggregate(stats, 0, (acc, s) -> acc + s.n_chars)"
    kept = "aggregate(content, 0, (acc, s) -> acc + s.n_chars)"
    main = "concat_ws(' ', transform(content, s -> s.txt))"
    return base.select(
        "doc_id",
        F.expr("cast(size(stats) as bigint)").alias("n_blocks"),
        F.expr("cast(size(content) as bigint)").alias("n_content_blocks"),
        F.expr(f"cast({kept} as bigint)").alias("content_chars"),
        F.expr(f"cast({total} - {kept} as bigint)").alias("boiler_chars"),
        F.expr(f"md5({main})").alias("main_md5"),
        F.expr(f"{main} = norm_text").alias("recovered"),
    )


def sql_main_content() -> str:
    inner = (
        "trim(regexp_replace(regexp_replace(b,"
        f" '{_TAG_RE}', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    link_chars = (
        "coalesce(list_aggregate(list_transform("
        f"regexp_extract_all(b, '{_ANCHOR_RE}', 1),"
        " x -> length(x)), 'sum'), 0)"
    )
    stats = (
        f"list_transform(list_transform("
        f"regexp_extract_all(page, '{_BLOCK_RE}', 0),"
        f" b -> struct_pack(txt := {inner},"
        " tag := lower(regexp_extract(b, '^<([a-zA-Z0-9]+)', 1)),"
        f" link_chars := {link_chars})),"
        " t -> struct_pack(txt := struct_extract(t, 'txt'),"
        " tag := struct_extract(t, 'tag'),"
        " n_chars := length(struct_extract(t, 'txt')),"
        " link_chars := struct_extract(t, 'link_chars')))"
    )
    is_content = (
        "s -> struct_extract(s, 'tag') = 'p'"
        f" AND struct_extract(s, 'n_chars') >= {LENGTH_LOW}"
        f" AND {LINK_DENSITY_NUM} * struct_extract(s, 'link_chars')"
        " <= struct_extract(s, 'n_chars')"
    )
    total = (
        "coalesce(list_aggregate(list_transform(stats,"
        " s -> struct_extract(s, 'n_chars')), 'sum'), 0)"
    )
    kept = (
        "coalesce(list_aggregate(list_transform(content,"
        " s -> struct_extract(s, 'n_chars')), 'sum'), 0)"
    )
    # coalesce: DuckDB's array_to_string yields NULL on an empty list
    # where Spark's concat_ws yields '' — canonicalise to ''
    main = (
        "coalesce(array_to_string(list_transform(content,"
        " s -> struct_extract(s, 'txt')), ' '), '')"
    )
    norm_text = _NORM_DUCK.format("text")
    return f"""
        WITH pages AS (
            SELECT doc_id, text, {_page_duck()} AS page FROM documents
        ),
        blk AS (
            SELECT doc_id, {norm_text} AS norm_text, {stats} AS stats
            FROM pages
        ),
        cls AS (
            SELECT doc_id, norm_text, stats,
                   list_filter(stats, {is_content}) AS content
            FROM blk
        )
        SELECT doc_id,
               len(stats)::BIGINT AS n_blocks,
               len(content)::BIGINT AS n_content_blocks,
               ({kept})::BIGINT AS content_chars,
               ({total} - {kept})::BIGINT AS boiler_chars,
               md5({main}) AS main_md5,
               {main} = norm_text AS recovered
        FROM cls
    """


# ---------------------------------------------------------------------------
# extract_links: the outlink table (the extraction stage's 2nd output)
# ---------------------------------------------------------------------------

_LINK_RE = r'<a\b[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document outlink rows (ord, href, anchor) from the
    synthesized page — the link-graph half of a crawler's extraction
    stage (content + links). Narrow per-row regex work plus one
    posexplode; no shuffle."""
    docs = read_spread(spark, sf_dir, "documents")
    matches = (
        f"regexp_extract_all({_page_spark()}, '{_spark_re(_LINK_RE)}', 0)"
    )
    pairs = (
        f"transform({matches}, m -> named_struct("
        f"'href', regexp_extract(m, '{_spark_re(_LINK_RE)}', 1),"
        f" 'anchor', regexp_extract(m, '{_spark_re(_LINK_RE)}', 2)))"
    )
    return docs.select(
        "doc_id", F.posexplode(F.expr(pairs)).alias("ord", "lk")
    ).select(
        "doc_id",
        F.col("ord").cast("bigint").alias("ord"),
        F.col("lk.href").alias("href"),
        F.col("lk.anchor").alias("anchor"),
    )


def sql_extract_links() -> str:
    matches = f"regexp_extract_all(page, '{_LINK_RE}', 0)"
    return f"""
        WITH pages AS (
            SELECT doc_id, {_page_duck()} AS page FROM documents
        ),
        pairs AS (
            SELECT doc_id,
                   unnest(list_transform({matches},
                       m -> struct_pack(
                           href := regexp_extract(m, '{_LINK_RE}', 1),
                           anchor := regexp_extract(m, '{_LINK_RE}', 2)))
                   ) AS lk,
                   unnest(range(len({matches}))) AS ord
            FROM pages
        )
        SELECT doc_id, ord::BIGINT AS ord,
               struct_extract(lk, 'href') AS href,
               struct_extract(lk, 'anchor') AS anchor
        FROM pairs
    """


# ---------------------------------------------------------------------------
# link_pagerank: PageRank over the extracted outlink graph
# ---------------------------------------------------------------------------
# The canonical consumer of a crawler's link table (CommonCrawl ships
# exactly this as its host-level ranking; Page et al. 1999). Scores are
# kept in integer parts-per-1e9 with floor division at every step, so
# the iteration is bit-exact across engines and across partition
# orders — no float ever crosses an exchange. Damping 0.85; dangling
# nodes keep their received mass (no redistribution — the choice is
# reproduced literally in the oracle). On this fixture the graph is
# doc->hub bipartite (every page links "/", its source hub, its lang
# hub, and three static pages), which makes "/" a maximally hot key —
# the in-edge aggregation is a map-side-combinable integer SUM, so the
# 10^12-edge hub collapses per map task exactly like exact-dedup's
# boilerplate key.

PAGERANK_ITERS = 3
_PR_TOTAL = 1_000_000_000


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (integer p9 units, PAGERANK_ITERS iterations) over the
    doc->href edge list from q_extract_links.

    100 TB story: edges/nodes/outdeg are groupBy-distinct shuffles on
    uniform keys; each iteration is (edges JOIN score ON src) — src is
    the uniform doc side — then a map-side-combined SUM keyed by dst
    (hot hubs combine before the exchange), then a left join back onto
    the node table. localCheckpoint truncates the 3-iteration lineage
    like the CC pointer-jumping loop. No global window, no driver-side
    data: the only collect is the node-count scalar."""
    from pyspark.sql import functions as F

    links = q_extract_links(spark, sf_dir)
    edges = links.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
        .alias("src"),
        F.col("href").alias("dst"),
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(
        F.count("*").cast("bigint").alias("outdeg")
    )
    n = nodes.count()  # scalar metadata aggregate (audited collect site)
    base = (_PR_TOTAL * 15 // 100) // n
    score = nodes.select(
        "node", F.lit(_PR_TOTAL // n).cast("bigint").alias("s")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(score, edges.src == F.col("node"))
            .join(deg, "src")
            .select(
                "dst",
                F.expr("(s * 85) div (100 * outdeg)").alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("c"))
        score = (
            nodes.join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("s"),
            )
            .localCheckpoint()
        )
    return score.select("node", F.col("s").alias("score_p9"))


def sql_link_pagerank() -> str:
    it = """
        it{k} AS (
            SELECT nd.node,
                   ((({total}::BIGINT * 15) // 100) // (SELECT n FROM nn)
                    + COALESCE(SUM((p.s * 85) // (100 * d.outdeg)), 0)
                   )::BIGINT AS s
            FROM nodes nd
            LEFT JOIN edges e ON e.dst = nd.node
            LEFT JOIN it{prev} p ON p.node = e.src
            LEFT JOIN deg d ON d.src = e.src
            GROUP BY nd.node
        )"""
    iters = ",".join(
        it.format(k=k, prev=k - 1, total=_PR_TOTAL)
        for k in range(1, PAGERANK_ITERS + 1)
    )
    return f"""
        WITH links AS ({sql_extract_links()}),
        edges AS (
            SELECT DISTINCT 'doc:' || doc_id::VARCHAR AS src, href AS dst
            FROM links
        ),
        nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION
            SELECT DISTINCT dst FROM edges
        ),
        deg AS (
            SELECT src, COUNT(*)::BIGINT AS outdeg FROM edges GROUP BY src
        ),
        nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
        it0 AS (
            SELECT node, ({_PR_TOTAL}::BIGINT // (SELECT n FROM nn))::BIGINT AS s
            FROM nodes
        ),
        {iters}
        SELECT node, s AS score_p9 FROM it{PAGERANK_ITERS}
    """


# ---------------------------------------------------------------------------
# link_hits: HITS hubs & authorities over the extracted outlink graph
# ---------------------------------------------------------------------------
# Kleinberg (JACM 1999) — the other classic link-graph ranking next to
# PageRank: auth(v) = sum of hub(u) over in-edges, hub(u) = sum of
# auth(v) over out-edges, renormalized each half-step. Same integer
# discipline as link_pagerank: scores in parts-per-1e9 with floor
# division, L1-renormalized to 1e9 total per half-step, so the
# iteration is bit-exact across engines and partition orders. On this
# fixture docs are pure hubs and hrefs pure authorities (bipartite),
# which HITS handles natively — the hot "/" authority's in-edge SUM is
# map-side combinable exactly like the PageRank aggregation.

HITS_ITERS = 2


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (integer p9 units, HITS_ITERS iterations) over the
    doc->href edge list from q_extract_links.

    100 TB story: each half-step is (edges JOIN score) on the uniform
    side followed by a map-side-combined integer SUM keyed by the
    other side (hot authorities collapse per map task), then an L1
    renormalization whose only driver-side values are two scalar
    totals per iteration (audited collect sites, same class as
    PageRank's node count). localCheckpoint truncates the iteration
    lineage. No global window, no per-row Python."""
    from pyspark.sql import functions as F

    links = q_extract_links(spark, sf_dir)
    edges = links.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
        .alias("src"),
        F.col("href").alias("dst"),
    ).distinct().localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # scalar metadata aggregate (audited collect site)
    hub = nodes.select(
        "node", F.lit(_PR_TOTAL // n).cast("bigint").alias("h")
    )

    def _norm(raw, col):
        total = raw.agg(F.sum(col)).collect()[0][0] or 0
        total = max(total, 1)  # edgeless-graph guard (ANSI div-by-0)
        return raw.select(
            "node",
            F.expr(f"({col} * {_PR_TOTAL}) div {total}")
            .cast("bigint").alias(col),
        )

    auth = None
    for _ in range(HITS_ITERS):
        a_raw = (
            edges.join(hub, edges.src == hub.node)
            .groupBy("dst").agg(F.sum("h").alias("a"))
        )
        auth = _norm(
            nodes.join(a_raw, nodes.node == a_raw.dst, "left")
            .select("node", F.coalesce("a", F.lit(0)).alias("a")),
            "a",
        ).localCheckpoint()
        h_raw = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy("src").agg(F.sum("a").alias("h"))
        )
        hub = _norm(
            nodes.join(h_raw, nodes.node == h_raw.src, "left")
            .select("node", F.coalesce("h", F.lit(0)).alias("h")),
            "h",
        ).localCheckpoint()
    return (
        hub.join(auth, "node")
        .select(
            "node",
            F.col("h").alias("hub_p9"),
            F.col("a").alias("auth_p9"),
        )
    )


def sql_link_hits() -> str:
    step = """
        a{k}_raw AS (
            SELECT nd.node,
                   COALESCE(SUM(p.h), 0)::BIGINT AS a
            FROM nodes nd
            LEFT JOIN edges e ON e.dst = nd.node
            LEFT JOIN h{prev} p ON p.node = e.src
            GROUP BY nd.node
        ),
        a{k} AS (
            SELECT node,
                   ((a * {total}) // greatest(
                       (SELECT SUM(a) FROM a{k}_raw), 1))::BIGINT AS a
            FROM a{k}_raw
        ),
        h{k}_raw AS (
            SELECT nd.node,
                   COALESCE(SUM(p.a), 0)::BIGINT AS h
            FROM nodes nd
            LEFT JOIN edges e ON e.src = nd.node
            LEFT JOIN a{k} p ON p.node = e.dst
            GROUP BY nd.node
        ),
        h{k} AS (
            SELECT node,
                   ((h * {total}) // greatest(
                       (SELECT SUM(h) FROM h{k}_raw), 1))::BIGINT AS h
            FROM h{k}_raw
        )"""
    steps = ",".join(
        step.format(k=k, prev=k - 1, total=_PR_TOTAL)
        for k in range(1, HITS_ITERS + 1)
    )
    return f"""
        WITH links AS ({sql_extract_links()}),
        edges AS (
            SELECT DISTINCT 'doc:' || doc_id::VARCHAR AS src, href AS dst
            FROM links
        ),
        nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION
            SELECT DISTINCT dst FROM edges
        ),
        nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
        h0 AS (
            SELECT node,
                   ({_PR_TOTAL}::BIGINT // (SELECT n FROM nn))::BIGINT AS h
            FROM nodes
        ),
        {steps}
        SELECT h.node, h.h AS hub_p9, a.a AS auth_p9
        FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a USING (node)
    """


# ---------------------------------------------------------------------------
# anchor_text_agg: per-target anchor-text profile over the link table
# ---------------------------------------------------------------------------
# The other classic consumer of a crawler's link table (besides the
# graph ranking): aggregate the ANCHOR TEXT pointing at each URL as an
# off-page description of the target — Brin & Page (1998) §2.2 anchor
# propagation; web corpora keep the same signal as target-side context.
# Per target href: in-link count, distinct linking docs, distinct
# anchor strings, and the dominant anchor with its count (ties broken
# lexicographically, so the result is deterministic across engines and
# partition orders).


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB story: one map-side-combinable groupBy(href, anchor)
    collapses the 10^12-edge link table to (target x distinct anchor)
    rows — a hot hub like '/' combines per map task and carries ONE row
    per distinct anchor into the exchange, not one per edge. The
    dominant-anchor row_number window then runs over that collapsed
    table (per-href rows = the target's anchor vocabulary, bounded in
    practice), and the per-href distinct-doc/anchor counts are Spark's
    two-phase partial-distinct aggregation on the same uniform key
    space. No global window, no driver-side data."""
    from pyspark.sql.window import Window

    links = q_extract_links(spark, sf_dir)
    pairs = links.groupBy("href", "anchor").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("href").orderBy(
        F.col("n").desc(), F.col("anchor")
    )
    top = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "href",
            F.col("anchor").alias("top_anchor"),
            F.col("n").alias("top_anchor_n"),
        )
    )
    stats = links.groupBy("href").agg(
        F.count("*").cast("bigint").alias("n_inlinks"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("anchor").cast("bigint").alias("n_anchors"),
    )
    return stats.join(top, "href").select(
        "href", "n_inlinks", "n_docs", "n_anchors",
        "top_anchor", "top_anchor_n",
    )


def sql_anchor_text_agg() -> str:
    return f"""
        WITH links AS ({sql_extract_links()}),
        pairs AS (
            SELECT href, anchor, COUNT(*)::BIGINT AS n
            FROM links GROUP BY href, anchor
        ),
        top AS (
            SELECT href, anchor AS top_anchor, n AS top_anchor_n
            FROM pairs
            QUALIFY row_number()
                OVER (PARTITION BY href ORDER BY n DESC, anchor) = 1
        ),
        stats AS (
            SELECT href, COUNT(*)::BIGINT AS n_inlinks,
                   COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                   COUNT(DISTINCT anchor)::BIGINT AS n_anchors
            FROM links GROUP BY href
        )
        SELECT s.href, n_inlinks, n_docs, n_anchors,
               top_anchor, top_anchor_n
        FROM stats s JOIN top USING (href)
    """


# ---------------------------------------------------------------------------
# link_cocitation: co-citation similarity over the extracted link table
# ---------------------------------------------------------------------------
# Small (1973) co-citation: two targets are related when the same
# documents link BOTH — the classic item-item signal (the first hop of
# SimRank, and the exact shape of "users who bought X bought Y").
# Emitted per unordered target pair: co-citation count, each side's
# citing-doc count, and the Jaccard of the citing-doc sets in exact
# micro units.


def q_link_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB story: the per-doc outlink set is bounded (crawlers cap
    outdegree), so the in-array pair expansion — `_bucket_pairs` with
    the doc as the bucket and its hrefs as the items, the LSH paths'
    substrate — emits O(outdeg^2) rows per doc with NO self-join of the
    edge table (a naive edges-x-edges join on doc_id shuffles the corpus
    twice and skews on link-heavy docs; here the doc's own array expands
    map-side after one uniform exchange). The pair rollup is a
    map-side-combined groupBy: the globally hot pair ("/" x a hub,
    present in every doc) collapses per map task. Degree join is
    target-keyed and target-sized; Jaccard is exact integer micro
    arithmetic, no float crosses an exchange."""
    links = (
        q_extract_links(spark, sf_dir)
        .select("doc_id", "href")
        .distinct()
    )
    co = _bucket_pairs(links, ["doc_id"], "href").groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_co")
    )
    deg = links.groupBy("href").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    return (
        co.join(deg.withColumnRenamed("href", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("href", "b"), "b")
        .withColumnRenamed("deg", "deg_b")
        .select(
            F.col("a").alias("href_a"),
            F.col("b").alias("href_b"),
            "n_co",
            "deg_a",
            "deg_b",
            F.expr(
                "(n_co * 1000000) div (deg_a + deg_b - n_co)"
            ).cast("bigint").alias("jaccard_micro"),
        )
    )


def sql_link_cocitation() -> str:
    return f"""
        WITH links AS ({sql_extract_links()}),
        e AS (SELECT DISTINCT doc_id, href FROM links),
        co AS (
            SELECT a.href AS href_a, b.href AS href_b,
                   COUNT(*)::BIGINT AS n_co
            FROM e a JOIN e b
              ON a.doc_id = b.doc_id AND a.href < b.href
            GROUP BY a.href, b.href
        ),
        deg AS (
            SELECT href, COUNT(*)::BIGINT AS deg FROM e GROUP BY href
        )
        SELECT href_a, href_b, n_co, da.deg AS deg_a, db.deg AS deg_b,
               ((n_co * 1000000) // (da.deg + db.deg - n_co))::BIGINT
                   AS jaccard_micro
        FROM co
        JOIN deg da ON da.href = co.href_a
        JOIN deg db ON db.href = co.href_b
    """


# ---------------------------------------------------------------------------
# link_components: site/mirror clusters over the shared-outlink graph
# ---------------------------------------------------------------------------

LINKCC_MAX_DF = 64  # hrefs cited by more docs than this are hubs — dropped


def q_link_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components over the "documents sharing an
    outlink" graph — the site/mirror clustering a crawler feeds
    domain-level dedup and seed selection. Reuses the dedup module's
    blocking substrate and pointer-jumping CC table (`_bucket_pairs`,
    `_cluster_table` — the SAME O(log diameter) operator, applied to a
    second graph, evidencing it is generic, not dedup-specific). Hub
    links (cited by > LINKCC_MAX_DF docs) are dropped before pair
    expansion — the inverted-index df-cap, as `_bucket_pairs`'
    `max_bucket` — so no href expands into a quadratic pair blowup;
    every doc still appears in the output (singletons label themselves).

    Output mirrors dedup_clusters: (doc_id, cluster_id, cluster_size,
    is_canonical)."""
    links = (
        q_extract_links(spark, sf_dir)
        .select("doc_id", "href")
        .distinct()
    )
    pairs = _bucket_pairs(links, ["href"], "doc_id", LINKCC_MAX_DF).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    ).distinct()
    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    return _cluster_table(docs, pairs)


def sql_link_components() -> str:
    return f"""
        WITH RECURSIVE
        links AS MATERIALIZED ({sql_extract_links()}),
        e AS (SELECT DISTINCT doc_id, href FROM links),
        df_ok AS (
            SELECT href FROM e GROUP BY href
            HAVING COUNT(*) <= {LINKCC_MAX_DF}
        ),
        capped AS (SELECT e.* FROM e JOIN df_ok USING (href)),
        pairs AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b
              ON a.href = b.href AND a.doc_id < b.doc_id
        ),
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
            SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
            FROM comp GROUP BY cluster_id
        )
        SELECT comp.doc_id, comp.cluster_id, sized.cluster_size,
               comp.doc_id = comp.cluster_id AS is_canonical
        FROM comp JOIN sized USING (cluster_id)
    """
