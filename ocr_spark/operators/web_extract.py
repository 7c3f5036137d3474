"""HTML main-content extraction (boilerplate strip) — pure Catalyst.

The north rule names "HTML boilerplate strip, DOM heuristics" as a
first-class extraction axis next to the PDF/layout pipeline.  This
module implements the densometric block-classification family
(Kohlschuetter et al., "Boilerplate Detection using Shallow Text
Features", WSDM 2010 — the boilerpipe/readability/trafilatura
heuristic): segment the page into DOM text blocks, compute per-block
shallow features (word count, link density), and keep blocks that read
like prose (enough words, few of them inside anchors).  Navigation
bars, share buttons, and footers are link-dense and short — they fall
out without any site-specific rule.

Everything is native Spark SQL (regexp_extract_all + higher-order array
functions): the whole extractor is a single map-side projection — no
UDF, no shuffle, no per-row Python — so at 10^12 documents it runs at
parquet-scan speed and Catalyst prunes the html column straight from
the source scan.

The fixture pages are synthesized deterministically from the documents
table (same expression in the DuckDB oracle): real paragraphs from the
document text wrapped in nav / share-bar / footer boilerplate.  The
extractor never looks at the synthesis — only generic tag patterns and
the density rule decide.

Classification rule (integer arithmetic, engine-exact):
    is_content  :=  n_words >= 5  AND  10 * n_link_words <= 3 * n_words
(i.e. link density <= 0.3 — boilerpipe's mid threshold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tag kinds segmented into candidate text blocks; <p> carries prose,
# nav/footer are the classic boilerplate containers
BLOCK_KINDS = ("p", "nav", "footer")

MIN_CONTENT_WORDS = 5
LINK_DENSITY_NUM = 3  # keep iff 10 * link_words <= 3 * words
LINK_DENSITY_DEN = 10


def synth_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HTML pages from the documents table: three <p>
    paragraphs of 8 words each from the document text, plus nav,
    share-bar, and footer boilerplate derived from doc_id (identical
    string expression in the oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")

    def para(start: int) -> Column:
        return F.array_join(F.slice(toks, start, 8), " ")

    html = F.concat(
        F.lit("<html><body><nav><a href=/>home</a> "
              "<a href=/about>about</a> <a href=/tag>tag"),
        F.col("doc_id").cast("string"),
        F.lit("</a></nav><p>"),
        para(1),
        F.lit("</p><p>"),
        para(9),
        F.lit("</p><p>"),
        para(17),
        F.lit("</p><p>share this <a href=t>tweet</a> "
              "<a href=f>like</a></p><footer>copyright "
              "<a href=c>contact us</a> all rights reserved"
              "</footer></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


def _clean(block: Column) -> Column:
    """Strip tags, collapse whitespace."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(block, "<[^>]*>", " "), " +", " ")
    )


def _n_words(s: Column) -> Column:
    return F.size(F.filter(F.split(F.trim(s), " +"), lambda x: x != ""))


def _anchor_text(block: Column) -> Column:
    return F.array_join(
        F.regexp_extract_all(block, F.lit("<a[^>]*>([^<]*)</a>"), 1), " "
    )


def _is_content(block: Column) -> Column:
    nw = _n_words(_clean(block))
    lw = _n_words(_anchor_text(block))
    return (nw >= MIN_CONTENT_WORDS) & (
        lw * LINK_DENSITY_DEN <= nw * LINK_DENSITY_NUM
    )


def html_block_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block shallow-feature classification: one row per DOM text
    block with its word count, anchor-word count, and the densometric
    content/boilerplate verdict.  Map-side only (explode of per-row
    regex matches); the check-gate sort is the single non-map step."""
    pages = synth_html_docs(spark, sf_dir)
    parts = []
    for kind in BLOCK_KINDS:
        blocks = F.regexp_extract_all(
            F.col("html"), F.lit(f"<{kind}>(.*?)</{kind}>"), 1
        )
        parts.append(
            pages.select(
                "doc_id",
                F.lit(kind).alias("kind"),
                F.posexplode(blocks).alias("block_idx", "block"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return (
        u.select(
            "doc_id",
            "kind",
            "block_idx",
            _n_words(_clean(F.col("block"))).alias("n_words"),
            _n_words(_anchor_text(F.col("block"))).alias("n_link_words"),
            _is_content(F.col("block")).cast("int").alias("is_content"),
            _clean(F.col("block")).alias("clean_text"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id", "kind", "block_idx")
    )


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level boilerplate strip: main_text is the in-order join
    of the <p> blocks that pass the density rule; nav/footer/share-bar
    never reach it.  One projection per document — array higher-order
    functions keep the whole document's block list in one row, so there
    is NO shuffle at all (not even a groupBy): the extraction cost is
    exactly one streaming pass over the scan."""
    pages = synth_html_docs(spark, sf_dir)
    ps = F.regexp_extract_all(F.col("html"), F.lit("<p>(.*?)</p>"), 1)
    kept = F.filter(ps, _is_content)
    return (
        pages.select(
            "doc_id",
            F.array_join(F.transform(kept, _clean), " ").alias("main_text"),
            F.size(kept).alias("n_content_blocks"),
            (F.size(ps) - F.size(kept)).alias("n_boiler_p_blocks"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Link graph + PageRank
# ---------------------------------------------------------------------------

def synth_html_media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HTML pages WITH inline images: the synth_html_docs
    page plus two <img> elements (after the nav and between paragraphs)
    whose src uses the corpus media-ref grammar, so the extracted spans
    feed straight into the OCR flagship.  Identical string expression in
    the DuckDB oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")

    def para(start: int) -> Column:
        return F.array_join(F.slice(toks, start, 8), " ")

    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><nav><a href=/>home</a> "
              "<a href=/about>about</a> <a href=/tag>tag"),
        did,
        F.lit("</a></nav><img src=img://web"),
        did,
        F.lit("a#gray><p>"),
        para(1),
        F.lit("</p><img src=img://web"),
        did,
        F.lit("b#gray><p>"),
        para(9),
        F.lit("</p><p>share this <a href=t>tweet</a> "
              "<a href=f>like</a></p><footer>copyright "
              "<a href=c>contact us</a> all rights reserved"
              "</footer></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


def html_to_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> the engine's interleaved span schema (kind, text,
    media_ref, offset) — the bridge between the web-extraction tier and
    the OCR flagship, whose input table is exactly
    spans:array<struct<kind,text,media_ref,offset>>: content <p> blocks
    become kind='text' spans, <img> elements become kind='image' spans
    carrying their media_ref, boilerplate (link-dense or short blocks)
    is dropped by the same densometric rule as html_main_content, and
    every span gets the char offset where it sits in the stripped text
    flow (text spans contribute len+1; images are zero-width).

    Scale shape: ZERO shuffle — element tokenization is one
    regexp_extract_all, the density filter and the running-offset fold
    are array higher-order functions (F.filter / F.aggregate), and the
    final posexplode is map-side.  The whole extractor runs at
    parquet-scan speed, same as html_main_content."""
    pages = synth_html_media_docs(spark, sf_dir)
    elems = F.regexp_extract_all(
        F.col("html"), F.lit("<p>.*?</p>|<img [^>]*>"), 0
    )

    def is_p(e: Column) -> Column:
        return e.startswith("<p>")

    kept = F.filter(elems, lambda e: (~is_p(e)) | _is_content(e))
    spans_arr = F.aggregate(
        kept,
        F.struct(
            F.lit(0).alias("off"),
            F.array().cast(
                "array<struct<kind:string,text:string,"
                "media_ref:string,span_offset:int>>"
            ).alias("out"),
        ),
        lambda acc, e: F.struct(
            (
                acc["off"]
                + F.when(is_p(e), F.length(_clean(e)) + 1).otherwise(0)
            ).alias("off"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        F.when(is_p(e), "text").otherwise("image").alias("kind"),
                        F.when(is_p(e), _clean(e)).alias("text"),
                        F.when(
                            ~is_p(e),
                            F.regexp_extract(e, "src=([^ >]*)", 1),
                        ).alias("media_ref"),
                        acc["off"].alias("span_offset"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    return (
        pages.select(
            "doc_id", F.posexplode(spans_arr).alias("span_idx", "s")
        )
        .select(
            "doc_id",
            F.col("span_idx").cast("int").alias("span_idx"),
            "s.kind",
            "s.text",
            "s.media_ref",
            "s.span_offset",
        )
        .repartition(1)
        .sortWithinPartitions("doc_id", "span_idx")
    )


PR_ITERS = 3
PR_SCALE = 1_000_000_000  # PageRank mass carried as integer ppb


def _pagerank_vector(
    docs: DataFrame, edges: DataFrame, out_deg: DataFrame, n: int
) -> DataFrame:
    """``PR_ITERS`` integer-ppb PageRank iterations -> (v, pr) — the
    unsorted core shared by ``link_graph_pagerank`` and
    ``crawl_frontier`` (see link_graph_pagerank's docstring for the
    exactness and scale arguments)."""
    k = F.col("doc_id")
    base = 150_000_000 // n
    pr = docs.select(
        k.alias("v"), F.lit(PR_SCALE // n).cast("bigint").alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr, edges["src"] == pr["v"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("v"),
                F.expr("(85 * pr) div (100 * out_deg)").alias("c"),
            )
        )
        sums = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        pr = docs.select(k.alias("v")).join(sums, "v", "left").select(
            "v",
            (F.lit(base) + F.coalesce("s", F.lit(0)))
            .cast("bigint")
            .alias("pr"),
        )
    return pr


def link_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document link graph + ``PR_ITERS`` PageRank iterations — the
    web-scale companion to content extraction: every crawler pipeline
    ranks pages by link structure before/while extracting them.

    The edge list is synthesized deterministically (doc i links to
    (7i+1, 13i+2, 31i+3) mod N, deduped, self-links dropped) so the
    DuckDB oracle can rebuild the identical graph.

    Engine-exact iteration: rank mass is carried as an INTEGER number of
    parts-per-billion.  Each edge contributes
    ``(85 * pr_src) div (100 * out_deg)`` (the 0.85 damping as exact
    integer floor division) and every node gets the ``0.15/N`` base as
    ``150_000_000 div N``.  Integer sums are associative, so the result
    is bit-identical across partition orders and engines — float
    PageRank would drift in the last ulp and break the value-hash gate.
    (No dangling-mass redistribution: floor losses and rank parked on
    zero-out-degree nodes simply leak, identically in both engines.)

    Scale shape: the canonical distributed PageRank — per iteration one
    join of edges with the rank vector on src (co-partitionable: edges
    are pre-partitioned by src once and every iteration reuses that
    layout) and one groupBy dst with map-side partial sums.  State is
    O(nodes); work per iteration is O(edges).  At web scale the edge
    list is bucketed by src at ingest so the join side never reshuffles
    (relational.write_bucketed is the same trick on the TPC-H side)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    k = F.col("doc_id")
    edges = _link_edges(docs, n)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    in_deg = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    pr = _pagerank_vector(docs, edges, out_deg, n)
    return (
        docs.select(k.alias("doc_id"))
        .join(out_deg, k == out_deg["src"], "left")
        .join(in_deg, k == in_deg["dst"], "left")
        .join(pr, k == pr["v"], "left")
        .select(
            "doc_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.col("pr").alias("pr_ppb"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# URL canonicalization + exact URL dedup
# ---------------------------------------------------------------------------

# tracking parameters stripped during canonicalization (the standard
# crawl-dedup list: UTM campaign tags + click identifiers)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid)="


def _synth_raw_url(doc_id: Column) -> Column:
    """Deterministic messy URL per document (same expression in the
    DuckDB oracle): uppercase scheme/host, www prefix, default port,
    tracking params, unsorted query, fragment, trailing slash.  The
    residues (host %5, path %20, query-class %3) collide every 60
    doc_ids so the dedup stage has real work."""
    return F.concat(
        F.lit("HTTP://WWW.Site"),
        (doc_id % 5).cast("string"),
        F.lit(".COM:80/Path/"),
        (doc_id % 20).cast("string"),
        F.when(doc_id % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1#Frag"))
        .when(doc_id % 3 == 1, F.lit("?a=1&utm_campaign=x&fbclid=zz"))
        .otherwise(F.lit("/")),
    )


def canonicalize_url(raw: Column) -> Column:
    """Canonical form of a URL column — lowercase scheme+host, strip
    leading ``www.``, strip default ports (:80 http / :443 https),
    drop the fragment, drop tracking params (TRACKING_PARAM_RE), sort
    the surviving query params, strip trailing slashes.  Pure Catalyst
    (regexp + array higher-order functions): a map-side projection."""
    scheme = F.lower(
        F.regexp_extract(raw, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host0 = F.lower(F.regexp_extract(raw, r"^[^:]+://([^/?#]+)", 1))
    host = F.regexp_replace(host0, r"^www\.", "")
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    path = F.regexp_replace(
        F.regexp_extract(raw, r"^[^:]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    qraw = F.regexp_extract(raw, r"\?([^#]*)", 1)
    qkeep = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qraw, "&"),
                lambda x: ~x.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(
            (qraw != "") & (qkeep != ""), F.concat(F.lit("?"), qkeep)
        ).otherwise(F.lit("")),
    )


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize crawl URLs and mark exact-URL duplicates — the very
    first dedup pass of a web pipeline (CommonCrawl dedups by canonical
    URL before any content hashing).

    Canonical form: lowercase scheme+host, strip leading ``www.``,
    strip default ports (:80 http / :443 https), drop the fragment,
    drop tracking params (utm_*/gclid/fbclid), sort the surviving query
    params, strip trailing slashes.  All pure Catalyst (regexp + array
    higher-order functions) — a map-side projection at scan speed; the
    only shuffle is the duplicate-marking window on the canonical key.
    Survivor = min doc_id per canonical URL (deterministic, idempotent
    across retries)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = _synth_raw_url(F.col("doc_id"))
    canon = canonicalize_url(raw)
    from pyspark.sql.window import Window

    w = Window.partitionBy("canon_url")
    return (
        docs.select(
            "doc_id",
            raw.alias("raw_url"),
            canon.alias("canon_url"),
        )
        .withColumn(
            "is_survivor",
            (F.col("doc_id") == F.min("doc_id").over(w)).cast("int"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


ROBOTS_BASE_RULES = (("/", "allow"), ("/path/1", "deny"), ("/path/12", "allow"))
ROBOTS_EVEN_EXTRA = ("/path/3", "deny")


def robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate with robots.txt longest-prefix-match semantics
    — the same shape as IP-prefix routing: each (host, path) is judged
    by the LONGEST rule prefix that matches it, not the first or the
    strictest.  The fixture rules exercise the interplay: "/path/1"
    (deny) covers /path/1 and /path/10../path/19, the longer
    "/path/12" (allow) carves an exception back out, "/" allows the
    rest, and even-numbered hosts add a "/path/3" deny.

    Scale shape: the rule table is per-host and tiny (robots files are
    KBs) — broadcast; the match is a prefix-join + per-URL rank by
    prefix length, so the big side shuffles once on the rank key.  At
    real scale rules compile to a per-host trie in a pandas UDF; the
    join form here keeps the semantics in pure SQL for the oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return (
        _robots_matched(docs)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def _robots_matched(docs: DataFrame) -> DataFrame:
    """Longest-prefix robots verdict per document — the unsorted core
    shared by ``robots_gate`` and ``crawl_frontier`` (see robots_gate's
    docstring for semantics and scale)."""
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com"),
        ).alias("host"),
        F.concat(
            F.lit("/path/"), (F.col("doc_id") % 20).cast("string")
        ).alias("path"),
    )
    hosts = urls.select("host", (F.col("doc_id") % 5).alias("h")).distinct()
    base = F.array(
        *[
            F.struct(F.lit(p).alias("prefix"), F.lit(v).alias("verdict"))
            for p, v in ROBOTS_BASE_RULES
        ]
    )
    extra = F.struct(
        F.lit(ROBOTS_EVEN_EXTRA[0]).alias("prefix"),
        F.lit(ROBOTS_EVEN_EXTRA[1]).alias("verdict"),
    )
    rules = hosts.select(
        "host",
        F.explode(
            F.when(F.col("h") % 2 == 0, F.concat(base, F.array(extra)))
            .otherwise(base)
        ).alias("r"),
    ).select("host", "r.prefix", "r.verdict")
    matched = urls.join(F.broadcast(rules), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.length("prefix")), "prefix"
    )
    return (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "host",
            "path",
            F.col("prefix").alias("matched_prefix"),
            "verdict",
        )
    )


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance over the link graph
# ---------------------------------------------------------------------------

BFS_MAX_HOP = 3
BFS_SEED_MOD = 50  # seeds = every 50th doc_id


def _link_edges(docs: DataFrame, n: int) -> DataFrame:
    """The deterministic link-graph edge list shared with
    ``link_graph_pagerank`` (doc i -> (7i+1, 13i+2, 31i+3) mod N,
    deduped, self-links dropped) — synthesized, so the DuckDB oracle
    rebuilds the identical graph."""
    k = F.col("doc_id")
    targets = F.array(
        ((k * 7 + 1) % n).cast("bigint"),
        ((k * 13 + 2) % n).cast("bigint"),
        ((k * 31 + 3) % n).cast("bigint"),
    )
    return (
        docs.select(k.alias("src"), F.explode(targets).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: min link-hops from the seed set (every
    ``BFS_SEED_MOD``-th document) out to ``BFS_MAX_HOP`` hops — the
    crawl-frontier / seed-proximity computation (how far is each page
    from the curated seed list), and the other standard iterated-join
    graph primitive next to PageRank.

    Level-synchronous frontier expansion: iteration h joins ONLY the
    newly-discovered hop-(h-1) frontier against the edge list (not the
    whole visited set), takes the distinct successor set, and anti-joins
    the visited table so every vertex is labeled exactly once, at its
    true minimum hop.  All-integer state => engine-exact.

    Scale shape: per iteration one equi-join of the frontier with edges
    on src (edges pre-partitioned by src once — the same reusable
    layout as PageRank's contribution join) plus one anti-join on the
    O(visited) state; work per round is O(frontier x out-degree), the
    textbook Pregel/GraphX BFS cost.  Unreached vertices never enter
    the state table, so a 3-hop neighborhood query on a 10^12-edge
    graph touches only the reachable ball, not the corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _link_edges(docs, n)
    return (
        _bfs_visited(docs, edges)
        .select(F.col("v").alias("doc_id"), "hop")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def _bfs_visited(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Level-synchronous multi-source BFS -> (v, hop) — the unsorted
    core shared by ``bfs_hop_distance`` and ``crawl_frontier`` (see
    bfs_hop_distance's docstring for the frontier/anti-join scale
    argument)."""
    seeds = docs.filter(F.col("doc_id") % BFS_SEED_MOD == 0).select(
        F.col("doc_id").alias("v"), F.lit(0).cast("bigint").alias("hop")
    )
    visited = seeds
    frontier = seeds
    for h in range(1, BFS_MAX_HOP + 1):
        nxt = (
            frontier.join(edges, frontier["v"] == edges["src"])
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited, "v", "left_anti")
            .select("v", F.lit(h).cast("bigint").alias("hop"))
        )
        visited = visited.union(nxt)
        frontier = nxt
    return visited


# ---------------------------------------------------------------------------
# Personalized PageRank (seed-teleport) — crawl prioritization
# ---------------------------------------------------------------------------

PPR_ITERS = 3
PPR_SEED_MOD = 50  # same seed set as bfs_hop_distance


def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-personalized PageRank — the crawl-prioritization score
    (rank pages by authority AS SEEN FROM the curated seed list, not
    globally): identical iterated join+groupBy shape to
    ``link_graph_pagerank``, but the teleport mass returns ONLY to the
    seed set (every ``PPR_SEED_MOD``-th doc), so rank concentrates in
    the seeds' neighborhood — the standard frontier-scoring companion
    to ``bfs_hop_distance`` (which gives distance; this weighs it by
    link structure).

    Integer ppb arithmetic with floor division (same engine-exactness
    argument as global PageRank: integer sums are associative, float
    rank would drift in the last ulp).  Mass leaks at floors and at
    zero-out-degree nodes, identically in both engines.

    Scale shape: per iteration one edges-with-rank join on src
    (pre-partitioned once, reusable layout) and one dst groupBy with
    map-side partial sums — O(edges) work, O(nodes) state; the only
    difference from global PR is the teleport vector, which is a
    map-side predicate, not data."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    n_seeds = max(1, (n + PPR_SEED_MOD - 1) // PPR_SEED_MOD)
    edges = _link_edges(docs, n)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    k = F.col("doc_id")
    is_seed = (k % PPR_SEED_MOD == 0).cast("bigint")
    seed_base = 150_000_000 // n_seeds
    pr = docs.select(
        k.alias("v"),
        (is_seed * F.lit(PR_SCALE // n_seeds)).alias("pr"),
    )
    for _ in range(PPR_ITERS):
        contrib = (
            edges.join(pr, edges["src"] == pr["v"])
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("v"),
                F.expr("(85 * pr) div (100 * out_deg)").alias("c"),
            )
        )
        sums = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        pr = docs.select(
            k.alias("v"),
            ((k % PPR_SEED_MOD == 0).cast("bigint") * seed_base).alias(
                "base"
            ),
        ).join(sums, "v", "left").select(
            "v",
            (F.col("base") + F.coalesce("s", F.lit(0)))
            .cast("bigint")
            .alias("pr"),
        )
    return (
        docs.select(k.alias("doc_id"))
        .join(pr, k == pr["v"], "left")
        .select(
            "doc_id",
            F.col("pr").alias("ppr_ppb"),
            (F.col("doc_id") % PPR_SEED_MOD == 0).alias("is_seed"),
        )
        .filter(F.col("ppr_ppb") > 0)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities — the other classic link-analysis score
# ---------------------------------------------------------------------------

HITS_ITERS = 3
HITS_SCALE = 1_000_000  # hub/authority mass carried as integer ppm


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg, JACM 1999) over the shared deterministic link
    graph: authority(v) = sum of hub over in-links, hub(u) = sum of
    authority over out-links, alternating for ``HITS_ITERS`` rounds —
    the directory-page / cited-page decomposition every crawler ranks
    with next to PageRank (reference has no link analysis; this is the
    web-scale curation companion to ``link_graph_pagerank``).

    Engine-exact iteration: scores are integer parts-per-million.
    Each half-step sums bigint mass, then renormalizes by the round's
    MAX via floor division — ``(score * SCALE) div max`` — instead of
    the classic L2 norm (a square root would leave integers).  The
    product is widened to decimal(38,0) before the multiply so a
    10^9-node in-degree sum cannot overflow bigint at 100 TB; integer
    sums and a deterministic max make the result bit-identical across
    partition orders and engines.

    Scale shape: per half-step one join of edges with the score vector
    (edges pre-partitionable by src/dst once, the PageRank layout) and
    one groupBy with map-side partial sums — O(edges) work, O(nodes)
    state; the normalizing max is a 1-row broadcast, never a shuffle
    of the corpus.  No unpartitioned windows anywhere."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _link_edges(docs, n)
    k = F.col("doc_id")

    def _normalize(scores: DataFrame, col: str) -> DataFrame:
        mx = scores.agg(F.max(col).alias("mx"))
        return scores.crossJoin(F.broadcast(mx)).select(
            "v",
            F.expr(
                f"cast(cast({col} as decimal(38,0)) * {HITS_SCALE}"
                f" div mx as bigint)"
            ).alias(col),
        )

    hub = docs.select(
        k.alias("v"), F.lit(HITS_SCALE).cast("bigint").alias("hub")
    )
    auth = None
    for _ in range(HITS_ITERS):
        auth = _normalize(
            edges.join(hub, edges["src"] == hub["v"])
            .groupBy(edges["dst"].alias("v"))
            .agg(F.sum("hub").alias("auth")),
            "auth",
        )
        hub = _normalize(
            edges.join(auth, edges["dst"] == auth["v"])
            .groupBy(edges["src"].alias("v"))
            .agg(F.sum("auth").alias("hub")),
            "hub",
        )
    return (
        docs.select(k.alias("doc_id"))
        .join(hub, k == hub["v"], "left")
        .drop("v")
        .join(auth, k == auth["v"], "left")
        .drop("v")
        .select(
            "doc_id",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub_ppm"),
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Redirect-chain resolution via pointer jumping (log-step doubling)
# ---------------------------------------------------------------------------

REDIR_ITERS = 4  # 2^4 = 16 >= the synthesized max chain length (9)


def redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect chains resolved by POINTER JUMPING — the log-step
    doubling primitive (Wyllie's list ranking): every URL points at its
    redirect target; each round replaces ``next`` with ``next(next)``
    and accumulates the hop count, so a chain of length L resolves in
    ``ceil(log2 L)`` rounds instead of L sequential walks.  This is how
    a crawler collapses redirect graphs (and how Iceberg-style manifest
    chains or workflow parent links are flattened) at 10^12 edges —
    the per-hop iterative join BFS uses would take L rounds; doubling
    takes 4 for L ≤ 16.

    Redirect map is synthesized deterministically (url i redirects to
    i−1 unless i ≡ 0 mod 10, which is terminal → chains of length 0–9),
    so the DuckDB oracle rebuilds the identical graph and walks it
    recursively.

    Scale shape: each round is ONE self-equi-join on the pointer key
    (co-partitionable: both sides hash on the same key domain) over
    O(urls) state; terminals are self-loops so the join never loses
    rows and converged rows are fixpoints.  Four rounds total — the
    round count is a constant of the max chain length, not of the
    corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    f = docs.select(
        F.col("doc_id").alias("u"),
        F.when(F.col("doc_id") % 10 != 0, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .cast("bigint")
        .alias("nxt"),
        F.when(F.col("doc_id") % 10 != 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("hops"),
    )
    for _ in range(REDIR_ITERS):
        a, b = f.alias("a"), f.alias("b")
        f = a.join(b, F.col("a.nxt") == F.col("b.u")).select(
            F.col("a.u").alias("u"),
            F.col("b.nxt").alias("nxt"),
            (F.col("a.hops") + F.col("b.hops")).alias("hops"),
        )
    return (
        f.select(
            F.col("u").alias("doc_id"),
            F.col("nxt").alias("final_id"),
            F.col("hops").alias("chain_len"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Bounded k-core peel (link-graph cleaning)
# ---------------------------------------------------------------------------

KCORE_K = 3
# Fixed-point round cap: a backstop against pathological graphs (a
# length-L tendril peels in ~L rounds), NOT the normal exit — the loop
# stops when a round drops zero vertices.  The oracle unrolls exactly
# this many rounds; peeling is idempotent after convergence, so the two
# agree at every convergence depth <= the cap, and agree trivially at
# the cap when convergence is deeper.
KCORE_MAX_ROUNDS = 16


def kcore_fixed_point(
    edges: DataFrame,
    alive: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> tuple[DataFrame, int]:
    """PRODUCTION k-core peeling (round 4: the fixed round count is
    gone): drop nodes with undirected degree < ``k``, recompute, repeat
    UNTIL A ROUND DROPS NOTHING — the fixed-point check is one O(1)
    survivor-count aggregate per round — with ``max_rounds`` as a
    pathological-graph backstop.  Survivor state is localCheckpoint'ed
    (eager) between rounds so lineage stays one round deep instead of
    accumulating the whole peel history (the iterated-join discipline
    PageRank already follows).

    ``edges`` must be the symmetric (src, dst) edge list; ``alive`` the
    initial vertex set as column ``v``.  Returns (final degree frame,
    rounds executed)."""
    prev = alive.count()
    deg = alive.sparkSession.createDataFrame([], "src long, deg long")
    rounds = 0
    for _ in range(max_rounds):
        live_edges = (
            edges.join(alive, edges["src"] == alive["v"], "left_semi")
            .join(alive, edges["dst"] == alive["v"], "left_semi")
        )
        deg = live_edges.groupBy("src").agg(F.count("*").alias("deg"))
        survivors = deg.filter(F.col("deg") >= k).select(
            F.col("src").alias("v")
        )
        # truncate lineage: each round's survivor set is materialized,
        # so round r+1 plans against a leaf, not r joins deep
        alive = survivors.localCheckpoint(eager=True)
        rounds += 1
        cnt = alive.count()  # the O(1) dropped-count fixed-point gate
        if cnt == prev:
            break
        prev = cnt
    return deg, rounds


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph cleaning by k-core peeling TO THE FIXED POINT: drop
    nodes with undirected degree < ``KCORE_K``, recompute degrees,
    repeat until a round removes nothing (kcore_fixed_point) — spam
    tendrils peel layer by layer however long they are, which a fixed
    round count cannot guarantee (convergence gate pinned on a crafted
    tendril graph in tests/test_web_extract.py).

    Output: every surviving node with its residual degree (as of the
    converged round's recount) — all integers, engine-exact; the DuckDB
    oracle unrolls KCORE_MAX_ROUNDS peels, which equals the fixed point
    at any convergence depth (peeling is idempotent once converged).

    Scale shape: per round ONE semi-join of the edge list against the
    surviving-node set (broadcast when the survivor set is small, hash
    otherwise) and one degree groupBy with map-side partial counts —
    O(edges) per round, O(nodes) state, lineage kept one round deep via
    eager localCheckpoint, the same iterated-join budget as PageRank."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    directed = _link_edges(docs, n)
    edges = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst"), F.col("src")))
        .distinct()
    )
    alive = docs.select(F.col("doc_id").alias("v"))
    deg, _rounds = kcore_fixed_point(edges, alive)
    return (
        deg.filter(F.col("deg") >= KCORE_K)
        .select(
            F.col("src").alias("doc_id"),
            F.col("deg").cast("bigint").alias("residual_degree"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Anchor-text aggregation — what the web says a page is about
# ---------------------------------------------------------------------------

ANCHOR_TOKENS = 3  # leading tokens of the linking page stand in for anchor text


def anchor_text_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profile over the shared deterministic
    link graph: every inbound link contributes the linking page's
    leading ``ANCHOR_TOKENS`` tokens (the fixture stand-in for the <a>
    anchor string), and each target reports its most-frequent anchor
    term — the classic external-description signal web search and
    corpus curation rank with (anchor text describes the TARGET better
    than the target describes itself).

    Deterministic tie-break: at equal count the lexicographically
    LARGEST term wins (max of (cnt, term), identical rule in the
    DuckDB oracle's window order).

    Scale shape: one edges-with-docs equi-join on src (the reusable
    PageRank layout), a map-side token explode bounded by
    ANCHOR_TOKENS x edges, one (dst, term) count shuffle, then a
    per-dst window — PARTITIONED by target, so no single-task global
    sort at any corpus size."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.select("doc_id").count()
    edges = _link_edges(docs.select("doc_id"), n)
    anchors = edges.join(
        docs.select(
            F.col("doc_id").alias("src"),
            F.slice(F.split(F.lower("text"), " "), 1, ANCHOR_TOKENS).alias(
                "anchor_toks"
            ),
        ),
        "src",
    ).select("dst", F.explode("anchor_toks").alias("term"))
    counts = anchors.groupBy("dst", "term").agg(F.count("*").alias("cnt"))
    inlinks = edges.groupBy("dst").agg(F.count("*").alias("n_inlinks"))
    per_dst = counts.groupBy("dst").agg(
        F.count("*").alias("n_terms"),
        F.max(F.struct("cnt", "term")).alias("top"),
    )
    return (
        per_dst.join(inlinks, "dst")
        .select(
            F.col("dst").alias("doc_id"),
            F.col("top.term").alias("top_term"),
            F.col("top.cnt").alias("top_cnt"),
            F.col("n_inlinks").cast("bigint").alias("n_inlinks"),
            F.col("n_terms").cast("bigint").alias("n_terms"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity (Small, JASIS 1973): two pages are
    related when the same third page links to BOTH — the link-level
    relatedness signal next to anchor text, used to expand curated
    seed sets ('pages co-cited with known-good pages').

    One self-equi-join of the edge list on src generates the candidate
    pairs, so pair work per linking page is C(out_degree, 2) — bounded
    by the synthesized out-degree (<= 3), and at web scale by the
    standard out-degree cap a crawler enforces at ingest, never by the
    corpus.  Normalized strength is the SQUARED cosine in integer ppm:
    ``cnt^2 * 1e6 div (indeg_a * indeg_b)`` — exact integers, no sqrt,
    identical in both engines.

    Scale shape: one src equi-join (co-partitionable with the PageRank
    layout), one (a, b) pair-count shuffle, two small in-degree joins.
    No windows, no cartesian."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _link_edges(docs, n)
    e1 = edges.select(F.col("src"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src"), F.col("dst").alias("b"))
    pairs = (
        e1.join(e2, "src")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cocite_cnt"))
    )
    indeg = edges.groupBy("dst").agg(F.count("*").alias("indeg"))
    return (
        pairs.join(indeg.select(F.col("dst").alias("a"), F.col("indeg").alias("indeg_a")), "a")
        .join(indeg.select(F.col("dst").alias("b"), F.col("indeg").alias("indeg_b")), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "cocite_cnt",
            F.col("indeg_a").cast("bigint").alias("indeg_a"),
            F.col("indeg_b").cast("bigint").alias("indeg_b"),
            F.expr(
                "cocite_cnt * cocite_cnt * 1000000"
                " div (indeg_a * indeg_b)"
            ).alias("cos2_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


LPA_ROUNDS = 3


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 76, 2007) over the UNDIRECTED link graph —
    the unsupervised sibling of ``knn_label_propagation`` (which
    spreads a seeded label set over the kNN graph): every node starts
    as its own community and adopts, each round, the most common label
    among its neighbors with the deterministic (count desc, label asc)
    tie-break, so both engines converge identically — vanilla LPA's
    random tie-breaking would never value-hash.

    ``LPA_ROUNDS`` synchronous rounds (bounded, not to convergence:
    sync LPA can 2-cycle on bipartite structures, so a fixed even/odd
    round budget IS the standard determinization).

    Scale shape: per round one equi-join of the edge list with the
    O(nodes) label vector on dst plus one (src, label) partial-agg
    count — the PageRank budget exactly; the argmax window partitions
    by src (key-partitioned, never global).  Edges and each round's
    labels are eagerly localCheckpoint'ed so lineage stays O(1) in
    rounds, per the k-core convention."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = docs.select(
        F.col("doc_id").alias("node"),
        F.col("doc_id").cast("bigint").alias("label"),
    )
    for _ in range(LPA_ROUNDS):
        votes = und.join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("nl")
            ),
            "dst",
        ).groupBy("src", "nl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("nl"))
        pick = (
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                F.col("src").alias("node"), F.col("nl").alias("new_label")
            )
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("community"),
            "community_size",
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts over the undirected link graph by
    degree-ordered edge orientation (the MapReduce-canonical
    formulation, Suri & Vassilvitskii WWW'11 / Cohen CiSE'09):
    triangle density is the standard link-spam / community-cohesion
    signal (spam farms are triangle-dense, and the count is the
    numerator of the local clustering coefficient).

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher, so every wedge is generated at its
    lowest-rank vertex and each triangle is found EXACTLY once; the
    wedge fan-out per vertex is bounded by the oriented out-degree
    (O(sqrt(m)) for any graph), which is what kills the hub-skew that
    makes naive id-ordered wedge joins explode on web graphs.

    Scale shape: degree table = one partial-agg count; orientation =
    two equi-joins of the edge list against the O(nodes) degree
    vector; wedges = one self-equi-join on the apex; closure = one
    equi-join on the (v, w) arc — all equi-joins, AQE skew-split
    absorbs residual hot apexes, no windows anywhere."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = e.select(
        F.least("src", "dst").alias("s"),
        F.greatest("src", "dst").alias("t"),
    ).distinct()
    deg = (
        und.select(F.col("s").alias("node"))
        .union(und.select(F.col("t").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "s"), "s")
        .withColumnRenamed("deg", "ds")
        .join(
            deg.withColumnRenamed("node", "t").withColumnRenamed(
                "deg", "dt"
            ),
            "t",
        )
    )
    fwd = F.struct("ds", "s") < F.struct("dt", "t")
    arcs = ranked.select(
        F.when(fwd, F.col("s")).otherwise(F.col("t")).alias("u"),
        F.when(fwd, F.col("t")).otherwise(F.col("s")).alias("v"),
        F.when(fwd, F.col("dt")).otherwise(F.col("ds")).alias("dv"),
    )
    a1 = arcs.select(
        F.col("u"), F.col("v"), F.col("dv")
    )
    a2 = arcs.select(
        F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
    )
    wedges = a1.join(a2, "u").filter(
        F.struct("dv", "v") < F.struct("dw", "w")
    )
    closing = arcs.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    nodes = tri.select(
        F.explode(F.array("u", "v", "w")).alias("doc_id")
    )
    cnt = nodes.groupBy("doc_id").agg(
        F.count("*").alias("n_triangles")
    )
    return (
        docs.join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# k-truss decomposition (Cohen, 2008) — the edge-level core next to k-core
# ---------------------------------------------------------------------------

TRUSS_K = 3  # every surviving edge sits in >= K-2 triangles of the truss
# Same backstop discipline as KCORE_MAX_ROUNDS: the loop exits on the
# O(1) dropped-count gate; the oracle unrolls exactly this many rounds
# (idempotent after convergence, so both agree at any depth <= cap).
TRUSS_MAX_ROUNDS = 8


def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss of the shared link graph (Cohen, NSA TR 2008): peel
    edges whose SUPPORT — the number of triangles of the current
    subgraph containing them — is below TRUSS_K - 2, recompute, repeat
    to the fixed point.  The edge-level community core: k-core keeps a
    node for having k neighbors of any quality, the k-truss demands
    the neighbors interlock in triangles, which is why truss peeling
    is the standard spam-farm filter (link farms have degree, organic
    communities have triangles).

    Edges are canonical (a < b) undirected pairs of the deterministic
    link graph shared with kcore_peel / link_graph_pagerank; triangles
    x < y < z are enumerated once each via the two-wedge + closing-edge
    join on canonical order, and each contributes support to its three
    edges.  Output: the surviving edges with their converged support —
    all integers, engine-exact; the DuckDB oracle unrolls
    TRUSS_MAX_ROUNDS peels.

    Scale shape: per round, triangle enumeration is two equi-joins on
    node keys over the canonical edge list (the a < b orientation
    bounds wedge fan-out the same way triangle_count's degree ordering
    does on power-law graphs — at 10^12 edges swap in that (deg, id)
    orientation, same join shape), one 3-way explode + partial-agg
    count per edge, and an O(1) survivor-count gate; survivor state is
    localCheckpoint'ed eagerly so lineage stays one round deep."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    directed = _link_edges(docs, n)
    edges = (
        directed.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .withColumn("sup", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    prev = edges.count()
    for _ in range(TRUSS_MAX_ROUNDS):
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.b") == F.col("e2.a"))
            .join(
                e3,
                (F.col("e3.a") == F.col("e1.a"))
                & (F.col("e3.b") == F.col("e2.b")),
            )
            .select(
                F.col("e1.a").alias("x"),
                F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"),
            )
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                        F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                        F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                    )
                ).alias("e")
            )
            .groupBy("e.a", "e.b")
            .agg(F.count("*").alias("sup"))
        )
        edges = (
            sup.where(F.col("sup") >= TRUSS_K - 2)
            .select("a", "b", "sup")
            .localCheckpoint(eager=True)
        )
        cnt = edges.count()  # the O(1) fixed-point gate
        if cnt == prev:
            break
        prev = cnt
    return (
        edges.select("a", "b", F.col("sup").cast("bigint").alias("support"))
        .repartition(1)
        .sortWithinPartitions("a", "b")
    )


# ---------------------------------------------------------------------------
# Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg, 2007)
# ---------------------------------------------------------------------------

LP_MIN_CN = 2  # emit candidate pairs with at least this many common nbrs


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-link prediction over the shared link graph by
    neighborhood Jaccard (Liben-Nowell & Kleinberg, JASIST 58(7),
    2007): for every NON-edge (u, v) with >= LP_MIN_CN common
    neighbors, score |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the classic
    crawl-frontier / related-page suggestion signal, and the graph
    twin of the shingle-set Jaccard the dedup family uses on text.

    Candidates come only from WEDGES (u-w-v paths), so impossible
    pairs are never materialized; existing edges are removed by one
    anti-join; the union size is deg_u + deg_v - cn (inclusion-
    exclusion — no second intersection pass).  All integers, half-away
    ppm at the end.

    Scale shape: one symmetric edge list, a wedge self-join keyed on
    the CENTER node (fan-out = sum of deg^2, the triangle_count
    bound — at power-law scale reuse its (deg, id) orientation), one
    (u, v) partial-agg count, one broadcast degree join, one anti-join
    against the edge list.  No corpus-cardinality window, no
    cartesian."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    directed = _link_edges(docs, n)
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst"), F.col("src")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    w1 = und.select(F.col("dst").alias("w"), F.col("src").alias("u"))
    w2 = und.select(F.col("dst").alias("w"), F.col("src").alias("v"))
    cn = (
        w1.join(w2, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= LP_MIN_CN)
    )
    canon = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    nonedges = cn.join(canon, ["u", "v"], "anti")
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    return (
        nonedges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            F.expr(
                "(2 * cn * cast(1000000 as bigint)"
                " + (deg_u + deg_v - cn)) div (2 * (deg_u + deg_v - cn))"
            ).alias("jaccard_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("u", "v")
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman, PRL 89:208701, 2002)
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the shared link graph
    (Newman, Phys. Rev. Lett. 89:208701, 2002): the Pearson
    correlation of the endpoint degrees over the SYMMETRIC directed
    edge list (each undirected edge contributes both orientations, the
    paper's convention) — one scalar that separates hub-to-hub
    'rich-club' webs (r > 0) from hub-to-leaf spam-farm stars (r < 0),
    which is why it sits next to kcore/ktruss in a link-graph
    curation report.

    Exactness: reuses the repo's exact integer Pearson (_corr_expr in
    operators/relational.py — int64 sums, floor-sqrt with ±1
    correction, sign-decomposed division), so the ppm is bit-equal
    cross-engine.

    Scale shape: one degree groupBy, two broadcast-able degree joins
    onto the edge list, ONE 1-row global aggregate of five integer
    sums, then driver-free literal arithmetic — the feature_correlation
    shape on edges instead of users."""
    from ocr_spark.operators.relational import _corr_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    directed = _link_edges(docs, n)
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst"), F.col("src")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    both = (
        und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(du, "u")
        .join(dv, "v")
    )
    stats = both.agg(
        F.count("*").alias("n"),
        F.sum("du").alias("sx_du"),
        F.sum(F.expr("du * du")).alias("sxx_du"),
        F.sum("dv").alias("sx_dv"),
        F.sum(F.expr("dv * dv")).alias("sxx_dv"),
        F.sum(F.expr("du * dv")).alias("sxy_du_dv"),
    )
    return (
        stats.filter(F.col("n") > 0)
        .select(
            F.col("n").alias("n_directed_edges"),
            F.expr(_corr_expr("du", "dv", "div"))
            .cast("bigint")
            .alias("assortativity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Weisfeiler-Lehman color refinement (Weisfeiler & Leman, 1968; WL kernels:
# Shervashidze et al., JMLR 2011)
# ---------------------------------------------------------------------------

WL_ROUNDS = 3  # refinement depth (the WL-kernel h parameter)


def wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement of the shared link graph
    (the 1-WL algorithm behind the WL graph kernels of Shervashidze et
    al., JMLR 12, 2011, and the expressiveness ceiling of
    message-passing GNNs): every node starts colored by its degree;
    each round recolors a node with a hash of (own color, SORTED
    multiset of neighbor colors); after WL_ROUNDS rounds, nodes
    sharing a color are structurally indistinguishable at that depth.
    Emits each node's final color (md5-32, the repo hash convention)
    and its color-class size — the structural-role fingerprint used
    for graph dedup, template detection across link neighborhoods,
    and GNN feature hashing.

    Fixed-depth by definition (the kernel's h is a hyperparameter, not
    a convergence loop), so both engines unroll the same WL_ROUNDS
    rounds — no fixed-point machinery needed.

    Scale shape: per round ONE neighbor equi-join of the (node, color)
    state against the symmetric edge list and one per-node groupBy
    whose collect is bounded by the node's degree (sorted array, so
    the multiset hash is deterministic); the state is localCheckpoint'd
    each round to keep lineage flat.  Color-class sizes are one final
    partial-agg count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    directed = _link_edges(docs, n)
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst"), F.col("src")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    state = docs.join(
        deg, docs["doc_id"] == deg["src"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("deg"), F.lit(0)).cast("string").alias("lbl"),
    )
    for _ in range(WL_ROUNDS):
        nbr = und.join(
            state.select(
                F.col("doc_id").alias("dst"), F.col("lbl").alias("nl")
            ),
            "dst",
        )
        agg = nbr.groupBy("src").agg(
            F.array_join(
                F.array_sort(F.collect_list("nl")), ","
            ).alias("nls")
        )
        state = (
            state.join(
                agg, state["doc_id"] == agg["src"], "left"
            )
            .select(
                "doc_id",
                F.expr(
                    "cast(conv(substring(md5(concat(lbl, '|',"
                    " coalesce(nls, ''))), 1, 8), 16, 10) as bigint)"
                ).cast("string").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    final = state.select(
        "doc_id", F.col("lbl").cast("bigint").alias("wl_label")
    )
    sizes = final.groupBy("wl_label").agg(
        F.count("*").alias("class_size")
    )
    return (
        final.join(sizes, "wl_label")
        .select("doc_id", "wl_label", "class_size")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# HyperBall neighborhood function (Boldi & Vigna, WWW'11 / HyperANF)
# ---------------------------------------------------------------------------

HB_P = 4  # register-index bits => m = 16 registers per node
HB_M = 1 << HB_P
HB_Q = 32 - HB_P + 1  # max register rank
HB_ALPHA_PPM = 673_000  # published alpha_16 bias constant, exact in ppm
HB_HOPS = 3


def hyperball_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neighborhood function N(t) of the document link graph — how
    many (v, u) pairs are within t out-hops — via HyperBall (Boldi &
    Vigna WWW'11): every node carries an HLL sketch of its out-ball,
    and one round of "my ball = me union my successors' balls at t-1"
    is ONE edge join + an elementwise register max.  N(t) is what
    effective-diameter / spid crawl diagnostics are computed from, and
    HyperBall is THE way to get it at 10^12 edges — exact balls are
    O(n^2) state, per-node sketches are O(n * m).

    Register algebra is the proven ``hll_distinct_users`` kernel
    (portable md5-32 hash, rank by integer bit length, integer
    2^(Q-m) estimate sum, half-away ppm division, published alpha_16)
    — deterministic, so the oracle rebuilds identical registers; the
    raw-estimate small-range bias is identical in both engines and the
    fixture-scale EXACT ball size rides along per hop (the
    dedup_sketch_eval meta-eval pattern) with its err_ppm.

    Scale shape: per hop one equi-join of the register table (n * m
    rows, co-partitionable on v) with edges on dst plus one map-side-
    combining max groupBy — the Pregel budget, same as PageRank; state
    is localCheckpoint'ed eagerly so lineage stays one round deep.  The
    exact-ball companion joins are the fixture-scale truth ONLY (their
    state is the pair set itself — the thing HyperBall exists to
    avoid) and would be dropped at 100 TB."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _link_edges(docs, n).localCheckpoint(eager=True)
    h = "cast(conv(substring(md5(cast(v as string)), 1, 8), 16, 10) as bigint)"
    lo = 1 << (32 - HB_P)
    regs = docs.select(F.col("doc_id").alias("v")).select(
        "v",
        F.expr(f"{h} div {lo}").alias("bucket"),
        F.expr(
            f"case when {h} % {lo} = 0 then {HB_Q}"
            f" else {HB_Q} - length(bin({h} % {lo})) end"
        ).alias("rank"),
    )
    balls = docs.select(
        F.col("doc_id").alias("v"), F.col("doc_id").alias("u")
    )
    out = []
    for t in range(HB_HOPS + 1):
        if t > 0:
            gained = (
                edges.join(regs, regs["v"] == edges["dst"])
                .select(edges["src"].alias("v"), "bucket", "rank")
            )
            regs = (
                regs.unionByName(gained)
                .groupBy("v", "bucket")
                .agg(F.max("rank").alias("rank"))
                .localCheckpoint(eager=True)
            )
            grown = (
                edges.join(balls, balls["v"] == edges["dst"])
                .select(edges["src"].alias("v"), "u")
            )
            balls = (
                balls.unionByName(grown).distinct()
                .localCheckpoint(eager=True)
            )
        per_node = regs.groupBy("v").agg(
            F.count("*").alias("rs"),
            F.expr(
                f"sum(shiftleft(cast(1 as bigint), {HB_Q} - rank))"
                f" + ({HB_M} - count(*))"
                f" * shiftleft(cast(1 as bigint), {HB_Q})"
            ).alias("s_inv"),
        )
        est = per_node.agg(
            F.expr(
                f"sum((2 * cast({HB_ALPHA_PPM} as bigint) * {HB_M * HB_M}"
                f" * shiftleft(cast(1 as bigint), {HB_Q}) + s_inv * 1000000)"
                f" div (2 * s_inv * 1000000))"
            ).alias("est_pairs")
        ).select(F.lit(t).alias("hop"), "est_pairs")
        exact = balls.agg(F.count("*").alias("exact_pairs")).select(
            F.lit(t).alias("hop"), "exact_pairs"
        )
        out.append(est.join(exact, "hop"))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return (
        res.select(
            "hop",
            F.col("est_pairs").cast("bigint").alias("est_pairs"),
            F.col("exact_pairs").cast("bigint").alias("exact_pairs"),
            F.expr(
                "cast((2 * abs(est_pairs - exact_pairs) * cast(1000000 as"
                " bigint) + exact_pairs) div (2 * exact_pairs) as bigint)"
            ).alias("err_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("hop")
    )


def harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page harmonic centrality (sum of 1/d(v, u) over reachable u)
    estimated with the SAME HyperBall register recurrence as
    ``hyperball_neighborhood`` — Boldi & Vigna's own headline use of
    HyperBall (Axioms for Centrality, Internet Math. 2014: harmonic
    beats PageRank as an importance axiom), and the crawl-frontier
    prioritization metric at 10^12 pages where exact BFS per node is
    unthinkable.

    d is truncated at ``HB_HOPS`` (standard: contributions beyond the
    horizon are 0).  Register max-merge only GROWS registers, so the
    per-node HLL estimate is monotone in t and every per-hop delta is a
    non-negative integer; harmonic = sum of delta_t * 1e6 div t — all
    integer, engine-exact.

    Scale shape: identical to hyperball_neighborhood minus its exact
    companion — per hop one edge join + one keyed register max, state
    localCheckpoint'ed; the per-t estimates union into one slim
    (v, t, est) table and pivot by conditional agg (per-node group,
    bounded)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    edges = _link_edges(docs, n).localCheckpoint(eager=True)
    h = "cast(conv(substring(md5(cast(v as string)), 1, 8), 16, 10) as bigint)"
    lo = 1 << (32 - HB_P)
    regs = docs.select(F.col("doc_id").alias("v")).select(
        "v",
        F.expr(f"{h} div {lo}").alias("bucket"),
        F.expr(
            f"case when {h} % {lo} = 0 then {HB_Q}"
            f" else {HB_Q} - length(bin({h} % {lo})) end"
        ).alias("rank"),
    )

    def node_est(r: DataFrame, t: int) -> DataFrame:
        per = r.groupBy("v").agg(
            F.expr(
                f"sum(shiftleft(cast(1 as bigint), {HB_Q} - rank))"
                f" + ({HB_M} - count(*))"
                f" * shiftleft(cast(1 as bigint), {HB_Q})"
            ).alias("s_inv")
        )
        return per.select(
            "v",
            F.lit(t).alias("t"),
            F.expr(
                f"(2 * cast({HB_ALPHA_PPM} as bigint) * {HB_M * HB_M}"
                f" * shiftleft(cast(1 as bigint), {HB_Q}) + s_inv * 1000000)"
                f" div (2 * s_inv * 1000000)"
            ).alias("est"),
        )

    ests = node_est(regs, 0)
    for t in range(1, HB_HOPS + 1):
        gained = edges.join(regs, regs["v"] == edges["dst"]).select(
            edges["src"].alias("v"), "bucket", "rank"
        )
        regs = (
            regs.unionByName(gained)
            .groupBy("v", "bucket")
            .agg(F.max("rank").alias("rank"))
            .localCheckpoint(eager=True)
        )
        ests = ests.unionByName(node_est(regs, t))
    wide = ests.groupBy("v").agg(
        *[
            F.max(F.when(F.col("t") == t, F.col("est"))).alias(f"e{t}")
            for t in range(HB_HOPS + 1)
        ]
    )
    harmonic = " + ".join(
        f"((e{t} - e{t - 1}) * 1000000) div {t}"
        for t in range(1, HB_HOPS + 1)
    )
    return (
        wide.select(
            F.col("v").alias("doc_id"),
            F.expr(f"cast({harmonic} as bigint)").alias("harmonic_ppm"),
            F.col(f"e{HB_HOPS}").cast("bigint").alias("reach_est"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Effective diameter from the HyperBall neighborhood function
# (Palmer/ANF KDD'02 measure; Boldi-Vigna WWW'11 estimator)
# ---------------------------------------------------------------------------

EFF_DIAM_PCT = 9  # tenths: the standard 90th-percentile definition


def effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter of the link graph — the interpolated hop
    count t at which the neighborhood function N(t) first reaches 90%
    of its plateau (the ANF/HyperANF crawl diagnostic: "how many hops
    reach most of the web"; Palmer et al. KDD'02, Boldi-Vigna WWW'11)
    — computed from ``hyperball_neighborhood``'s per-hop pair counts,
    on BOTH the HyperBall estimate (the 10^12-edge production number)
    and the fixture-scale exact balls (the meta-eval companion).

    Integer-exact interpolation: the 90% target compares
    ``10*N(t) >= 9*N_plateau`` (no 0.9 float), and the within-hop
    fraction is ``((9*mx - 10*prev) * 1000) div (10*(cur - prev))``
    milli-hops, trunc-div — identical bigint arithmetic on both
    engines.

    Scale shape: all work beyond the HyperBall recurrence itself runs
    on HB_HOPS+1 = 4 rows — the lag window is annotated tiny, the
    plateau max is a 1-row broadcast, the first-crossing pick is a
    4-row TakeOrdered."""
    nf = hyperball_neighborhood(spark, sf_dir).select(
        "hop", "est_pairs", "exact_pairs"
    )
    mx = nf.agg(
        F.max("est_pairs").alias("mx_est"),
        F.max("exact_pairs").alias("mx_ex"),
    )
    w = Window.orderBy("hop")  # tiny-window: HB_HOPS+1 neighborhood rows
    lagged = nf.select(
        "hop",
        "est_pairs",
        "exact_pairs",
        F.lag("est_pairs").over(w).alias("prev_est"),
        F.lag("exact_pairs").over(w).alias("prev_ex"),
    ).crossJoin(F.broadcast(mx))

    def dia(cur: str, prev: str, mxc: str, out: str):
        cond = F.expr(f"10 * {cur} >= {EFF_DIAM_PCT} * {mxc}")
        val = F.expr(
            f"case when hop = 0 then cast(0 as bigint) else"
            f" (hop - 1) * 1000 +"
            f" (({EFF_DIAM_PCT} * {mxc} - 10 * {prev}) * 1000)"
            f" div nullif(10 * ({cur} - {prev}), 0) end"
        )
        return (
            lagged.filter(cond)
            .orderBy("hop")
            .limit(1)
            .select(val.cast("bigint").alias(out))
        )

    return (
        dia("est_pairs", "prev_est", "mx_est", "eff_diameter_est_milli")
        .crossJoin(
            F.broadcast(
                dia("exact_pairs", "prev_ex", "mx_ex",
                    "eff_diameter_exact_milli")
            )
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "eff_diameter_est_milli",
            "eff_diameter_exact_milli",
            F.col("mx_est").cast("bigint").alias("plateau_est_pairs"),
            F.col("mx_ex").cast("bigint").alias("plateau_exact_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (Watts & Strogatz, Nature 1998)
# ---------------------------------------------------------------------------


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient cc = 2T / (d(d-1)) over
    the undirected link graph (Watts-Strogatz 1998) — triangles from
    the degree-ordered ``triangle_count`` kernel divided by the
    node's possible wedges; THE cohesion-vs-spam signal read next to
    raw triangle counts (link farms score near 1, broadcast hubs near
    0).

    Engine-exactness: integer half-away ppm of 2T/(d(d-1)); degree-0/1
    nodes define cc = 0 (no possible wedge).

    Scale shape: triangle_count's all-equi-join pipeline plus ONE
    degree aggregate over the undirected edge list and a doc_id-keyed
    join — no new shuffle classes, no windows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct()
    deg = (
        und.select(F.col("a").alias("doc_id"))
        .unionByName(und.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_count(spark, sf_dir)
    return (
        docs.join(deg, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
        .withColumn(
            "cc_ppm",
            F.expr(
                "case when deg < 2 then cast(0 as bigint) else"
                " (2 * (2 * n_triangles * cast(1000000 as bigint))"
                "  + deg * (deg - 1)) div (2 * deg * (deg - 1)) end"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Directed-graph reciprocity (Newman/Garlaschelli-Loffredo 2004)
# ---------------------------------------------------------------------------


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed link graph — the fraction of
    directed edges whose reverse edge also exists (Garlaschelli &
    Loffredo, PRL 2004): on the web this separates mutual-citation
    communities from broadcast link structures, and a sudden rise is
    the classic link-exchange-spam tripwire.

    Engine-exactness: reciprocated-edge detection is one self
    equi-join on the swapped key (a SEMI join, so multiplicity can't
    double-count), counts are bigints, the ratio is half-away ppm.

    Scale shape: one distinct pass over the edge list and one
    co-keyed (dst, src)=(src, dst) semi self-join — both shuffle on
    the edge key; the output is a single row."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n).select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    tot = e.agg(F.count("*").alias("n_edges"))
    rc = recip.agg(F.count("*").alias("n_reciprocated"))
    return (
        tot.crossJoin(F.broadcast(rc))
        .select(
            "n_edges",
            "n_reciprocated",
            F.expr(
                "case when n_edges = 0 then cast(0 as bigint) else"
                " (2 * n_reciprocated * cast(1000000 as bigint) + n_edges)"
                " div (2 * n_edges) end"
            ).alias("reciprocity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Strongly connected components (FW-BW coloring, Orzan 2004 /
# Slota-Rajamanickam-Madduri IPDPS'14)
# ---------------------------------------------------------------------------

SCC_MAX_PEELS = 40  # outer peel cap (each peel removes >= 1 SCC per color)
SCC_MAX_STEPS = 60  # inner fixpoint cap (bounded by remaining diameter)


def scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED link graph — the
    web-graph primitive behind the bowtie decomposition (Broder
    WWW'00: the giant SCC vs IN/OUT/tendrils is the standard map of a
    crawl) — via the distributed coloring algorithm (Orzan '04; the
    FW-BW-style peeling of Slota et al., IPDPS'14), NOT Tarjan (which
    is inherently sequential):

      peel round: (1) propagate the MINIMUM ancestor id forward to
      fixpoint (each node's color = least id that reaches it — pure
      keyed min-joins); (2) roots are nodes colored by themselves;
      each root's SCC = nodes of its color that REACH the root,
      found by a backward mark restricted to same-color edges;
      (3) emit marked nodes with scc_id = color, peel them off,
      repeat on the remainder.

    Every fixpoint is detected by an O(1) changed-count aggregate
    (the kcore_peel production convention) under hard round caps, and
    every loop iteration localCheckpoints so lineage stays one round
    deep.  Determinism: colors are minima over node ids — no ordering
    sensitivity anywhere, so the labeling is bit-equal to the
    oracle's transitive-closure definition (v, u same SCC iff v
    reaches u and u reaches v; scc_id = min member).

    Scale shape: per inner step ONE edge-color equi-join + ONE keyed
    min/distinct aggregate (the Pregel budget, same as PageRank);
    state is O(remaining nodes); the same-color edge restriction
    shrinks every peel's working set.  Worst case (one long path) is
    O(diameter) steps — the documented cost of any label-propagation
    SCC; web graphs converge in tens of rounds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    edges_all = _link_edges(docs, n).localCheckpoint(eager=True)
    remaining = docs.select(F.col("doc_id").alias("v")).localCheckpoint(
        eager=True
    )
    assigned = None
    for _peel in range(SCC_MAX_PEELS):
        if remaining.count() == 0:
            break
        rs = remaining.select(F.col("v").alias("src"))
        rd = remaining.select(F.col("v").alias("dst"))
        edges = (
            edges_all.join(rs, "src", "left_semi")
            .join(rd, "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # (1) forward-min coloring: color(v) = min id reaching v
        color = remaining.select("v", F.col("v").alias("c"))
        for _step in range(SCC_MAX_STEPS):
            push = edges.join(
                color.select(F.col("v").alias("src"), "c"), "src"
            ).select(F.col("dst").alias("v"), "c")
            newc = (
                color.unionByName(push)
                .groupBy("v")
                .agg(F.min("c").alias("c"))
                .localCheckpoint(eager=True)
            )
            changed = (
                newc.join(
                    color.select("v", F.col("c").alias("c0")), "v"
                )
                .filter(F.col("c") != F.col("c0"))
                .count()
            )
            color = newc
            if changed == 0:
                break
        # (2) backward mark from each root along same-color edges
        ce = (
            edges.join(
                color.select(F.col("v").alias("src"), F.col("c").alias("cs")),
                "src",
            )
            .join(
                color.select(F.col("v").alias("dst"), F.col("c").alias("cd")),
                "dst",
            )
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        mark = color.filter(F.col("v") == F.col("c")).select("v")
        for _step in range(SCC_MAX_STEPS):
            grown = ce.join(
                mark.select(F.col("v").alias("dst")), "dst"
            ).select(F.col("src").alias("v"))
            newmark = (
                mark.unionByName(grown).distinct().localCheckpoint(
                    eager=True
                )
            )
            if newmark.count() == mark.count():
                break
            mark = newmark
        found = mark.join(color, "v").select(
            "v", F.col("c").alias("scc_id")
        )
        assigned = (
            found
            if assigned is None
            else assigned.unionByName(found)
        ).localCheckpoint(eager=True)
        remaining = remaining.join(mark, "v", "left_anti").localCheckpoint(
            eager=True
        )
    sizes = assigned.groupBy("scc_id").agg(
        F.count("*").alias("scc_size")
    )
    return (
        assigned.join(sizes, "scc_id")
        .select(
            F.col("v").alias("doc_id"),
            F.col("scc_id").cast("bigint").alias("scc_id"),
            F.col("scc_size").cast("bigint").alias("scc_size"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Bowtie decomposition (Broder et al., WWW 2000)
# ---------------------------------------------------------------------------


def bowtie_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder's bowtie map of the directed link graph — every page
    classified against the GIANT strongly connected component: 'scc'
    (in it), 'in' (reaches it), 'out' (reachable from it), or
    'tendril_or_disc' (neither) — the crawl-coverage diagnostic that
    tells you which fraction of the web a forward-only crawler seeded
    inside the core can ever see (WWW'00's famous ~quarter each).

    Built on ``scc_labels``' coloring output: the giant component is
    the (size desc, id) TakeOrdered pick, broadcast as one row; the
    two reachability closures are frontier BFS loops — per step one
    edge equi-join + distinct union — gated by O(1) count convergence
    under the same hard caps and per-round checkpoints as scc_labels.
    Classification precedence scc > in > out matches the oracle's
    CASE order (a node cannot be both in and out without being in the
    SCC itself, so the order only disambiguates giant members).

    Scale shape: BFS state is O(reached nodes); each step shuffles
    the frontier join on the edge key — the Pregel budget; class
    assignment is two broadcast-set left joins, never a window."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    edges = _link_edges(docs, n).localCheckpoint(eager=True)
    scc = scc_labels(spark, sf_dir)
    giant = (
        scc.select("scc_id", "scc_size")
        .distinct()
        .orderBy(F.desc("scc_size"), F.asc("scc_id"))
        .limit(1)
        .select("scc_id")
    )
    core = (
        scc.join(F.broadcast(giant), "scc_id")
        .select(F.col("doc_id").alias("v"))
        .localCheckpoint(eager=True)
    )

    def closure(direction_src: str, direction_dst: str):
        reach = core
        for _ in range(SCC_MAX_STEPS):
            grown = edges.join(
                reach.select(F.col("v").alias(direction_src)),
                direction_src,
            ).select(F.col(direction_dst).alias("v"))
            newr = reach.unionByName(grown).distinct().localCheckpoint(
                eager=True
            )
            if newr.count() == reach.count():
                break
            reach = newr
        return reach

    fwd = closure("src", "dst")  # reachable FROM the core
    bwd = closure("dst", "src")  # nodes that REACH the core
    return (
        docs.join(
            core.select(F.col("v").alias("doc_id"), F.lit(1).alias("g")),
            "doc_id",
            "left",
        )
        .join(
            fwd.select(F.col("v").alias("doc_id"), F.lit(1).alias("f")),
            "doc_id",
            "left",
        )
        .join(
            bwd.select(F.col("v").alias("doc_id"), F.lit(1).alias("b")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.expr(
                "case when g = 1 then 'scc'"
                " when b = 1 then 'in'"
                " when f = 1 then 'out'"
                " else 'tendril_or_disc' end"
            ).alias("node_class"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Newman modularity of the LPA partition (Newman & Girvan, PRE 2004)
# ---------------------------------------------------------------------------


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the ``lpa_communities`` partition —
    the quality number that tells you whether the detected communities
    are real structure or noise (Q near 0 = no better than random;
    0.3+ = strong): per community c,
    ``contrib = e_c/m − (d_c / 2m)²`` where e_c counts within-community
    undirected edges, d_c sums member degrees, m = |edges| — the meta-
    eval closing the community loop the way ann_recall_eval closes ANN.

    Engine-exactness: the contribution folds into ONE signed rational
    ``(4·m·e_c − d_c²) / (4m²)`` of bigints (decimal(38,0) for the
    products — d_c² can pass 2^63 at web scale), rendered as
    sign-split half-away ppm so negative contributions round
    identically on both engines.

    Scale shape: one label join onto the undirected edge list (edges
    co-keyed on both endpoints), a per-community pair of partial-agg
    sums, and the scalar m broadcast — no windows, no node-cardinality
    driver state."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct()
    labels = lpa_communities(spark, sf_dir).select(
        F.col("doc_id").alias("v"), "community"
    )
    m_row = und.agg(F.count("*").alias("m"))
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    d_sum = (
        labels.join(deg, "v")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    e_in = (
        und.join(
            labels.select(F.col("v").alias("a"), F.col("community").alias(
                "ca"
            )),
            "a",
        )
        .join(
            labels.select(F.col("v").alias("b"), F.col("community").alias(
                "cb"
            )),
            "b",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_within"))
    )
    d38 = "decimal(38,0)"
    return (
        d_sum.join(e_in, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_within", F.lit(0)).cast("bigint").alias(
                "e_within"
            ),
            F.col("degree_sum").cast("bigint").alias("degree_sum"),
            F.expr(
                f"cast((4 * cast(m as {d38}) * coalesce(e_within, 0)"
                f" - cast(degree_sum as {d38}) * degree_sum) as {d38})"
            ).alias("num"),
            F.expr(f"cast(4 * cast(m as {d38}) * m as {d38})").alias(
                "den"
            ),
        )
        .select(
            "community",
            "n_nodes",
            "e_within",
            "degree_sum",
            F.expr(
                "cast(case when num >= 0 then"
                " (2 * num * 1000000 + den) div (2 * den)"
                " else -((2 * (-num) * 1000000 + den) div (2 * den))"
                " end as bigint)"
            ).alias("contrib_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("community")
    )


# ---------------------------------------------------------------------------
# Crawl-frontier prioritization (the composed crawler scheduling query)
# ---------------------------------------------------------------------------

FRONTIER_K = 100  # pages scheduled per crawl cycle


def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawler's actual scheduling query — compose the three signals
    this module already maintains into one prioritized fetch list:
    pages DISCOVERED but not yet crawled (BFS hop >= 1 from the crawled
    seed set), ALLOWED by the robots longest-prefix gate, ranked by
    link authority DISCOUNTED by distance (pr_ppb >> hop — one halving
    per hop, the standard depth-penalized frontier score), top
    ``FRONTIER_K`` per cycle.

    Scale shape: reuses the unsorted cores (_bfs_visited — frontier
    joins touch only the reachable ball; _pagerank_vector — O(edges)
    per iteration; _robots_matched — broadcast rule join); the fusion
    is two doc_id equi-joins, and the top-K is ``orderBy().limit()`` —
    Spark's TakeOrderedAndProject, a distributed per-partition top-K +
    driver merge of K-row heads, NEVER a global sort (the scale-safe
    top-K form per the repo convention)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    if n == 0:  # empty-partition safety: the ppb base would divide by 0
        return spark.createDataFrame(
            [], "doc_id long, hop bigint, pr_ppb bigint, priority_ppb bigint"
        )
    edges = _link_edges(docs, n)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    pr = _pagerank_vector(docs, edges, out_deg, n)
    hops = _bfs_visited(docs, edges).filter(F.col("hop") >= 1)
    allowed = _robots_matched(docs).filter(
        F.col("verdict") == "allow"
    ).select("doc_id")
    return (
        hops.select(F.col("v").alias("doc_id"), "hop")
        .join(allowed, "doc_id")
        .join(pr.select(F.col("v").alias("doc_id"),
                        F.col("pr").alias("pr_ppb")), "doc_id")
        .withColumn(
            "priority_ppb",
            F.expr("pr_ppb div shiftleft(cast(1 as bigint), "
                   "cast(hop as int))"),
        )
        .orderBy(F.desc("priority_ppb"), "doc_id")
        .limit(FRONTIER_K)
    )


# ---------------------------------------------------------------------------
# Two-level Louvain (synchronous modularity-greedy community moves)
# ---------------------------------------------------------------------------

LOUVAIN_ROUNDS = 2


def _louvain_sweeps(
    labels: DataFrame,
    wedges: DataFrame,
    deg: DataFrame,
    m: int,
    rounds: int,
) -> DataFrame:
    """``rounds`` synchronous WEIGHTED modularity-greedy sweeps — the
    core shared by both levels of louvain_two_level (unit weights on
    level 1, contracted multiplicities on level 2).  ``wedges`` is the symmetric inter-node
    (src, dst, w) list (no self rows); ``deg`` the weighted degree
    (self-loop mass counted twice, the standard convention); ``m`` the
    total edge weight.  Score = 2·m·k_uc − deg_u·(Σtot_c −
    deg_u·[c = own]); ties → smaller community id."""
    for _ in range(rounds):
        sigma = (
            labels.join(deg, "node")
            .groupBy("c")
            .agg(F.sum("deg").alias("tot"))
            .select(F.col("c").alias("nc"), "tot")
        )
        kuc = (
            wedges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("c").alias("nc")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "nc")
            .agg(F.sum("w").alias("k"))
        )
        cand = (
            kuc.unionByName(
                labels.select(
                    "node", F.col("c").alias("nc"),
                    F.lit(0).cast("bigint").alias("k"),
                )
            )
            .groupBy("node", "nc")
            .agg(F.max("k").alias("k"))
        )
        scored = (
            cand.join(sigma, "nc")
            .join(deg, "node")
            .join(labels, "node")
            .withColumn(
                "score",
                F.expr(
                    f"2 * {m} * k - deg"
                    " * (tot - (case when nc = c then deg else 0 end))"
                ),
            )
        )
        w = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("nc"))
        pick = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", F.col("nc").alias("new_c"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select("node", F.coalesce("new_c", "c").alias("c"))
            .localCheckpoint(eager=True)
        )
    return labels


def louvain_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two levels of Louvain community detection (Blondel, Guillaume,
    Lambiotte & Lefebvre, J. Stat. Mech. 2008) in the SYNCHRONOUS
    variant.  Level 1 (``community_l1``): every node simultaneously
    moves to the candidate community (a neighbor's community, or its
    own) with the best modularity gain.  For node u and community c the
    gain of joining c as an isolated node is dQ ∝ k_uc/m −
    deg_u·Σtot'_c/(2m²); cross-multiplying by 2m² gives the EXACT
    INTEGER score 2·m·k_uc − deg_u·(Σtot_c − deg_u·[c = own]), so the
    argmax (ties → smaller community id) is engine-bit-equal — float
    Louvain would tie-break differently per engine.  The node's own
    community is always a candidate (k_uc = 0 if no neighbor shares
    it), which is the "or stay" branch of the sequential algorithm.
    ``LOUVAIN_ROUNDS`` synchronous sweeps approximate the sequential
    phase-1 fixed point.  Unlike lpa_communities, the vote is WEIGHTED:
    Σtot discounts high-degree communities — the modularity null model
    — so hubs don't swallow the graph.

    Level 2 (``community_l2``, the aggregation phase): CONTRACT each
    level-1 community to a super-node (inter-community edge weights =
    summed multiplicities; intra-community mass enters the super-node's
    weighted degree via the symmetric (c, c) rows — the
    self-loop-counted-twice convention), and run the SAME weighted
    sweeps on the contracted graph.  Total edge weight m is conserved
    by contraction, so the level-2 scores live on the same modularity
    scale — level-2 communities merge level-1 communities that
    individually looked stable.

    Scale shape: per level-1 round one edges⋈labels equi-join +
    (node, community) partial-agg for k_uc, one O(communities) Σtot
    aggregate, one per-NODE window argmax (partitioned by node, never
    global), all keyed shuffles; rounds localCheckpoint'ed so lineage
    stays O(1).  The contraction is two label equi-joins + one (ca, cb)
    partial-agg count on the edge list; level 2 runs on the COMMUNITY
    graph (nodes = communities, typically orders of magnitude smaller),
    so its sweeps are nearly free — the classic reason multi-level
    Louvain scales.  Integer scores fit int64 up to ~10^9 edges; beyond
    that swap in decimal(38,0) as the repo does for the KS
    cross-products."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = und.count() // 2
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    wedges = und.withColumn("w", F.lit(1).cast("bigint"))
    labels0 = docs.select(
        F.col("doc_id").alias("node"),
        F.col("doc_id").cast("bigint").alias("c"),
    )
    l1 = _louvain_sweeps(
        labels0, wedges, deg, m, LOUVAIN_ROUNDS
    ).localCheckpoint(eager=True)
    # contraction: label both endpoints, keep (ca, cb, multiplicity)
    la = l1.select(F.col("node").alias("src"), F.col("c").alias("ca"))
    lb = l1.select(F.col("node").alias("dst"), F.col("c").alias("cb"))
    e2 = (
        und.join(la, "src")
        .join(lb, "dst")
        .groupBy("ca", "cb")
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=True)
    )
    # weighted degree of a super-node = ALL incident rows (the (c, c)
    # rows carry each intra edge twice — the self-loop convention)
    deg2 = e2.groupBy("ca").agg(F.sum("w").alias("deg")).select(
        F.col("ca").alias("node"), "deg"
    )
    inter = e2.filter(F.col("ca") != F.col("cb")).select(
        F.col("ca").alias("src"), F.col("cb").alias("dst"), "w"
    )
    supers = l1.select(F.col("c").alias("node")).distinct().select(
        "node", F.col("node").alias("c")
    )
    l2 = _louvain_sweeps(supers, inter, deg2, m, LOUVAIN_ROUNDS)
    mapping = l2.select(
        F.col("node").alias("c"), F.col("c").alias("community_l2")
    )
    out = (
        l1.join(mapping, "c")
        .select(
            F.col("node").alias("doc_id"),
            F.col("c").alias("community_l1"),
            "community_l2",
        )
        .withColumn(
            "l2_size",
            F.count("*").over(Window.partitionBy("community_l2")),
        )
    )
    return out.repartition(1).sortWithinPartitions("doc_id")


def politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness slots over the crawl frontier — the last
    mile of crawl scheduling: a crawler may fetch at most ONE url per
    host per cycle, so the frontier's top-K (crawl_frontier) is striped
    into fetch cycles by ranking within each host (priority desc, then
    doc_id) and assigning slot = rank - 1.  A host contributing many
    high-priority pages naturally spreads across cycles instead of
    hammering the server — rate limiting expressed as a partitioned
    rank, no scheduler state.

    Scale shape: input is the already-bounded FRONTIER_K rows, the
    window partitions by host (never global), output unchanged in
    size."""
    frontier = crawl_frontier(spark, sf_dir)
    host = F.concat(
        F.lit("site"), (F.col("doc_id") % 5).cast("string"), F.lit(".com")
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("priority_ppb"), F.asc("doc_id")
    )
    return (
        frontier.withColumn("host", host)
        .withColumn("slot", F.row_number().over(w) - 1)
        .select("doc_id", "host", "hop", "priority_ppb", "slot")
        .repartition(1)
        .sortWithinPartitions("host", "slot")
    )


# ---------------------------------------------------------------------------
# DeepWalk-style walk context pairs (deterministic hash-argmin walks)
# ---------------------------------------------------------------------------

WALK_LEN = 4
WALK_SEED_MOD = 10  # walks start from every 10th document


def deepwalk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, context) training pairs from truncated walks over the
    link graph — the DeepWalk/node2vec data-generation step (Perozzi,
    Al-Rfou & Skiena, KDD 2014) that feeds graph embeddings exactly
    like skipgram_pairs feeds word embeddings.  Randomness is replaced
    by a DETERMINISTIC per-step choice — the next hop is the neighbor
    with the minimum md5(current, neighbor, step) — so the walks are
    engine-exact (same tie-free argmin both sides) while still mixing
    like hash-random walks.

    Scale shape: WALK_LEN iterations of one frontier⋈edges equi-join
    plus a per-WALK window argmin (partitioned by walk id, never
    global); walk count = seeds, state O(seeds) per step.  At 10^12
    nodes walks batch by seed shard and the edge list reuses the
    PageRank bucketing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    e = _link_edges(docs, n)
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    cur = docs.filter(F.col("doc_id") % WALK_SEED_MOD == 0).select(
        F.col("doc_id").alias("start"), F.col("doc_id").alias("v")
    )
    outs = []
    for t in range(1, WALK_LEN + 1):
        step = (
            cur.join(und, cur["v"] == und["src"])
            .withColumn(
                "h",
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("v").cast("string"),
                        F.col("dst").cast("string"),
                        F.lit(str(t)),
                    )
                ),
            )
        )
        w = Window.partitionBy("start").orderBy("h", "dst")
        nxt = (
            step.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("start", F.col("dst").alias("v"))
            .localCheckpoint(eager=True)
        )
        outs.append(
            nxt.select(
                "start",
                F.lit(t).cast("int").alias("step"),
                F.col("v").alias("context"),
            )
        )
        cur = nxt
    from functools import reduce

    pairs = reduce(lambda a, b: a.unionByName(b), outs)
    return pairs.repartition(1).sortWithinPartitions("start", "step")


def adamic_adar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar, Social Networks
    2003) — the refinement over neighborhood Jaccard
    (link_prediction_jaccard): common neighbors are weighted
    INVERSELY by their popularity, 1/log(deg(w)), so sharing an
    obscure mutual page predicts a link far more strongly than sharing
    a hub everyone links to.  Integer protocol: the log is the exact
    floor-log2 (bit length − 1; wedge centers always have deg ≥ 2 so
    it is ≥ 1), each wedge contributes half-away(1000, floor_log2) —
    the repo's per-term milli convention, bit-equal cross-engine.

    Scale shape: identical to link_prediction_jaccard — wedges keyed
    on the CENTER node with a broadcast-able center-degree join, one
    (u, v) partial-agg sum, one anti-join against the edge list; no
    window over corpus-cardinality input, no cartesian."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    directed = _link_edges(docs, n)
    und = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst"), F.col("src")))
        .distinct()
    )
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    # per-center milli weight: half-away(1000 / floor_log2(deg))
    wdeg = deg.select(
        F.col("src").alias("w"),
        F.expr(
            "(2 * 1000 + (length(bin(deg)) - 1))"
            " div (2 * (length(bin(deg)) - 1))"
        ).alias("w_milli"),
    )
    w1 = und.select(F.col("dst").alias("w"), F.col("src").alias("u"))
    w2 = und.select(F.col("dst").alias("w"), F.col("src").alias("v"))
    aa = (
        w1.join(w2, "w")
        .where(F.col("u") < F.col("v"))
        .join(wdeg, "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("cn"),
            F.sum("w_milli").alias("aa_milli"),
        )
        .where(F.col("cn") >= LP_MIN_CN)
    )
    canon = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return (
        aa.join(canon, ["u", "v"], "anti")
        .select("u", "v", "cn", "aa_milli")
        .repartition(1)
        .sortWithinPartitions("u", "v")
    )
