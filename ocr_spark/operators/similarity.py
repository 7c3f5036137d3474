"""Similarity search over embedding columns (array<float>).

``brute_topk``   exact cosine top-k against a query vector — the baseline;
                 one broadcast of the query row, no shuffle except final
                 top-k (which AQE executes as a partial+final TakeOrdered).
``lsh_topk``     random-hyperplane-LSH bucketed variant — the scale path:
                 probes only same-bucket vectors, so cost per query is
                 bucket-sized, not corpus-sized.  Hyperplanes are derived
                 deterministically from md5 so the oracle reproduces them.

All arithmetic is native Spark SQL over arrays (zip_with/aggregate) —
JVM-side, no Python.  Values are rounded before comparison because the
oracle computes in a different engine.

Scale notes (round-2 hoists):
- Hyperplane components are md5-derived CONSTANTS; they are computed once
  in Python at plan-build time and embedded as array literals.  The prior
  form evaluated ~N_PLANES*dim md5+conv calls through interpreted HOF
  lambdas PER ROW — pure waste that grows linearly with corpus size.
- Norms are per-row facts: ``_normed_embeddings`` computes ``nrm`` once
  per row before any join, and pairs pay only the dot product in
  ``_cosine`` = dot / (nrm_a * nrm_b), the one cosine every operator here
  (and dedup.embedding_near_dup) uses.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOP_K = 10
# LSH shape: 2^DEFAULT_PLANES buckets per table.  Bucket count is fixed,
# so the within-bucket self-join grows as (corpus / 2^planes)^2; a larger
# corpus needs more planes (about log2(corpus / target_bucket_rows)).
# DEFAULT_TABLES trades recall for candidate volume exactly like
# minhash-LSH bands (dedup.py) — each table is an INDEPENDENT plane set
# and candidates are the union over tables.
DEFAULT_PLANES = 8  # 256 buckets/table
DEFAULT_TABLES = 3


def _normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings.parquet plus ``nrm``, the per-row L2 norm — computed
    once per vector so every pair downstream pays only the dot product
    in ``_cosine``."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col("embedding"),
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )


def _cosine(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """dot(a, b) / (na * nb): the one cosine of the embedding family.
    The dot is a left fold in double over the element products — the
    order DuckDB's list_dot_product reproduces — and callers round the
    result themselves."""
    a, b, na, nb = (
        F.col(c) if isinstance(c, str) else c for c in (a, b, na, nb)
    )
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (na * nb)


@lru_cache(maxsize=None)
def _plane_values(table: int, p: int, dim: int) -> tuple[float, ...]:
    """Table t / hyperplane p components, bit-identical to the SQL
    derivation the DuckDB oracle uses:
    int(md5(f"plane{table}.{p}:{i}")[:4], 16) % 16 - 8."""
    return tuple(
        float(
            int(
                hashlib.md5(f"plane{table}.{p}:{i}".encode()).hexdigest()[:4],
                16,
            )
            % 16
            - 8
        )
        for i in range(dim)
    )


def _dlit(v: float) -> str:
    """Exact double literal for a SQL expr string: repr round-trips the
    IEEE value, and string->double cast parses it back bit-identically
    (scientific notation like 1e-05 is not a valid bare D-literal)."""
    return f"cast('{v!r}' as double)"


def bucket_of(emb_col: str, table: int, n_planes: int, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket in table ``table``: bit p =
    sign(dot(v, H_{t,p})).  Planes are plan-time constant array literals
    (no per-row md5 work — pinned by tests/test_plans.py).

    Built as ONE F.expr over an array-of-structs constant, not n_planes
    python-side expression copies: plan size (and codegen time, and the
    py4j round-trips to build it) is O(1) in n_planes, so the 18+ planes
    a 10^9-vector corpus needs do not make the plan itself the
    bottleneck."""
    items = ",".join(
        "named_struct('bit',{b},'vec',array({vs}))".format(
            b=2**p,
            vs=",".join(_dlit(v) for v in _plane_values(table, p, dim)),
        )
        for p in range(n_planes)
    )
    return F.expr(
        f"aggregate(transform(array({items}), p -> if("
        f"aggregate(zip_with({emb_col}, p.vec,"
        " (x, h) -> cast(x as double) * h), 0.0D, (acc, v) -> acc + v)"
        " > 0.0D, p.bit, 0)), 0, (acc, v) -> acc + v)"
    )


def bucket_array(
    emb_col: str, n_planes: int, n_tables: int, dim: int = 64
) -> Column:
    """One bucket per LSH table, as an array (posexplode → (table, bucket)
    band rows, the multi-table analog of minhash-LSH banding)."""
    return F.array(
        *[bucket_of(emb_col, t, n_planes, dim) for t in range(n_tables)]
    )


# IVF coarse quantizer.  Anchors (inverted-list centroids) are a
# deterministic sample of the corpus — the DEFAULT_ANCHORS lowest vec_ids —
# standing in for k-means centroids (the quantizer CONTRACT is identical:
# assign each vector to its nearest anchor, probe the query's
# DEFAULT_PROBE closest lists).  The list count is fixed; FAISS practice
# at scale is n_lists ~ sqrt(corpus), which balances assignment cost
# (n_lists dots per vector) against probe cost (n_probe * corpus / n_lists
# candidates per query).
DEFAULT_ANCHORS = 16
DEFAULT_PROBE = 4


def _emb_sig(sf_dir: str) -> tuple[int, int]:
    """(mtime_ns, size) of embeddings.parquet — the extra cache-key
    component for every driver-side codebook/anchor cache below, so a
    REWRITE at the same path invalidates the cached literals instead of
    silently desynchronizing them from the fresh DataFrame-side reads
    (ADVICE r3: the caches were keyed on the path string alone)."""
    import os

    st = os.stat(f"{sf_dir}/embeddings.parquet")
    return (st.st_mtime_ns, st.st_size)


def _anchor_rows(sf_dir: str) -> tuple[tuple[int, tuple[float, ...]], ...]:
    return _anchor_rows_cached(sf_dir, DEFAULT_ANCHORS, _emb_sig(sf_dir))


@lru_cache(maxsize=None)
def _anchor_rows_cached(
    sf_dir: str, n_anchors: int, _sig: tuple[int, int]
) -> tuple[tuple[int, tuple[float, ...]], ...]:
    """The anchor vectors, read ONCE driver-side at plan-build time and
    embedded as literals (centroids are always broadcast state in IVF —
    at 10^9-vector scale they would live in their own small table, read
    the same way).  Values come straight from the parquet so the DuckDB
    oracle, reading the same file, sees bit-identical floats."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    rows = sorted(
        (int(v), tuple(float(x) for x in e))
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
        if int(v) < n_anchors
    )
    return tuple(rows)


def _l2_struct_array(emb_col: str, anchors) -> Column:
    """Array of (round(L2^2 distance, 6), anchor_id) structs, one per
    anchor.  Distance is composed from three dot products
    (x·x − 2·x·a + a·a) so each piece uses the exact fold the DuckDB
    oracle's list_dot_product reproduces; rounding to 6 decimals before
    any argmin/sort kills float-boundary sensitivity on both sides.

    ONE F.expr over an array-of-structs anchor constant (aid, a·a
    precomputed driver-side — same left-fold order, bit-identical —
    and the anchor vector): plan size is O(1) in anchor count, so even
    sqrt(10^9) lists would not explode the expression tree (16
    python-built copies of a ~130-node fold in the round-2 form: 7.7 s
    py4j build + 4 s codegen PER QUERY)."""
    items = ",".join(
        "named_struct('aid',{aid},'aa',{aa},'vec',array({vs}))".format(
            aid=aid,
            aa=_dlit(sum(v * v for v in vec)),
            vs=",".join(_dlit(v) for v in vec),
        )
        for aid, vec in anchors
    )
    xx = (
        f"aggregate(zip_with({emb_col}, {emb_col},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    return F.expr(
        f"transform(array({items}), a -> named_struct("
        f"'d', round({xx} - 2.0D * aggregate(zip_with({emb_col}, a.vec,"
        " (x, h) -> cast(x as double) * h), 0.0D, (acc, v) -> acc + v)"
        " + a.aa, 6), 'aid', a.aid))"
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF (inverted-file) coarse quantizer: each vector is
    assigned map-side to its nearest anchor (argmin over literal anchor
    vectors — no shuffle, no join), the query probes its
    ``DEFAULT_PROBE`` nearest lists, and exact cosine runs only over
    vectors in the probed lists (~DEFAULT_PROBE/DEFAULT_ANCHORS of the
    corpus).

    Plan shape at scale: one map-side assignment pass + one broadcast of
    the single query row + final TakeOrdered — the corpus is never
    shuffled.  Ties in assignment/probing break on the lower anchor id
    (array_min/array_sort order struct fields lexicographically), the
    same rule as the oracle's ORDER BY d, aid.
    """
    anchors = _anchor_rows(sf_dir)
    emb = _normed_embeddings(spark, sf_dir).withColumn(
        "list_id",
        F.array_min(_l2_struct_array("embedding", anchors))["aid"],
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
        F.transform(
            F.slice(
                F.array_sort(_l2_struct_array("embedding", anchors)),
                1,
                DEFAULT_PROBE,
            ),
            lambda s: s["aid"],
        ).alias("probes"),
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.array_contains("probes", F.col("list_id")))
        .select(
            "vec_id",
            "label",
            F.round(_cosine("embedding", "q", "nrm", "qn"), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), "vec_id").limit(TOP_K)


IVF_INDEX_TABLE = "ivf_index"


def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """One index per corpus directory — an index is corpus state, so its
    path carries the corpus tag (reusing an index built from a different
    corpus would silently answer from the wrong data)."""
    import os
    import re

    tag = re.sub(r"[^0-9A-Za-z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(
        warehouse.removeprefix("file:"), f"{IVF_INDEX_TABLE}_{tag}"
    )


def ivf_index_write(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> str:
    """Persist the IVF inverted lists PARTITIONED by list_id — the
    index-once / query-many form of ivf_topk, laid out as FAISS lays out
    inverted lists: one directory per list.  Assignment (the argmin over
    anchors) and the per-row norm are paid a single time at build; every
    subsequent query reads only its probed list directories via
    partition pruning (unconditional in the parquet source, unlike
    bucket pruning, which the planner may drop with the bucketed scan).
    At sqrt(10^9) ~ 32k lists the directory count is the same order as a
    daily-partitioned year of event logs — routine for a file index."""
    path = path or _ivf_index_path(spark, sf_dir)
    anchors = _anchor_rows(sf_dir)
    emb = _normed_embeddings(spark, sf_dir).withColumn(
        "list_id",
        F.array_min(_l2_struct_array("embedding", anchors))["aid"],
    )
    emb.write.mode("overwrite").partitionBy("list_id").parquet(path)
    return path


def ivf_indexed_topk(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """ANN over the PERSISTED inverted-file index: probe selection runs
    on the single query row (one-row collect — query planning, the same
    role the coarse quantizer plays in FAISS), then the scan reads ONLY
    the probed list directories via partition pruning on
    ``list_id IN (...)`` — the physical plan carries the probe set in
    ``PartitionFilters`` and the scan's input files are limited to those
    directories (pinned by tests/test_plans.py).  At 10^9 vectors with
    sqrt(N) lists this turns every query from a full-corpus scan into
    ~n_probe/n_lists of one, with zero per-query assignment work.

    Probe distances reuse _l2_struct_array verbatim (same rounding, same
    tie-break as ivf_topk and the DuckDB oracle), so results are
    identical to ivf_topk."""
    import os

    path = path or _ivf_index_path(spark, sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ivf_index_write(spark, sf_dir, path)
    anchors = _anchor_rows(sf_dir)
    qrow = (
        _normed_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(
            "embedding",
            F.col("nrm").alias("qn"),
            F.array_sort(_l2_struct_array("embedding", anchors)).alias("ds"),
        )
        .head()
    )
    probes = [s["aid"] for s in qrow["ds"][:DEFAULT_PROBE]]
    q_arr = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    scored = (
        spark.read.parquet(path)
        .filter(F.col("list_id").isin(probes) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "label",
            F.round(
                _cosine("embedding", q_arr, "nrm", F.lit(float(qrow["qn"]))),
                4,
            ).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), "vec_id").limit(TOP_K)


def brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k by cosine similarity to the vec_id=0 query vector."""
    emb = _normed_embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"), F.col("nrm").alias("qn")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            F.round(_cosine("embedding", "q", "nrm", "qn"), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), "vec_id").limit(TOP_K)


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: top-k among vectors sharing the query's bucket in ANY of the
    ``DEFAULT_TABLES`` independent plane sets (multi-probe recall,
    candidate set still ~tables/2^planes of the corpus per query).  The
    single query row broadcasts; the per-table bucket match is the join
    predicate, so no shuffle of the corpus side ever happens."""
    emb = _normed_embeddings(spark, sf_dir).withColumn(
        "buckets", bucket_array("embedding", DEFAULT_PLANES, DEFAULT_TABLES)
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"),
        F.col("buckets").alias("qb"),
        F.col("nrm").alias("qn"),
    )
    same_bucket_any_table = F.exists(
        F.zip_with("buckets", "qb", lambda a, b: a == b), lambda x: x
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query), same_bucket_any_table)
        .select(
            "vec_id",
            "label",
            F.round(_cosine("embedding", "q", "nrm", "qn"), 4).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), "vec_id").limit(TOP_K)


KNN_K = 3


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN graph: for EVERY vector, its KNN_K nearest neighbors by
    cosine among vectors sharing its IVF list — the SemDeDup-style
    primitive (Abbas et al., 2023: cluster embeddings, compare within
    cluster) that feeds semantic dedup and embedding-cluster pruning.

    Unlike ann_*_topk (one query vector, broadcast), this is the
    all-rows batch form: one map-side list assignment (argmin over
    literal anchors, no shuffle), then ONE equi-join on list_id —
    quadratic only WITHIN a list.  The list count is DEFAULT_ANCHORS,
    fixed, so the per-list pair term grows with the corpus; FAISS sizing
    (n_lists ~ sqrt(corpus)) would keep it bounded.
    Ranks are computed over the ROUNDED cosine with a dst tie-break, so
    ranking is engine-exact.  Vectors alone in their list emit no rows
    (no neighbors at this probe radius) — same in the oracle."""
    anchors = _anchor_rows(sf_dir)
    emb = _normed_embeddings(spark, sf_dir).withColumn(
        "list_id",
        F.array_min(_l2_struct_array("embedding", anchors))["aid"],
    )
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        "list_id",
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "list_id",
    )
    scored = (
        a.join(b, "list_id")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(_cosine("ea", "eb", "na", "nb"), 4).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("src", "rank", "dst", "cos")
        .repartition(1)
        .sortWithinPartitions("src", "rank")
    )


KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_SCALE = 1_000_000


def _emb_fixedpoint(col: Column) -> Column:
    """Embedding floats as fixed-point integers (micro-units): every
    later sum/mean/distance is integer arithmetic — exact, partition-
    order-independent, and bit-identical in the DuckDB oracle (both
    engines round the identical double half-away-from-zero)."""
    return F.transform(
        col,
        lambda x: F.round(x.cast("double") * KMEANS_SCALE).cast("long"),
    )


def _assign_expr(cents: list[list[int]]) -> Column:
    """argmin-over-centroids cluster id as ONE struct-array expression
    (same O(1)-plan-size shape as _l2_struct_array); squared L2 in
    integer micro-units, ties to the lower centroid id."""
    items = ",".join(
        "named_struct('cid',{cid},'vec',array({vs}))".format(
            cid=cid, vs=",".join(f"{v}L" for v in vec)
        )
        for cid, vec in enumerate(cents)
    )
    return F.expr(
        f"array_min(transform(array({items}), c -> named_struct("
        "'d', aggregate(zip_with(xi, c.vec, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v), 'cid', c.cid)))"
    )


def _kmeans_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[list[int]]]:
    """The Lloyd loop shared by kmeans_clusters and semdedup_prune:
    KMEANS_ITERS iterations from KMEANS_K centroids; returns
    (fixed-point embedding frame, final centroids).  Centroids are
    driver state (k x dim ints); each iteration is one map-side argmin
    plus one (cluster, dim) partial-agg shuffle."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", _emb_fixedpoint(F.col("embedding")).alias("xi"))
    )
    init = emb.filter(F.col("vec_id") < KMEANS_K).collect()
    cents = [
        list(r["xi"]) for r in sorted(init, key=lambda r: r["vec_id"])
    ]
    if not cents:  # empty corpus: nothing to iterate (callers handle [])
        return emb, cents
    for _ in range(KMEANS_ITERS):
        a = emb.withColumn("c", _assign_expr(cents)).select(
            "vec_id", F.col("c")["cid"].alias("cid"), "xi"
        )
        sums = (
            a.select("cid", F.posexplode("xi").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # emptied cluster keeps centroid
        for r in sums:
            nxt[r["cid"]][r["pos"]] = _tdiv(int(r["s"]), int(r["n"]))
        cents = nxt
    return emb, cents


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table — the canonical
    iterative-ML-on-Spark shape (and the clustering stage SemDeDup runs
    before within-cluster comparison): centroids are DRIVER/broadcast
    state (k x dim ints, a few KB), each iteration is one map-side
    argmin assignment plus one (cluster, dim) aggregation shuffle, the
    corpus is scanned once per iteration and never collected.

    Determinism (the hard part of an iterative-fp oracle): all
    arithmetic is fixed-point integer — micro-unit embeddings, integer
    squared-L2, truncating-division centroid means — so three unrolled
    iterations are bit-exact across engines AND partition orders.
    Init = the first k vectors; an emptied cluster keeps its previous
    centroid (deterministic rule, same in the oracle)."""
    emb, cents = _kmeans_fit(spark, sf_dir)
    final = emb.withColumn("c", _assign_expr(cents))
    return (
        final.select(
            "vec_id",
            F.col("c")["cid"].alias("cluster"),
            F.col("c")["d"].alias("dist_sq_micro"),
        )
        .repartition(1)
        .sortWithinPartitions("vec_id")
    )


SEMDEDUP_TAU = 0.4


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv 2303.09540): semantic dedup by
    k-means clustering then EXACT within-cluster cosine pruning — the
    operator the knn_graph/kmeans primitives exist for.  A vector is
    pruned when ANY cluster-mate with a LOWER vec_id has cosine >=
    SEMDEDUP_TAU (the paper's keep-lowest-index rule, applied against
    all lower-id mates whether or not those mates are themselves pruned
    — pruning is a per-item dominance test, not a transitive closure;
    that is what makes it one join, not an iteration).  Emits every vector with its
    cluster, is_kept, and pruned_by = the smallest qualifying mate id.

    Scale shape: the Lloyd loop is the kmeans_clusters shape (driver
    centroids, map-side argmin, one partial-agg shuffle per iteration);
    the prune is ONE self-equi-join keyed on cluster.  Within-cluster
    pair work grows with cluster size; KMEANS_K is fixed here, and the
    SemDeDup design point scales k with the corpus (k ~ n /
    target_cluster_size, e.g. 100k clusters for 10^9 vectors) so
    per-cluster candidates stay bounded; AQE skew-split covers hot
    clusters.  Cosine is rounded to 4dp before the threshold, the
    engine-agreement convention of embedding_near_dup."""
    emb_xi, cents = _kmeans_fit(spark, sf_dir)
    out_schema = "vec_id long, cluster int, is_kept int, pruned_by long"
    if not cents:  # empty corpus: no centroids, nothing to assign
        return spark.createDataFrame([], out_schema)
    assign = emb_xi.withColumn("c", _assign_expr(cents)).select(
        "vec_id", F.col("c")["cid"].alias("cluster")
    )
    vecs = assign.join(
        _normed_embeddings(spark, sf_dir).select("vec_id", "embedding", "nrm"),
        "vec_id",
    )
    a = vecs.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = vecs.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(_cosine("emb_a", "emb_b", "nrm_a", "nrm_b"), 4),
        )
        .filter(F.col("cos") >= SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("pruned_by"))
    )
    return (
        assign.join(pruned, assign["vec_id"] == pruned["vec_b"], "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("pruned_by").isNull(), 1)
            .otherwise(0)
            .alias("is_kept"),
            "pruned_by",
        )
        .repartition(1)
        .sortWithinPartitions("vec_id")
    )


def filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: exact top-k by cosine PER LABEL
    — the 'pre-filter' shape every production vector store needs (post-
    filtering a global top-k under-fills selective predicates; here the
    predicate partitions scoring itself, so each label's k results are
    exact by construction).

    Scale shape: the label predicate is a scan-level filter/partition
    key (Catalyst pushes it to parquet when selective); scoring stays
    map-side against the broadcast query; the per-label rank is one
    shuffle keyed on label — label cardinality ~ corpus partitions, no
    single-reducer global sort."""
    from pyspark.sql.window import Window

    emb = _normed_embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"), F.col("nrm").alias("qn")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            F.round(_cosine("embedding", "q", "nrm", "qn"), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("label", F.col("rnk").cast("int").alias("rnk"), "vec_id", "cos")
        .repartition(1)
        .sortWithinPartitions("label", "rnk")
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/bandwidth
    optimization a 100 TB embedding corpus runs before indexing (4×
    smaller, SIMD-friendly dot products): scale = max|x_i| per vector,
    q_i = round(x_i * 127 / scale).  All arithmetic in float64 — IEEE
    division/multiplication are exactly-rounded operations, so Spark and
    DuckDB produce bit-identical q vectors (the oracle hashes the full
    quantized sequence, not a summary).

    Map-side only: two array folds per row (max-abs, then the quantize
    transform), zero shuffle, scan-speed.  Emits the quantized vector as
    a CSV string plus integer checksums (sum and sum-of-abs) so the
    driver hash pins every component."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, F.abs))
    q = F.transform(
        xd,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.round(x * 127.0 / scale))
        .cast("int"),
    )
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.aggregate(
                q, F.lit(0).cast("long"), lambda a, b: a + b
            ).alias("q_sum"),
            F.aggregate(
                q, F.lit(0).cast("long"), lambda a, b: a + F.abs(b)
            ).alias("q_abs_sum"),
            F.concat_ws(
                ",", F.transform(q, lambda v: v.cast("string"))
            ).alias("q_csv"),
        )
        .repartition(1)
        .sortWithinPartitions("vec_id")
    )


def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over the int8-quantized corpus — how a 100 TB
    vector store actually serves queries: integer dot products on 4×-
    compressed vectors (SIMD int8 GEMM in real engines), floats nowhere.
    The score is the raw integer dot ⟨q_vec, d_vec⟩ (per-vector scales
    only multiply positively, so the int dot preserves each pair's sign
    structure and is THE standard symmetric-quantization ranking proxy);
    being pure bigint arithmetic it is engine-exact with no rounding
    convention at all.

    Map-side quantize (same fold as embedding_quantize_int8), broadcast
    quantized query, zip_with integer dot, TakeOrdered — one scan, no
    shuffle beyond the top-k."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, F.abs))
    q = F.transform(
        xd,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.round(x * 127.0 / scale))
        .cast("long"),
    )
    qd = emb.select("vec_id", "label", q.alias("qv"))
    query = qd.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("query_qv")
    )
    scored = (
        qd.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("query_qv"), lambda a, b: a * b
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("int_dot"),
        )
    )
    return scored.orderBy(F.desc("int_dot"), "vec_id").limit(TOP_K)


# ---------------------------------------------------------------------------
# Product-quantization (PQ) ANN with ADC scoring
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (PQ_M * PQ_SUB = 64 = embedding dim)
PQ_K = 16  # centroids per subspace (codebook = subvectors of vec_id < PQ_K)
PQ_TOPK = 10
PQ_MICRO = 1_000_000  # fixed-point: micro-units => all-integer distances


def _sql_round(v: float) -> int:
    """SQL round semantics (half AWAY from zero), NOT python's
    half-even: every driver-side micro-unit literal must match what the
    engines compute for ``round(cast(x as double) * MICRO)``.  One
    definition shared by every codebook/anchor builder — a divergent
    copy would silently desynchronize codes from the engines."""
    import math

    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


# The micro-unit encode of a float embedding column, shared verbatim by
# pq_topk / ivfpq_topk and their tests (double-cast BEFORE the multiply:
# a float32 multiply would round differently from the oracle).
MICRO_ENCODE_EXPR = (
    "transform(embedding, x -> cast(round(cast(x as double)"
    f" * {PQ_MICRO}) as bigint))"
)


def _adc_expr(src_col: str, cents, m: int) -> str:
    """ADC-table expression: integer squared-L2 from subspace ``m`` of
    the micro array ``src_col`` to EVERY centroid, as an array indexed
    by centroid id — shared by pq_topk (query frame) and ivfpq_topk
    (per-list residual frame) so the distance fold can never diverge
    between the two."""
    return (
        "transform(array({items}), c -> aggregate(zip_with("
        "slice({src}, {off}, {w}), c, (x, h) -> (x - h) * (x - h)),"
        " 0L, (acc, v) -> acc + v))".format(
            items=",".join(
                "array(" + ",".join(f"{v}L" for v in vec) + ")"
                for vec in cents
            ),
            src=src_col,
            off=m * PQ_SUB + 1,
            w=PQ_SUB,
        )
    )


def _pq_codebook(sf_dir: str) -> tuple[tuple[tuple[int, ...], ...], ...]:
    return _pq_codebook_cached(sf_dir, _emb_sig(sf_dir))


@lru_cache(maxsize=None)
def _pq_codebook_cached(
    sf_dir: str, _sig: tuple[int, int]
) -> tuple[tuple[tuple[int, ...], ...], ...]:
    """codebook[m][k] = centroid k of subspace m, in integer micro-units.
    Centroids are the subvectors of the first ``PQ_K`` corpus vectors —
    deterministic, so the DuckDB oracle rebuilds the identical codebook
    from the same parquet (real systems train them with k-means; the
    encode/ADC machinery is identical either way)."""
    import pyarrow.parquet as pq

    r = _sql_round
    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    rows = sorted(
        (int(v), [r(float(x) * PQ_MICRO) for x in e])
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
        if int(v) < PQ_K
    )
    return tuple(
        tuple(
            tuple(vec[m * PQ_SUB : (m + 1) * PQ_SUB]) for _, vec in rows
        )
        for m in range(PQ_M)
    )


def _pq_code_expr(micro_col: str, m: int, cents) -> str:
    """SQL expr string: the PQ code (argmin centroid, ties -> lower k)
    of subspace ``m`` of an integer-micro embedding array.  One literal
    array-of-structs per subspace => plan size O(1) in corpus.

    Argmin over h of ||x-h||^2 == argmin of (h.h - 2 x.h) exactly
    (x.x is constant per row; all-integer, so the shift preserves ties
    too) — the dot form halves the per-element arithmetic of the
    encode stage, with h.h precomputed driver-side."""
    items = ",".join(
        "named_struct('k',{k},'hh',{hh}L,'vec',array({vs}))".format(
            k=k,
            hh=sum(v * v for v in vec),
            vs=",".join(f"{v}L" for v in vec),
        )
        for k, vec in enumerate(cents)
    )
    sub = f"slice({micro_col}, {m * PQ_SUB + 1}, {PQ_SUB})"
    return (
        f"array_min(transform(array({items}), c -> named_struct("
        f"'d', c.hh - 2L * aggregate(zip_with({sub}, c.vec,"
        " (x, h) -> x * h), 0L, (acc, v) -> acc + v),"
        " 'k', c.k))).k"
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization + asymmetric distance computation
    (Jégou et al., TPAMI'11) — the memory-bound scale strategy next to
    IVF: each vector is ENCODED map-side as ``PQ_M`` 4-bit codes
    (2 bytes/vector here vs 256 float bytes — the reason PQ runs at
    10^9+ vectors in RAM), and the query scores candidates WITHOUT
    touching their floats: a per-query ADC table (distance from the
    query subvector to every centroid, ``PQ_M x PQ_K`` integers) is
    broadcast and each candidate's approx distance is ``PQ_M`` table
    lookups + a sum.

    All arithmetic is fixed-point integer micro-units, so codes, the
    ADC table, and the final ranking are bit-exact vs the DuckDB oracle
    (ties: lower centroid id, then lower vec_id).

    Scale shape: encode = one map-side pass over literal codebooks (no
    shuffle — codes would be written once at ingest next to the IVF
    list assignment); query = broadcast ADC row, element_at lookups,
    TakeOrdered top-k.  The corpus is never shuffled and never re-read
    as floats at query time."""
    from pyspark.sql.window import Window

    cb = _pq_codebook(sf_dir)
    out_schema = "rank bigint, vec_id bigint, approx_d bigint"
    if not cb or not cb[0]:
        # empty corpus => empty codebook: a typeless array() literal
        # would not even analyze, so short-circuit to an empty frame
        # (the repo-wide empty-input invariant).
        return spark.createDataFrame([], out_schema)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.expr(MICRO_ENCODE_EXPR).alias("e")
    )
    coded = emb.select(
        "vec_id",
        *[
            F.expr(_pq_code_expr("e", m, cb[m])).alias(f"c{m}")
            for m in range(PQ_M)
        ],
    )
    # Per-query ADC table: distance from the query's m-th subvector to
    # every centroid of subspace m, as an array indexed by centroid id.
    adc_cols = [
        F.expr(_adc_expr("e", cb[m], m)).alias(f"adc{m}")
        for m in range(PQ_M)
    ]
    query = emb.filter(F.col("vec_id") == 0).select(*adc_cols)
    scored = (
        coded.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            sum(
                F.element_at(f"adc{m}", F.col(f"c{m}") + 1)
                for m in range(PQ_M)
            ).alias("approx_d"),
        )
    )
    top = scored.orderBy("approx_d", "vec_id").limit(PQ_TOPK)
    return top.select(
        F.row_number()
        # tiny-window: ≤ PQ_TOPK rows post-TakeOrdered
        .over(Window.orderBy("approx_d", "vec_id"))
        .cast("bigint")
        .alias("rank"),
        "vec_id",
        F.col("approx_d").cast("bigint").alias("approx_d"),
    )


# ---------------------------------------------------------------------------
# IVF + PQ: coarse quantizer + residual product codes (the FAISS IVFPQ shape)
# ---------------------------------------------------------------------------


def _anchor_micro_rows(sf_dir: str) -> tuple[tuple[int, tuple[int, ...]], ...]:
    return _anchor_micro_rows_cached(sf_dir, _emb_sig(sf_dir))


@lru_cache(maxsize=None)
def _anchor_micro_rows_cached(
    sf_dir: str, _sig: tuple[int, int]
) -> tuple[tuple[int, tuple[int, ...]], ...]:
    """(aid, anchor vector in integer micro-units) — the same SQL round
    semantics as the PQ codebook so residual arithmetic is engine-exact."""
    r = _sql_round
    return tuple(
        (aid, tuple(r(float(x) * PQ_MICRO) for x in vec))
        for aid, vec in _anchor_rows(sf_dir)
    )


def _ivfpq_codebook(sf_dir: str) -> tuple[tuple[tuple[int, ...], ...], ...]:
    return _ivfpq_codebook_cached(sf_dir, _emb_sig(sf_dir))


@lru_cache(maxsize=None)
def _ivfpq_codebook_cached(
    sf_dir: str, _sig: tuple[int, int]
) -> tuple[tuple[tuple[int, ...], ...], ...]:
    """Residual codebook: centroid k of subspace m = the RESIDUAL
    (vector − its assigned IVF anchor, in integer micros) of corpus
    vector ``PQ_K + k``.  Trained on residuals, not raw vectors — the
    IVFPQ contract (Jégou TPAMI'11 §IV): after the coarse quantizer
    removes the coarse location, the product codes only need to span
    the residual ball, which is why IVFPQ beats flat PQ at equal code
    size.  Assignment here replicates the engines' argmin exactly
    (round-6 L2², ties to lower aid — same fold order)."""
    import pyarrow.parquet as pq

    r = _sql_round
    anchors = _anchor_rows(sf_dir)
    a_aa = [(aid, vec, sum(x * x for x in vec)) for aid, vec in anchors]
    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    rows = sorted(
        (int(v), [float(x) for x in e])
        for v, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
        if PQ_K <= int(v) < 2 * PQ_K
    )
    cents: list[list[tuple[int, ...]]] = [[] for _ in range(PQ_M)]
    for _vid, vec in rows:
        xx = sum(x * x for x in vec)
        # round-6 via _sql_round (half AWAY from zero), matching the
        # engines' SQL round at line ~211 — python's builtin round is
        # half-EVEN and would flip assignments landing on a
        # binary-representable 6-dp midpoint (ADVICE r3)
        best = min(
            (
                r(
                    (
                        xx
                        - 2 * sum(x * a for x, a in zip(vec, avec))
                        + aa
                    )
                    * 1e6
                ),
                aid,
            )
            for aid, avec, aa in a_aa
        )
        avec = dict((aid, av) for aid, av, _ in a_aa)[best[1]]
        res = [
            r(x * PQ_MICRO) - r(a * PQ_MICRO) for x, a in zip(vec, avec)
        ]
        for m in range(PQ_M):
            cents[m].append(tuple(res[m * PQ_SUB : (m + 1) * PQ_SUB]))
    return tuple(tuple(c) for c in cents)


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN index shape — IVF coarse quantizer + PQ over
    RESIDUALS with per-list ADC tables (FAISS ``IVFx,PQy``): candidates
    come only from the query's ``DEFAULT_PROBE`` nearest inverted lists
    (the IVF cut), and are scored from their 2-byte codes via the ADC
    table built for THEIR list's residual frame (query − that list's
    anchor) — no corpus floats touched at query time, no corpus
    shuffle, memory per vector = codes + a list id.

    All residual arithmetic is fixed-point integer micros and the
    coarse assignment replicates the proven round-6 argmin, so codes,
    per-list ADC tables, and the final ranking are engine-exact.

    Scale shape: assignment + residual encode are one map-side pass
    (broadcast anchor table, literal codebooks) — at ingest this writes
    the code columns next to ``ivf_index_write``'s list layout; a query
    is a broadcast of ``n_probe`` ADC rows, an equi-join on list_id
    against the (partition-pruned) probed lists, ``PQ_M`` lookups per
    candidate, TakeOrdered."""
    from pyspark.sql.window import Window

    anchors = _anchor_rows(sf_dir)
    cb = _ivfpq_codebook(sf_dir)
    if not anchors or not cb or not cb[0]:
        # corpus smaller than the anchor/codebook training slice: a
        # typeless array() literal would not analyze — empty frame
        # (repo-wide empty-input invariant).
        return spark.createDataFrame(
            [], "rank bigint, vec_id bigint, list_id int, approx_d bigint"
        )
    amicro = spark.createDataFrame(
        [(aid, list(vec)) for aid, vec in _anchor_micro_rows(sf_dir)],
        "list_id int, amicro array<bigint>",
    )
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id",
            F.expr(MICRO_ENCODE_EXPR).alias("e"),
            F.array_min(_l2_struct_array("embedding", anchors))["aid"]
            .cast("int")
            .alias("list_id"),
            F.array_sort(_l2_struct_array("embedding", anchors)).alias(
                "dists"
            ),
        )
    )
    withres = emb.join(F.broadcast(amicro), "list_id").withColumn(
        "r", F.zip_with("e", "amicro", lambda x, h: x - h)
    )
    coded = withres.select(
        "vec_id",
        "list_id",
        *[
            F.expr(_pq_code_expr("r", m, cb[m])).alias(f"c{m}")
            for m in range(PQ_M)
        ],
    )
    # Query side: one row per probed list, carrying that list's ADC
    # tables over the query residual in that list's frame.
    probe_rows = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            "e",
            F.posexplode(
                F.slice(
                    F.transform(F.col("dists"), lambda s: s["aid"]),
                    1,
                    DEFAULT_PROBE,
                )
            ).alias("p_rank", "probe_l"),
        )
        .join(
            F.broadcast(
                amicro.select(
                    F.col("list_id").alias("probe_l"),
                    F.col("amicro").alias("pa"),
                )
            ),
            "probe_l",
        )
        .withColumn("qr", F.zip_with("e", "pa", lambda x, h: x - h))
        .select(
            "probe_l",
            *[
                F.expr(_adc_expr("qr", cb[m], m)).alias(f"adc{m}")
                for m in range(PQ_M)
            ],
        )
    )
    scored = (
        coded.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(probe_rows),
            coded["list_id"] == probe_rows["probe_l"],
        )
        .select(
            "vec_id",
            coded["list_id"],
            sum(
                F.element_at(f"adc{m}", F.col(f"c{m}") + 1)
                for m in range(PQ_M)
            ).alias("approx_d"),
        )
    )
    top = scored.orderBy("approx_d", "vec_id").limit(PQ_TOPK)
    return top.select(
        F.row_number()
        # tiny-window: ≤ PQ_TOPK rows post-TakeOrdered
        .over(Window.orderBy("approx_d", "vec_id"))
        .cast("bigint")
        .alias("rank"),
        "vec_id",
        F.col("list_id").cast("int").alias("list_id"),
        F.col("approx_d").cast("bigint").alias("approx_d"),
    )


# ---------------------------------------------------------------------------
# Margin-based bitext mining (cross-source embedding alignment)
# ---------------------------------------------------------------------------

BITEXT_PROBES = 64  # mined batch: first 64 even vec_ids
BITEXT_K = 4  # neighborhood size in the margin denominator
BITEXT_MARGIN_MIN_PPB = 1_000_000_000  # margin > 1.0: closer than avg


def bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, ACL'19 —
    the LASER/CCMatrix recipe): across two corpora embedded in one
    space, a pair (x, y) is mined when its cosine stands out from BOTH
    neighborhoods — margin = cos(x,y) / mean(kNN(x) ∪ kNN(y)) > 1 —
    which kills the hubness false-positives a raw cosine threshold
    admits.  The two "languages" here are the even/odd vec_id halves
    of the embeddings table; the mined batch is the first
    BITEXT_PROBES even vectors (production mines in exactly such
    batches, feeding candidate pairs from the ANN primitives below
    instead of the in-batch brute force).

    Exactness: cosines are rounded to 4 dp ONCE (the shared
    convention), then everything is integer — neighborhood sums over
    the top-K rows of (cos desc, partner-id) windows, and
    margin_ppb = round-half-away(1e9 * (cx+cy)*cos / (sx+sy)) as the
    exact rational (2n+d) div (2d); pairs qualify only when cos > 0
    and the denominator is positive, and each probe emits its single
    best-margin target above BITEXT_MARGIN_MIN_PPB.

    Scale shape: the probe batch (64 rows) broadcasts onto the target
    side — the corpus never shuffles; the per-probe and per-target
    windows rank only batch-bounded candidate sets (at 100 TB the
    candidate generator is the IVF/LSH join, keeping every partition
    ANN-candidate-sized, with this margin stage unchanged)."""
    emb = _normed_embeddings(spark, sf_dir)
    src = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 2 * BITEXT_PROBES)
    ).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("es"),
        F.col("nrm").alias("ns"),
    )
    tgt = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("et"),
        F.col("nrm").alias("nt"),
    )
    pairs = tgt.join(F.broadcast(src)).select(
        "src_id",
        "tgt_id",
        F.round(_cosine("es", "et", "ns", "nt") * 10000, 0)
        .cast("bigint")
        .alias("cos_x1e4"),
    )
    from pyspark.sql.window import Window

    # Neighborhood stats as WINDOW aggregates over one lineage (not
    # groupBy+join-back): the rank and its top-K sum share one exchange
    # per key, so the whole margin computation is one scan pass and two
    # shuffles (src key, tgt key).
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos_x1e4"), "tgt_id")
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos_x1e4"), "src_id")
    px = Window.partitionBy("src_id")
    py = Window.partitionBy("tgt_id")
    topk_x = F.when(F.col("rx") <= BITEXT_K, F.col("cos_x1e4"))
    topk_y = F.when(F.col("ry") <= BITEXT_K, F.col("cos_x1e4"))
    stats = (
        pairs.withColumn("rx", F.row_number().over(wx))
        .withColumn("sx", F.sum(topk_x).over(px))
        .withColumn("cx", F.count(topk_x).over(px))
        .withColumn("ry", F.row_number().over(wy))
        .withColumn("sy", F.sum(topk_y).over(py))
        .withColumn("cy", F.count(topk_y).over(py))
    )
    cand = (
        stats.filter(
            (F.col("cos_x1e4") > 0) & (F.col("sx") + F.col("sy") > 0)
        )
        .withColumn(
            "margin_ppb",
            F.expr(
                "(2 * (cx + cy) * cos_x1e4 * 1000000000 + (sx + sy))"
                " div (2 * (sx + sy))"
            ),
        )
        .filter(F.col("margin_ppb") > BITEXT_MARGIN_MIN_PPB)
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.desc("margin_ppb"), "tgt_id"
    )
    return (
        cand.withColumn("best", F.row_number().over(wbest))
        .filter(F.col("best") == 1)
        .select("src_id", "tgt_id", "cos_x1e4", "margin_ppb")
        .repartition(1)
        .sortWithinPartitions("src_id")
    )


# ---------------------------------------------------------------------------
# Semi-supervised label propagation over the kNN graph
# ---------------------------------------------------------------------------

LP_SEED_MOD = 3  # vec_id % 3 == 0 keeps its gold label as a seed
LP_ROUNDS = 2  # fixed unrolled rounds (oracle mirrors each round)


def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised classification by neighbor vote (Zhu &
    Ghahramani'02 label propagation, hard-label variant): a third of
    the corpus keeps its gold label (seeds); every other vector takes,
    per round, the MAJORITY label of its labeled kNN-graph neighbors
    (ties to the smallest label id), for LP_ROUNDS rounds — the cheap
    way to stretch a small labeled slice over a 100 TB embedding
    corpus before training a classifier on the result.

    Determinism: the vote argmax is max(struct(count, -label)) — the
    same (count desc, label asc) order the oracle's row_number uses;
    seeds never change; non-seeds are recomputed from scratch each
    round, so the fixed unroll is engine-exact.

    Scale shape: the kNN graph is the IVF-bounded knn_graph (k rows
    per vector), localCheckpoint'ed ONCE so the per-round lineage does
    not re-score pairs; each round is one dst-keyed equi-join against
    the current (vec_id, label) state plus one partial-agg vote
    groupBy — O(k·N) work per round, label-domain-bounded vote rows."""
    if not _anchor_rows(sf_dir):
        # empty corpus: no IVF anchors, nothing to propagate — the
        # repo-wide empty-input invariant (knn_graph's anchor literals
        # would not even analyze)
        return spark.createDataFrame(
            [], "vec_id bigint, label int, is_seed boolean"
        )
    knn = (
        knn_graph(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % LP_SEED_MOD == 0, F.col("label")).alias(
            "lbl"
        ),
    )
    cur = seeds
    for _ in range(LP_ROUNDS):
        votes = (
            knn.join(
                cur.select(
                    F.col("vec_id").alias("dst"), F.col("lbl").alias("nl")
                ),
                "dst",
            )
            .filter(F.col("nl").isNotNull())
            .groupBy("src", "nl")
            .agg(F.count("*").alias("c"))
        )
        prop = votes.groupBy("src").agg(
            F.max(
                F.struct(
                    F.col("c"),
                    (-F.col("nl")).alias("neg"),
                    F.col("nl").alias("l"),
                )
            ).alias("m")
        ).select(F.col("src").alias("vec_id"), F.col("m.l").alias("prop"))
        cur = seeds.join(prop, "vec_id", "left").select(
            "vec_id", F.coalesce(F.col("lbl"), F.col("prop")).alias("lbl")
        )
    return (
        cur.select(
            "vec_id",
            F.col("lbl").alias("label"),
            (F.col("vec_id") % LP_SEED_MOD == 0).alias("is_seed"),
        )
        .repartition(1)
        .sortWithinPartitions("vec_id")
    )


# ---------------------------------------------------------------------------
# ANN quality meta-eval: recall@k of the IVF path vs exact cosine truth
# ---------------------------------------------------------------------------

QUERY_PANEL_MOD = 25  # every 25th vector joins the recall panel
RECALL_SALT = 8  # phase-1 fanout of the salted per-query top-K


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ANN quality metric — recall@k of the IVF candidate path
    against the exact cosine truth, per query of a sampled panel: the
    number a production index is TUNED by (probe count vs recall
    trade-off), where the single-query ann_* board entries only pin
    individual result sets.  Both rankings derive from ONE scored
    relation, so recall measures candidate coverage (which lists the
    probe set missed), never float drift between two scorers.

    Scale shape: the query panel is bounded (a deterministic
    1/QUERY_PANEL_MOD id sample; a fixed eval panel in production) and
    broadcasts against the corpus — the corpus is scanned once, scored
    map-side, and never shuffled; each per-query top-K is the salted
    two-phase cut (phase-1 windows see a 1/RECALL_SALT slice of one
    query's candidates, phase 2 ranks only K x RECALL_SALT survivors),
    so no window partition is corpus-sized; the final recall join is
    K-bounded per query."""
    from pyspark.sql.window import Window

    anchors = _anchor_rows(sf_dir)
    if not anchors:
        # corpus smaller than the anchor training slice: a typeless
        # array() literal would not analyze — empty frame (repo-wide
        # empty-input invariant).
        return spark.createDataFrame(
            [], "qid bigint, k int, n_hit bigint, recall_ppm bigint"
        )
    emb = _normed_embeddings(spark, sf_dir).withColumn(
        "list_id",
        F.array_min(_l2_struct_array("embedding", anchors))["aid"],
    )
    queries = emb.filter(
        F.col("vec_id") % QUERY_PANEL_MOD == 0
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
        F.transform(
            F.slice(
                F.array_sort(_l2_struct_array("embedding", anchors)),
                1,
                DEFAULT_PROBE,
            ),
            lambda s: s["aid"],
        ).alias("probes"),
    )
    scored = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        "list_id",
        "probes",
        F.round(_cosine("embedding", "q", "nrm", "qn"), 4).alias("cos"),
    )

    def _topk(df: DataFrame) -> DataFrame:
        w1 = Window.partitionBy("qid", "_salt").orderBy(
            F.desc("cos"), F.asc("vec_id")
        )
        w2 = Window.partitionBy("qid").orderBy(
            F.desc("cos"), F.asc("vec_id")
        )
        return (
            df.withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(RECALL_SALT)))
            .withColumn("_rk", F.row_number().over(w1))
            .filter(F.col("_rk") <= TOP_K)
            .withColumn("_gk", F.row_number().over(w2))
            .filter(F.col("_gk") <= TOP_K)
            .select("qid", "vec_id")
        )

    truth = _topk(scored)
    ivf = _topk(scored.filter(F.expr("array_contains(probes, list_id)")))
    n_hit = (
        truth.join(ivf, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        queries.select("qid")
        .join(n_hit, "qid", "left")
        .select(
            "qid",
            F.lit(TOP_K).alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr(
                f"(coalesce(n_hit, 0) * 1000000) div {TOP_K}"
            ).alias("recall_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("qid")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

HARD_NEG_K = 2  # negatives kept per anchor (mined from the KNN_K list)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for every anchor, its
    nearest neighbors that are verified NOT near-duplicates — the
    E5/GTE-style mining recipe (ANN-retrieve, exclude positives and
    duplicates, keep the hardest survivors).  The exclusion is the
    whole point: an undetected near-dup ranked as a 'negative' is a
    false negative that actively poisons an InfoNCE loss, so the mined
    set composes the kNN graph WITH the dedup verdict instead of
    trusting raw similarity.

    Scale shape: both inputs are already scale-shaped (IVF-bounded kNN
    graph; banded multi-table LSH + exact verify), the exclusion is one
    LEFT ANTI equi-join on the canonical (lo, hi) pair key, and the
    re-rank window partitions by anchor over <= KNN_K survivor rows."""
    from pyspark.sql.window import Window

    from ocr_spark.operators.dedup import embedding_near_dup

    if not _anchor_rows(sf_dir):
        # corpus smaller than the anchor slice (repo empty-input
        # invariant): no kNN graph, no negatives
        return spark.createDataFrame(
            [], "src bigint, neg_rank int, dst bigint, cos double"
        )
    knn = knn_graph(spark, sf_dir)
    dup = embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    pairs = knn.select(
        "src",
        "dst",
        "cos",
        F.least("src", "dst").alias("vec_a"),
        F.greatest("src", "dst").alias("vec_b"),
    )
    kept = pairs.join(dup, ["vec_a", "vec_b"], "left_anti")
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (
        kept.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= HARD_NEG_K)
        .select("src", "neg_rank", "dst", "cos")
        .repartition(1)
        .sortWithinPartitions("src", "neg_rank")
    )


# ---------------------------------------------------------------------------
# nDCG@K ranking quality (Järvelin & Kekäläinen, TOIS 2002)
# ---------------------------------------------------------------------------

NDCG_K = 10
NDCG_NQ = 10  # vec_id < NDCG_NQ are the query set
# round(1e9 / log2(pos + 1)) for pos 1..NDCG_K — the discount curve as
# integer ppb literals (the FS-weight trick: floats at derivation time,
# integers in the contract), so DCG is pure integer arithmetic.
NDCG_DISC_PPB = (
    1_000_000_000, 630_929_754, 500_000_000, 430_676_558, 386_852_807,
    356_207_187, 333_333_333, 315_464_877, 301_029_996, 289_064_826,
)


def _query_panel(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The frame the retrieval-eval triad (ndcg_eval, mrr_eval,
    map_eval) shares: the NDCG_NQ query vectors (qid, qlabel, q, qn),
    and every (query, other vector) pair as (qid, vec_id, label, qlabel,
    p_cos), where p_cos ranks the candidate by the round-4 cosine with
    the (cos desc, vec_id) tie-break that pins the order on both
    engines.  The query rows broadcast onto one corpus scan and the
    rank window is partitioned BY QUERY."""
    emb = _normed_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < NDCG_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
    )
    w_cos = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("qid"))
        .withColumn(
            "cos", F.round(_cosine("embedding", "q", "nrm", "qn"), 4)
        )
        .select(
            "qid",
            "vec_id",
            "label",
            "qlabel",
            F.row_number().over(w_cos).alias("p_cos"),
        )
    )
    return queries, ranked


def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@K of the exact-cosine retrieval against a graded label
    relevance (Järvelin & Kekäläinen, TOIS 20(4), 2002) — the graded
    ranking metric next to ann_recall_eval's set-overlap recall: each
    of the NDCG_NQ query vectors retrieves its top-K neighbors by
    cosine, a candidate's relevance is 3 minus its circular label
    distance to the query (floored at 0 — same label 3, adjacent 2,
    ...), gains are the standard 2^rel - 1, and positions discount by
    1/log2(pos+1) as integer ppb constants.  nDCG divides by the IDEAL
    DCG — the top-K of the same candidate pool ordered by relevance —
    so a perfect ranker scores exactly 1e6 ppm.

    Engine-exactness: cosine is the repo's round-4 double (the ann
    oracle convention); everything after the two row_numbers is
    integer (gain, ppb discounts, half-away ppm at the end);
    tie-breaks (cos desc, vec_id) and (rel desc, vec_id) pin both
    orders.

    Scale shape: the NDCG_NQ query rows broadcast onto one corpus
    scan; both the retrieved and the ideal rankings are row_number
    windows partitioned BY QUERY (per-partition cardinality = corpus /
    per-query candidates, sharded across queries — at 10^9 candidates
    swap the window for the per-query orderBy().limit() TakeOrdered,
    same result); the discount lookup is an O(K) literal array."""
    _, panel = _query_panel(spark, sf_dir)
    disc = F.array(*[F.lit(v) for v in NDCG_DISC_PPB])
    w_rel = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    ranked = panel.withColumn(
        "rel",
        F.expr(
            "greatest(0, 3 - least((label - qlabel + 10) % 10,"
            " (qlabel - label + 10) % 10))"
        ),
    ).select(
        "qid",
        "rel",
        "p_cos",
        F.row_number().over(w_rel).alias("p_rel"),
    )
    gain = F.expr("cast(pow(2, rel) as bigint) - 1")
    dcg = (
        ranked.where(F.col("p_cos") <= NDCG_K)
        .select("qid", (gain * disc[F.col("p_cos") - 1]).alias("g"))
        .groupBy("qid")
        .agg(F.sum("g").alias("dcg_ppb"))
    )
    idcg = (
        ranked.where(F.col("p_rel") <= NDCG_K)
        .select("qid", (gain * disc[F.col("p_rel") - 1]).alias("g"))
        .groupBy("qid")
        .agg(F.sum("g").alias("idcg_ppb"))
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            "qid",
            "dcg_ppb",
            "idcg_ppb",
            F.expr(
                "case when idcg_ppb = 0 then 0 else"
                " (2 * dcg_ppb * cast(1000000 as bigint) + idcg_ppb)"
                " div (2 * idcg_ppb) end"
            ).alias("ndcg_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("qid")
    )


# ---------------------------------------------------------------------------
# MRR@K reciprocal-rank quality (Voorhees, TREC-8 QA track, 1999)
# ---------------------------------------------------------------------------

MRR_K = 10  # reciprocal rank is 0 when no relevant candidate lands in top-K


def mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@K of the exact-cosine retrieval (Voorhees, TREC-8, 1999) —
    the first-hit metric completing the eval triad next to
    ann_recall_eval (set overlap) and ndcg_eval (graded order): each
    of the NDCG_NQ query vectors ranks the corpus by cosine, a
    candidate is RELEVANT iff it shares the query's circular label
    exactly (the rel==3 tier of ndcg_eval's grading), and the score is
    the reciprocal of the first relevant position within MRR_K, as
    half-away ppm — queries with no top-K hit score 0, the standard
    MRR@K floor.

    Engine-exactness: cosine is the repo's round-4 double; the
    reciprocal is pure integer arithmetic ((2e6 + p) div 2p — exact
    half-away-from-zero, the _sql_round trick on a unit numerator);
    the (cos desc, vec_id) tie-break pins the ranking on both engines.

    Scale shape: identical to ndcg_eval — NDCG_NQ query rows broadcast
    onto one corpus scan, one row_number window partitioned BY QUERY
    (per-partition cardinality = corpus / per-query candidates; at
    10^9 candidates swap for per-query orderBy().limit(K) TakeOrdered,
    same result), then a K-bounded groupBy(qid).min aggregate and a
    broadcast-size left join back to the query list."""
    queries, panel = _query_panel(spark, sf_dir)
    hits = (
        panel.where(
            (F.col("p_cos") <= MRR_K) & (F.col("label") == F.col("qlabel"))
        )
        .groupBy("qid")
        .agg(F.min("p_cos").cast("long").alias("first_rel_pos"))
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("first_rel_pos"), F.lit(0)).cast("long").alias(
                "first_rel_pos"
            ),
        )
        .withColumn(
            "rr_ppm",
            F.expr(
                "case when first_rel_pos = 0 then cast(0 as bigint) else"
                " (2 * cast(1000000 as bigint) + first_rel_pos)"
                " div (2 * first_rel_pos) end"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("qid")
    )


# ---------------------------------------------------------------------------
# MAP@K mean-average-precision (Buckley & Voorhees, SIGIR 2000 trec_eval)
# ---------------------------------------------------------------------------

# lcm(1..MRR_K=10): precision@p = relcnt/p summed over relevant positions
# becomes S = sum(relcnt * (2520 div p)) over a COMMON integer denominator
# 2520, so AP = S / (2520 * min(R, K)) is a single exact rational and the
# final ppm is one half-away division — no floating point anywhere.
MAP_LCM = 2520


def map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AP@K per query (the trec_eval MAP decomposition, Buckley &
    Voorhees, SIGIR 2000) — the order-sensitive set metric alongside
    ann_recall_eval / mrr_eval / ndcg_eval: each NDCG_NQ query ranks
    the corpus by the round-4 cosine, a candidate is relevant iff it
    shares the query's label (mrr_eval's criterion), and AP@K is the
    mean of precision@p over the relevant positions p <= MRR_K,
    normalized by min(total_relevant, K).

    Engine-exactness: precision fractions are folded over the integer
    common denominator MAP_LCM = lcm(1..10) (2520 div p is exact for
    every cutoff position), so S and the denominator are bigints and
    the single terminal division is the repo's half-away ppm rule;
    (cos desc, vec_id) pins the ranking on both engines.

    Scale shape: one broadcast of the NDCG_NQ queries onto one corpus
    scan; the rank and running-relevant-count windows are partitioned
    BY QUERY (at 10^9 candidates: TakeOrdered top-K per query, then
    the O(K) running count within the K rows — identical S because AP@K
    only reads positions <= K); total_relevant is a plain partial-agg
    count, never a window."""
    _, panel = _query_panel(spark, sf_dir)
    ranked = panel.select(
        "qid", (F.col("label") == F.col("qlabel")).alias("relevant"), "p_cos"
    )
    w_run = (
        Window.partitionBy("qid")
        .orderBy("p_cos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = ranked.withColumn(
        "relcnt", F.sum(F.col("relevant").cast("long")).over(w_run)
    )
    agg = scored.groupBy("qid").agg(
        F.sum(
            F.when(
                (F.col("p_cos") <= MRR_K) & F.col("relevant"),
                F.col("relcnt")
                * F.expr(f"cast({MAP_LCM} div p_cos as bigint)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("s"),
        F.sum(F.col("relevant").cast("long")).alias("n_rel"),
    )
    return (
        agg.select(
            "qid",
            "n_rel",
            F.expr(
                f"case when least(n_rel, {MRR_K}) = 0 then cast(0 as bigint)"
                f" else (2 * cast(1000000 as bigint) * s"
                f"       + {MAP_LCM} * least(n_rel, {MRR_K}))"
                f" div (2 * {MAP_LCM} * least(n_rel, {MRR_K})) end"
            ).alias("ap_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("qid")
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback (Rocchio, 1971; PRF: Buckley et al.,
# TREC-3 1994)
# ---------------------------------------------------------------------------

ROCCHIO_R = 5  # blind-feedback pseudo-relevant set: initial top-R
ROCCHIO_NR_LO, ROCCHIO_NR_HI = 16, 20  # pseudo-non-relevant band
ROCCHIO_ALPHA_C, ROCCHIO_BETA_C, ROCCHIO_GAMMA_C = 100, 75, 15  # centis
ROCCHIO_OUT = 10


def rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio relevance feedback in its blind (pseudo-relevance) form
    (Rocchio, in 'The SMART Retrieval System', 1971; PRF per Buckley
    et al., TREC-3): retrieve with the raw query (vec_id 0), assume
    the top ROCCHIO_R hits relevant and ranks NR_LO..NR_HI
    pseudo-non-relevant, recenter the query
    q' = alpha q + beta mean(R) - gamma mean(NR) (alpha/beta/gamma =
    1.0/0.75/0.15), and re-rank — the classic one-round retrieval
    booster.  Emits the new top-ROCCHIO_OUT with old and new ranks so
    the movement is auditable.

    Exactness: embeddings lift to integer micros; cosine is invariant
    under positive scaling of q', so the recentred query is held as
    the INTEGER vector alpha_c*|R|*|NR|*q + beta_c*|NR|*sum(R) -
    gamma_c*|R|*sum(NR) (centi-weights, no division anywhere); both
    rankings order by round-4 cosine with vec_id ties.

    Scale shape: both global rankings run through
    bucketed_global_rank (two-pass grid — no single-task sort at any
    corpus size); the feedback sums are a posexplode + per-dimension
    partial agg over <= R + NR rows; the recentred query is bounded
    driver state (one dim-length literal, the k-means codebook
    policy) broadcast into a map-side rescore."""
    from ocr_spark.operators.relational import bucketed_global_rank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double)"
            " * 1000000) as bigint))"
        ).alias("e"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("q")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "e",
            # integer dot/norms (exact), ONE cast to double each — the
            # division inputs are bit-identical cross-engine, so the
            # round-4 cosine is too (no float fold-order dependence)
            F.round(
                F.expr(
                    "cast(aggregate(zip_with(e, q, (x, y) -> x * y),"
                    " 0L, (acc, v) -> acc + v) as double)"
                )
                / (
                    F.sqrt(
                        F.expr(
                            "cast(aggregate(transform(e, x -> x * x),"
                            " 0L, (acc, v) -> acc + v) as double)"
                        )
                    )
                    * F.sqrt(
                        F.expr(
                            "cast(aggregate(transform(q, x -> x * x),"
                            " 0L, (acc, v) -> acc + v) as double)"
                        )
                    )
                ),
                4,
            ).alias("cos_old"),
        )
    )
    cand = cand.withColumn(
        "e4_old", F.expr("cast(round(cos_old * 10000) as bigint)")
    )
    ranked = bucketed_global_rank(
        cand, "e4_old", "vec_id", descending=True, rank_col="old_rank"
    )
    fb = ranked.where(
        (F.col("old_rank") <= ROCCHIO_R)
        | F.col("old_rank").between(ROCCHIO_NR_LO, ROCCHIO_NR_HI)
    ).select(
        (F.col("old_rank") <= ROCCHIO_R).alias("rel"),
        F.posexplode("e").alias("dim", "v"),
    )
    sums = (
        fb.groupBy("dim")
        .agg(
            F.sum(F.when(F.col("rel"), F.col("v")).otherwise(0)).alias(
                "sr"
            ),
            F.sum(F.when(~F.col("rel"), F.col("v")).otherwise(0)).alias(
                "snr"
            ),
        )
        # global-sort: dim-cardinality aggregate (one row per vector
        # dimension) collected as bounded driver state — not row data.
        .orderBy("dim")
        .collect()
    )
    qhead = q.first()
    if qhead is None:  # empty-input invariant: no query vector
        return spark.createDataFrame(
            [],
            "vec_id long, old_rank bigint, new_rank bigint,"
            " cos_old double, cos_new double",
        )
    qrow = qhead["q"]
    n_r = ROCCHIO_R
    n_nr = ROCCHIO_NR_HI - ROCCHIO_NR_LO + 1
    q2_raw = [
        ROCCHIO_ALPHA_C * n_r * n_nr * qrow[d]
        + ROCCHIO_BETA_C * n_nr * sums[d]["sr"]
        - ROCCHIO_GAMMA_C * n_r * sums[d]["snr"]
        for d in range(len(qrow))
    ]
    # scale down (sign-decomposed trunc div, the cross-engine-safe
    # form) so every cosine partial sum stays under 2^53 and the
    # double arithmetic is EXACT in both engines — cosine is scale
    # invariant, so ranking is unchanged
    q2 = [
        (-1 if v < 0 else 1) * (abs(v) // 10000) for v in q2_raw
    ]
    q2_lit = "array({})".format(",".join(f"{v}L" for v in q2))
    rescored = ranked.select(
        "vec_id",
        "old_rank",
        "cos_old",
        F.round(
            F.expr(
                f"cast(aggregate(zip_with(e, {q2_lit}, (x, y) -> x * y),"
                " 0L, (acc, v) -> acc + v) as double)"
            )
            / (
                F.sqrt(
                    F.expr(
                        "cast(aggregate(transform(e, x -> x * x), 0L,"
                        " (acc, v) -> acc + v) as double)"
                    )
                )
                * F.sqrt(
                    F.expr(
                        f"cast(aggregate(transform({q2_lit},"
                        " x -> x * x), 0L, (acc, v) -> acc + v)"
                        " as double)"
                    )
                )
            ),
            4,
        ).alias("cos_new"),
    ).withColumn(
        "e4_new", F.expr("cast(round(cos_new * 10000) as bigint)")
    )
    out = bucketed_global_rank(
        rescored, "e4_new", "vec_id", descending=True, rank_col="new_rank"
    )
    return (
        out.where(F.col("new_rank") <= ROCCHIO_OUT)
        .select("vec_id", "old_rank", "new_rank", "cos_old", "cos_new")
        .repartition(1)
        .sortWithinPartitions("new_rank")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-sign projection (Achlioptas JCSS'03)
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16
# LCG-style 2-universal hash for the sign matrix: sign(i, j) is the
# parity of (A*(i*JL_OUT_DIM + j) + B) mod P.  Deterministic and
# engine-neutral — plain integer arithmetic both sides, no RNG state.
JL_HASH_A = 1103515245
JL_HASH_B = 12345
JL_HASH_P = 2147483647


def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction for the ANN path: project every
    embedding from its native dimension down to ``JL_OUT_DIM`` with a
    dense RANDOM-SIGN matrix (Achlioptas JCSS'03: entries ±1 suffice
    for the Johnson-Lindenstrauss guarantee — no Gaussians needed), the
    standard pre-reduction before sketching/bucketing when the input
    dimension is large.

    Exactness: inputs are the proven integer-micro encode
    (``MICRO_ENCODE_EXPR``), the sign matrix is a deterministic parity
    hash (not an RNG — both engines recompute the identical matrix from
    (i, j) alone), and the projection is a pure integer dot fold, so
    outputs are bit-exact bigints; max |proj_j| <= dim * 1e6 * |x|_max,
    nowhere near bigint range at any realistic dimension.

    Scale shape: one narrow map — no join, no UDF, whole-stage codegen
    end to end; the sign matrix never materializes (it is an expression
    over (i, j), which is what makes the op free at 100 TB — a literal
    64 x 16 matrix broadcast would also work but caps the input
    dimension).  The only exchange is the board's deterministic-output
    repartition(1) tail, which a production caller drops."""
    m = MICRO_ENCODE_EXPR
    proj = (
        f"transform(sequence(0, {JL_OUT_DIM - 1}), j -> "
        f"aggregate(zip_with({m}, sequence(0, size(embedding) - 1), "
        f"(x, i) -> x * (1 - 2 * ((({JL_HASH_A}L * (i * {JL_OUT_DIM} + j)"
        f" + {JL_HASH_B}L) % {JL_HASH_P}L) % 2))), "
        f"0L, (acc, v) -> acc + v))"
    )
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id"), F.expr(proj).alias("proj"))
        .repartition(1)
        .sortWithinPartitions("vec_id")
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998)
# ---------------------------------------------------------------------------

MMR_POOL = 20  # relevance-ranked candidate pool entering the greedy loop
MMR_OUT = 5  # diversified results returned
MMR_LAMBDA_TENTHS = 7  # lambda = 0.7: score = 7*rel - 3*max_sim (x10)


def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) of the vec_id=0 retrieval: from the top-``MMR_POOL``
    cosine candidates, greedily pick ``MMR_OUT`` results maximizing
    ``lambda*rel - (1-lambda)*max_sim_to_already_picked`` — the
    standard redundancy-killer between retrieval and an LLM context
    window (near-identical passages waste the token budget that
    diversity would spend on coverage).

    Engine-exactness: relevance and pairwise similarity are the
    round-4 cosine scaled to integer ten-thousandths
    (round(cos*10000) of the already-round-4 double — both engines
    double-round the same doubles), the MMR score is the integer
    ``7*rel_m - 3*max_sim_m``, and every greedy pick breaks ties on
    (score desc, vec_id) — the selection sequence is bit-determined.

    Scale shape: the pool is TakeOrdered top-POOL over one broadcast-
    query scan (never a window); pool x pool similarity is
    POOL^2-bounded; the greedy loop is ``MMR_OUT`` unrolled rounds of
    [broadcast anti-join the picked set -> max-sim groupBy -> top-1
    TakeOrdered] over <=POOL rows — per-round state is O(POOL), so at
    10^9 candidates only the initial TakeOrdered touches the corpus."""
    emb = _normed_embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"), F.col("nrm").alias("qn")
    )
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.round(F.round(_cosine("embedding", "q", "nrm", "qn"), 4) * 10000)
            .cast("bigint")
            .alias("rel_m"),
        )
        .orderBy(F.desc("rel_m"), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        F.col("vec_id").alias("xa"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = pool.select(
        F.col("vec_id").alias("xb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sims = (
        a.join(b, F.col("xa") != F.col("xb"))
        .select(
            "xa",
            "xb",
            F.round(F.round(_cosine("ea", "eb", "na", "nb"), 4) * 10000)
            .cast("bigint")
            .alias("sim_m"),
        )
        .localCheckpoint(eager=True)
    )
    lam, com = MMR_LAMBDA_TENTHS, 10 - MMR_LAMBDA_TENTHS
    cand = pool.select("vec_id", "rel_m")
    picked = (
        cand.select(
            "vec_id",
            "rel_m",
            (F.col("rel_m") * lam).alias("score_m"),
            F.lit(1).alias("rank"),
        )
        .orderBy(F.desc("score_m"), "vec_id")
        .limit(1)
    )
    out = picked
    for t in range(2, MMR_OUT + 1):
        sel_ids = out.select(F.col("vec_id").alias("sid"))
        rem = cand.join(
            F.broadcast(sel_ids),
            cand.vec_id == F.col("sid"),
            "left_anti",
        )
        mx = (
            sims.join(F.broadcast(sel_ids), sims.xb == F.col("sid"))
            .groupBy("xa")
            .agg(F.max("sim_m").alias("max_sim_m"))
        )
        picked = (
            rem.join(mx, rem.vec_id == mx.xa, "left")
            .select(
                "vec_id",
                "rel_m",
                (
                    F.col("rel_m") * lam
                    - F.coalesce(F.col("max_sim_m"), F.lit(0)) * com
                ).alias("score_m"),
                F.lit(t).alias("rank"),
            )
            .orderBy(F.desc("score_m"), "vec_id")
            .limit(1)
        )
        out = out.unionByName(picked).localCheckpoint(eager=True)
    return (
        out.select("rank", "vec_id", "rel_m", "score_m")
        .repartition(1)
        .sortWithinPartitions("rank")
    )


# ---------------------------------------------------------------------------
# k-means coreset pick (prototype selection; Sorscher et al. NeurIPS'22)
# ---------------------------------------------------------------------------

CORESET_PER_CLUSTER = 5


def kmeans_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype subset selection off the k-means partition: the
    ``CORESET_PER_CLUSTER`` vectors CLOSEST to their centroid per
    cluster — the SSL-prototypes / data-pruning shape (Sorscher et
    al., NeurIPS'22: keep examples by centroid distance) and the
    companion to ``semdedup_prune`` (which drops the redundant tail;
    this keeps the representative head for a finetuning subset).

    Engine-exactness: distances are kmeans_clusters' fixed-point
    integer squared-L2 micros; the per-cluster pick is a row_number
    window ordered by (dist asc, vec_id) — total order, bit-equal.

    Scale shape: one window PARTITIONED BY CLUSTER over the
    assignment table (cluster cardinality ~ corpus/k, uniform by
    construction of Lloyd's); at 10^9 vectors swap for per-cluster
    TakeOrdered, same result — nothing else touches the corpus."""
    assign = kmeans_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy(
        F.asc("dist_sq_micro"), F.asc("vec_id")
    )
    return (
        assign.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CORESET_PER_CLUSTER)
        .select(
            "cluster",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            "dist_sq_micro",
        )
        .repartition(1)
        .sortWithinPartitions("cluster", "rank")
    )


# ---------------------------------------------------------------------------
# PCA top component via distributed covariance + fixed-point power iteration
# ---------------------------------------------------------------------------

PCA_DIMS = 16  # leading dims analyzed (covariance is DIMS^2 driver state)
PCA_ITERS = 24  # unrolled power-method sweeps (see docstring)
PCA_QS = 1000  # embedding quantization scale (milli fixed-point)
PCA_VS = 1000  # iterate normalization scale
PCA_CCAP = 1_000_000  # covariance shrink cap (keeps the matvec in int64)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division by POSITIVE b — Spark SQL's
    ``div`` semantics, mirrored in the oracle with a sign-decomposed
    ``//`` (DuckDB floors)."""
    return a // b if a >= 0 else -((-a) // b)


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus — the
    whitening / anisotropy diagnostic an embedding pipeline runs before
    indexing (all-but-the-top postprocessing, Mu & Viswanath ICLR 2018,
    strips exactly this component) — in the canonical Spark shape for
    small-k PCA (what MLlib's RowMatrix.computePrincipalComponents
    does): the DIMS x DIMS Gramian/covariance is ONE distributed
    aggregate over the corpus; the eigen-solve on that tiny matrix is
    driver-side bounded state (16x16 here), then ships back as
    literals.

    Engine-exact fixed point: embeddings quantize to milli units
    (round() — both engines round doubles half-away), the covariance is
    the integer identity n·Σqqᵀ − (Σq)(Σq)ᵀ (no rational mean), the
    matrix is shrunk by an integer cap so the power sweeps with
    max-abs renormalization stay in int64, and every signed division is
    truncate-toward-zero on both sides.  The DuckDB oracle replays the
    identical unrolled arithmetic with zero shared code.  Convergence
    is governed by the spectral gap ((l2/l1)^ITERS): the near-isotropic
    synthetic corpus needs the full 24 sweeps to pass the 0.98-cosine
    test gate; a real embedding corpus (anisotropy is WHY the all-but-
    the-top fix exists) converges in a handful.  The oracle pins the
    arithmetic at any iteration count.

    Scale shape: one scan, one 1-row aggregate of 1 + DIMS + DIMS(DIMS+1)/2
    integer sums (map-side partials), O(DIMS^2) driver state — the same
    tiny-stats policy as the k-means sums.  int64 covariance holds to
    ~10^6 vectors at milli scale; beyond that widen to decimal(38,0)
    like the KS cross-products."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    D = PCA_DIMS
    q = [
        F.round(F.col("embedding")[j].cast("double") * PCA_QS)
        .cast("bigint")
        .alias(f"q{j}")
        for j in range(D)
    ]
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(f"q{j}").alias(f"s{j}") for j in range(D)]
    aggs += [
        F.sum(F.col(f"q{j}") * F.col(f"q{k}")).alias(f"p{j}_{k}")
        for j in range(D)
        for k in range(j, D)
    ]
    row = emb.select(*q).agg(*aggs).first()
    n = row["n"]
    if n == 0:
        return spark.createDataFrame(
            [], "dim_idx int, loading_milli bigint"
        )
    s = [int(row[f"s{j}"]) for j in range(D)]
    C = [
        [
            n * int(row[f"p{min(j, k)}_{max(j, k)}"]) - s[j] * s[k]
            for k in range(D)
        ]
        for j in range(D)
    ]
    cmax = max(abs(C[j][k]) for j in range(D) for k in range(D))
    shrink = cmax // PCA_CCAP + 1
    C = [[_tdiv(C[j][k], shrink) for k in range(D)] for j in range(D)]
    v = [PCA_VS] * D
    for _ in range(PCA_ITERS):
        u = [sum(C[j][k] * v[k] for k in range(D)) for j in range(D)]
        m = max(abs(x) for x in u)
        if m == 0:
            break
        v = [_tdiv(u[j] * PCA_VS, m) for j in range(D)]
    return (
        spark.createDataFrame(
            [(j, v[j]) for j in range(D)],
            "dim_idx int, loading_milli bigint",
        )
        .repartition(1)
        .sortWithinPartitions("dim_idx")
    )


# ---------------------------------------------------------------------------
# Embedding corpus health audit
# ---------------------------------------------------------------------------


def embedding_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-index hygiene gate for an embedding corpus — the failure
    modes that silently poison ANN indexes at scale: all-zero vectors
    (a crashed encoder batch), exact-duplicate vectors (an upstream
    join fanout), and norm collapse/explosion (a bad normalization
    deploy).  Long (metric, value) format: vector count, dimension,
    zero-vector count, exact-duplicate vector count, and min/max/total
    of the integer squared norm in milli^2 units (round-to-milli makes
    the statistic engine-exact; a unit-normalized corpus reads
    ~1e6 per vector).

    Scale shape: one scan, map-side array folds per row (quantize +
    square-sum + max-abs), one digest groupBy for the dup count, all
    results driver-side scalars (tiny-stats policy)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
    )
    norm2 = F.aggregate(
        q, F.lit(0).cast("bigint"), lambda a, b: a + b * b
    )
    is_zero = F.aggregate(
        q, F.lit(0).cast("bigint"), lambda a, b: a + F.abs(b)
    ) == 0
    base = emb.select(
        norm2.alias("n2"),
        is_zero.cast("bigint").alias("z"),
        F.size("embedding").alias("d"),
        F.md5(F.concat_ws(",", F.transform(
            q, lambda v: v.cast("string")
        ))).alias("digest"),
    )
    row = base.agg(
        F.count("*").alias("n_vecs"),
        F.max("d").alias("n_dims"),
        F.sum("z").alias("n_zero"),
        F.min("n2").alias("min_n2"),
        F.max("n2").alias("max_n2"),
        F.sum("n2").alias("sum_n2"),
    ).first()
    if not row["n_vecs"]:
        return spark.createDataFrame([], "metric string, value bigint")
    dup = (
        base.groupBy("digest")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
            ).alias("dup")
        )
        .first()["dup"]
    )
    rows = [
        ("dup_vecs", int(dup)),
        ("max_norm2_milli2", int(row["max_n2"])),
        ("min_norm2_milli2", int(row["min_n2"])),
        ("n_dims", int(row["n_dims"])),
        ("n_vecs", int(row["n_vecs"])),
        ("n_zero_vecs", int(row["n_zero"])),
        ("sum_norm2_milli2", int(row["sum_n2"])),
    ]
    return (
        spark.createDataFrame(rows, "metric string, value bigint")
        .repartition(1)
        .sortWithinPartitions("metric")
    )


# ---------------------------------------------------------------------------
# Late-interaction (MaxSim) retrieval over multi-vector documents
# ---------------------------------------------------------------------------

MAXSIM_GROUP = 4  # token-vectors per pseudo-document
MAXSIM_QMOD = 25  # every 25th pseudo-doc is a query
MAXSIM_TOPK = 5


def maxsim_late_interaction_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): documents and queries are SETS of token vectors
    (pseudo-docs of MAXSIM_GROUP consecutive embedding rows), and
    relevance is MaxSim — for each query token take its best dot
    product over the doc's tokens, then sum over query tokens:
    score(q, d) = Σ_i max_j <q_i, d_j>.  Dot products run on
    milli-quantized integers, so scores are engine-exact.

    Scale shape: the query token set is TINY (every MAXSIM_QMOD-th
    pseudo-doc) and broadcast — the corpus never shuffles for the
    match; per-pair reduction is two partial aggs (max per query
    token, then sum), and the final top-K is a per-QUERY window (never
    global).  At production scale the broadcast pair-join is replaced
    by a per-token ANN candidate fetch (the ivf/pq family in this
    module) feeding the SAME two-agg MaxSim reduction — the reduction
    is the operator; candidate generation is pluggable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
    )
    toks = emb.select(
        (F.col("vec_id") / MAXSIM_GROUP).cast("bigint").alias("doc"),
        F.col("vec_id").alias("tok"),
        q.alias("qv"),
    )
    queries = toks.filter(F.col("doc") % MAXSIM_QMOD == 0).select(
        F.col("doc").alias("q_doc"),
        F.col("tok").alias("q_tok"),
        F.col("qv").alias("q_qv"),
    )
    docs = toks.filter(F.col("doc") % MAXSIM_QMOD != 0)
    dot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per_qtok = (
        docs.join(F.broadcast(queries))
        .withColumn("dot", dot)
        .groupBy("q_doc", "q_tok", F.col("doc").alias("d_doc"))
        .agg(F.max("dot").alias("best"))
    )
    scores = per_qtok.groupBy("q_doc", "d_doc").agg(
        F.sum("best").alias("maxsim_milli2")
    )
    w = Window.partitionBy("q_doc").orderBy(
        F.desc("maxsim_milli2"), F.asc("d_doc")
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MAXSIM_TOPK)
        .select("q_doc", "d_doc", "maxsim_milli2", "rk")
        .repartition(1)
        .sortWithinPartitions("q_doc", "rk")
    )
