"""Deduplication operators for large-scale training-data pipelines.

All hash functions are md5-based so the DuckDB oracle can reproduce them
bit-for-bit (Spark's xxhash64 / DuckDB's hash() are engine-specific).

Scale notes (100 TB design):
* exact dedup — one shuffle on the digest; Catalyst's hash aggregate with
  map-side partial aggregation, no skew (digests are uniform).
* minhash LSH — signatures are computed scan-side (no shuffle), the only
  shuffle is the band-bucket groupBy; candidate verification joins on
  bucket, which AQE skew-splits if a bucket is hot (near-identical
  boilerplate floods one bucket — the classic failure mode).
* simhash — pure map-side; downstream grouping on the 16-bit prefix bands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_MINHASH = 8
LSH_BANDS = 4  # 4 bands x 2 rows per band
SHINGLE_K = 3  # word shingles
# Universal-hash family for minhash: mh_j = min((h1 + j*h2) mod P) over the
# shingle set, with h1/h2 the two 32-bit halves of ONE md5 per shingle.
# One digest instead of N_MINHASH digests — md5 dominates the signature
# cost.  P is the smallest prime > 2^32; h1 + 7*h2 < 2^35 so the arithmetic
# stays well inside bigint range in both Spark and DuckDB.
MINHASH_P = 4294967311


def _h32(c: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as a bigint."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection via content digest (hash-groupBy)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn(
            "group_size", F.count("*").over(Window.partitionBy("digest"))
        )
        .select("doc_id", "digest", "dup_rank", "group_size")
        .repartition(1).sortWithinPartitions("doc_id")
    )


def word_shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct sorted k-word shingles of a text column (pure SQL)."""
    toks = F.split(text, " ")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
            )
        )
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_MINHASH minhash values per document over word shingles.

    Physical shape: explode shingles -> hash each shingle once per hash
    family -> groupBy(doc_id).agg(min...). Map-side partial aggregation
    collapses each doc's shingles to N_MINHASH bigints *before* the
    shuffle, so shuffle volume is O(docs), not O(shingles).

    (A pure scan-side formulation with nested higher-order functions is
    possible but pathological: Catalyst collapses projections and cannot
    eliminate common subexpressions across lambda bodies, so every
    downstream reference re-evaluates the whole shingle tree — measured
    >100x slower on the LSH path. The aggregation is also the natural
    materialization barrier that hands the LSH banding concrete values.)

    Hashing: ONE md5 per shingle, split into two 32-bit halves h1/h2, and
    the N_MINHASH family derived as (h1 + j*h2) mod MINHASH_P — the
    standard universal-hash construction.  Round 3 change: the previous
    per-family md5 (8 digests/shingle) made the digest the dominant cost
    and left the query exposed to this VM's stall windows.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_signatures_df(docs).repartition(1).sortWithinPartitions("doc_id")


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """Signature computation over an arbitrary (doc_id, text) frame —
    the reusable core of minhash_signatures (same plan, no sort)."""
    exploded = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("s")
    )
    # h1/h2 live in the projection UNDER the aggregate so the 8 min()
    # expressions reference plain bigint columns; md5 runs once per shingle
    # (codegen subexpression elimination dedups the two substring reads).
    halves = exploded.select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(F.md5("s"), 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + F.lit(j) * F.col("h2")) % F.lit(MINHASH_P)).alias(
            f"mh{j}"
        )
        for j in range(N_MINHASH)
    ]
    return halves.groupBy("doc_id").agg(*aggs)


def band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) banding rows from a signature frame —
    shared by lsh_candidates and the incremental index."""
    rows_per_band = N_MINHASH // LSH_BANDS
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )


def band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-verify LSH candidate pairs: docs sharing any (band, bucket),
    deduped, a < b.  The bucket-local equi-join shuffles both sides
    once on the bucket key; AQE splits hot buckets.  Exposed separately
    so the sketch-quality eval can grade the candidate stage."""
    bands = band_buckets(minhash_signatures(spark, sf_dir))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any (band, bucket) are candidate pairs;
    verified with exact shingle-set Jaccard >= 0.5. Output: verified pairs.

    At scale the self-join is bucket-local (equi-join on band+bucket), so
    Catalyst shuffles both sides once on the bucket key; AQE handles hot
    buckets via skew-join splitting.
    """
    pairs = band_pairs(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    verified = (
        pairs.join(docs.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sh", "sh_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sh", "sh_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )
    return verified


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over word tokens: bit b = sign of sum over tokens of
    (+1 if bit b of h(token) else -1). Pure map-side SQL; the oracle
    reproduces it bit-for-bit via the same md5-based token hash.

    Uses two 32-bit md5 halves to form 64 bits.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    h_lo = _h32(F.col("tok"))
    h_hi = _h32(F.concat(F.lit("hi:"), F.col("tok")))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h_lo, b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(32)
        ],
        *[
            F.sum(
                F.when(F.shiftright(h_hi, b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b + 32}")
            for b in range(32)
        ],
    )
    sim = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"s{b}") > 0,
                    F.expr(f"CAST({2**b} AS DECIMAL(38,0))"),
                ).otherwise(F.expr("CAST(0 AS DECIMAL(38,0))"))
                for b in range(64)
            ],
            F.expr("CAST(0 AS DECIMAL(38,0))"),
        ).alias("simhash"),
    )
    return sim.select(
        "doc_id", F.col("simhash").cast("string").alias("simhash")
    ).repartition(1).sortWithinPartitions("doc_id")


def embedding_candidates(
    emb: DataFrame, n_planes: int, n_tables: int
) -> DataFrame:
    """Unique candidate pairs (vec_a < vec_b) sharing a random-hyperplane
    bucket in ANY of ``n_tables`` independent plane sets.  Candidate
    volume per table is sum over buckets of C(bucket_size, 2) — growing
    ``n_planes`` splits buckets and shrinks it geometrically (pinned by
    tests/test_dedup.py::test_embedding_candidates_shrink_with_planes);
    growing ``n_tables`` adds recall linearly."""
    from .similarity import bucket_array

    bands = emb.select(
        "vec_id",
        F.posexplode(
            bucket_array("embedding", n_planes, n_tables)
        ).alias("tbl", "bucket"),
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, banded multi-table LSH —
    the embedding-space mirror of lsh_candidates' minhash banding:
    candidates = vectors sharing a random-hyperplane bucket in ANY of the
    ``similarity.DEFAULT_TABLES`` independent plane sets, deduped, then
    verified by exact cosine >= 0.4.

    Scale shape (the round-2 version had a fixed 64-bucket table): bucket
    count is 2^DEFAULT_PLANES PER TABLE.  It is fixed, so the
    within-bucket self-join grows as O(N * N / 2^planes); a corpus of
    10^9 vectors needs about 18 planes (262k buckets/table) to keep it
    O(N * bucket_size).  Recall lost to finer buckets is bought back
    with independent tables, exactly like adding minhash bands.
    Physical plan: posexplode to (table, bucket) band rows, ONE
    equi-join shuffle on (table, bucket) with AQE skew-split for hot
    buckets, distinct on the pair key, then a verify join that pays one
    dot product per unique candidate pair."""
    from .similarity import (
        DEFAULT_PLANES,
        DEFAULT_TABLES,
        _cosine,
        _normed_embeddings,
    )

    vecs = _normed_embeddings(spark, sf_dir)
    pairs = embedding_candidates(vecs, DEFAULT_PLANES, DEFAULT_TABLES)
    return (
        pairs.join(
            vecs.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                F.col("nrm").alias("nrm_a"),
            ),
            "vec_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("emb_b"),
                F.col("nrm").alias("nrm_b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(_cosine("emb_a", "emb_b", "nrm_a", "nrm_b"), 4).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= 0.4)
        # repartition(1)+sortWithinPartitions, not orderBy: a global sort's
        # RangePartitioner sampling pass would execute the bucket join
        # twice.  The surviving pair set is tiny (near-dups only), so one
        # partition is the right shape even at corpus scale.
        .repartition(1)
        .sortWithinPartitions("vec_a", "vec_b")
    )


def _canon(df: DataFrame) -> DataFrame:
    """Canonicalize an edge list to distinct (u, v) with u > v, no
    self-loops — the invariant the star rounds maintain."""
    return (
        df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node connects its LARGER neighbors to its
    smallest neighbor (or itself if smallest).  One groupBy shuffle on the
    node key + one self-join back on the same key."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return _canon(
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node rewires its SMALLER neighbors (and
    itself) to the smallest of them.  Input/output canonical (u > v)."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select("u", F.col("m").alias("v"))
    return _canon(rewired.union(self_edge))


def connected_components(
    edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Connected components of an undirected edge list (columns ``u``,
    ``v``) via alternating large-star / small-star rounds — the
    MapReduce-native algorithm of Kiveris et al., "Connected Components
    in MapReduce and Beyond" (SoCC'14).  Returns (doc_id, cluster_id)
    with cluster_id = the component's minimum node id, one row per
    NON-ROOT member (roots are implicit: cluster_id values).

    Scale shape: each round is two key-shuffles (groupBy + join-back),
    intermediate edge count never exceeds O(E), and the round count is
    O(log^2 n) — in practice 2-3 rounds for near-dup graphs, whose
    components are dense (LSH clusters are clique-ish).  This is the
    piece naive min-label propagation gets wrong at 10^12 scale: label
    propagation needs O(graph diameter) rounds, and a pathological
    duplicate CHAIN (a1~a2~a3~...) makes the diameter O(n).  Each round
    is localCheckpoint-ed: the iterative plan would otherwise double in
    depth every round and re-execute the whole history at each action
    (same reason GraphX checkpoints Pregel iterations).

    Convergence test: both sides are canonical DISTINCT sets, so set
    equality ⟺ equal cardinality + one-sided exceptAll empty — one cheap
    count over a materialized checkpoint plus a single anti-join per
    round, instead of two exceptAll shuffles.
    """
    cur = _canon(edges).localCheckpoint(eager=True)
    n_cur = cur.count()
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_cur and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    # Converged: a star forest (u -> component min).  The min-agg is a
    # no-op on a clean forest but makes the result well-defined even at
    # the round cap.
    return cur.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("doc_id"), "cluster_id"
    )


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for EVERY document — the
    unsorted core shared by ``near_dup_clusters`` (survivor pick),
    ``soft_dedup_weights`` (reweighting) and ``group_kfold_split``
    (leakage-free folds): minhash-LSH verified pairs (lsh_candidates)
    -> connected components -> one cluster id per document (singletons
    keep their own id).  The window over cluster_id is a shuffle on the
    cluster key — cluster count ~ doc count, uniform, no skew
    concern."""
    pairs = lsh_candidates(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = connected_components(pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")),
        )
    )


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate clustering — the survivor-selection
    stage a production dedup pipeline runs AFTER pair generation:
    cluster_labels + deterministic survivor = the cluster's minimum
    doc_id.

    Output: (doc_id, cluster_id, cluster_size, is_survivor) for EVERY
    document; filtering is_survivor = 1 yields the deduplicated
    corpus."""
    out = cluster_labels(spark, sf_dir).withColumn(
        "is_survivor",
        (F.col("doc_id") == F.col("cluster_id")).cast("int"),
    )
    return out.repartition(1).sortWithinPartitions("doc_id")


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style reweighting (He et al., "SoftDedup: an Efficient
    Data Reweighting Method for Speeding Up Language Model
    Pre-training", ACL 2024): instead of DELETING near-duplicates,
    down-weight every member of a duplicate cluster so the cluster's
    total sampling mass equals one document's — the loss-weighting
    alternative that keeps rare in-cluster variation available to the
    model.  weight = 1 / cluster_size in half-away ppm;
    weighted_tokens = n_tokens * weight_ppm is the doc's contribution
    to the effective (deduplicated-equivalent) token budget in
    micro-tokens.

    Scale shape: cluster_labels' pair-generation + CC shapes (see their
    docstrings), one doc_id equi-join against the token counts, then
    pure map-side integer arithmetic — no extra shuffle beyond the
    clustering itself."""
    labels = cluster_labels(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return (
        labels.join(docs, "doc_id")
        .withColumn(
            "weight_ppm",
            F.expr("(2 * 1000000 + cluster_size) div (2 * cluster_size)"),
        )
        .withColumn(
            "weighted_tokens",
            (F.col("n_tokens").cast("bigint") * F.col("weight_ppm")).alias(
                "weighted_tokens"
            ),
        )
        .select(
            "doc_id", "cluster_id", "cluster_size", "n_tokens",
            "weight_ppm", "weighted_tokens",
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


KFOLD_K = 5


def group_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free K-fold assignment (scikit-learn's GroupKFold shape,
    group = near-dup cluster): every document in a duplicate cluster
    lands in the SAME fold, so cross-validation never evaluates on a
    near-copy of a training document — the fold-level form of the
    train/test contamination that split_leakage_audit detects after the
    fact.  fold = portable multiplicative hash of the cluster id mod K
    (deterministic, engine-exact, no sampling).

    Scale shape: cluster_labels (see its docstring) plus one map-side
    hash — fold assignment itself adds zero shuffles; fold sizes
    converge to n/K by hash uniformity (exact sizes would need a
    cluster-level rank; the hash gate is the 10^12-doc-friendly
    form)."""
    from ocr_spark.operators.relational import KMV_HASH_A, KMV_HASH_M

    labels = cluster_labels(spark, sf_dir)
    return (
        labels.withColumn(
            "fold",
            F.pmod(
                F.pmod(
                    F.col("cluster_id") * F.lit(KMV_HASH_A), F.lit(KMV_HASH_M)
                ),
                F.lit(KFOLD_K),
            ).cast("int"),
        )
        .select("doc_id", "cluster_id", "cluster_size", "fold")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def ngram_jaccard_all_pairs(
    spark: SparkSession, sf_dir: str, tau: float = 0.2
) -> DataFrame:
    """EXACT n-gram Jaccard over ALL pairs above ``tau``, PREFIX-FILTERED
    (Chaudhuri/Bayardo SSJoin/AllPairs): candidate pairs come from the
    posting self-join restricted to each doc's RARITY PREFIX (the first
    n − ⌈τ·n⌉ + 1 shingles in global df-ascending order, via
    ``prefix_candidates``), then every candidate is verified exactly
    against the full shingle sets.  Complete: J(A,B) ≥ τ forces
    |A∩B| ≥ ⌈τ·max(n_a, n_b)⌉, so the intersection cannot hide entirely
    in either suffix — the prefixes must share a shingle.

    Scale shape: hot boilerplate shingles (maximal df) land at the END
    of the rarity order and drop OUT of candidate generation — the
    Σ_s df(s)² term of the naive full posting join loses exactly its
    quadratic boilerplate spike (pinned: candidate count drops on a
    boilerplate-heavy corpus, test_dedup) — while verification is two
    doc-keyed equi-joins of the candidate list (sized by real overlap)
    against the shingle arrays.  Shared-count ``c`` is array-side, so
    the Jaccard denominator |A|+|B|−c needs no extra shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    cand = prefix_candidates(spark, sf_dir, tau)
    va = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.size("sh").alias("na"),
    )
    vb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.size("sh").alias("nb"),
    )
    c = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(c / (F.col("na") + F.col("nb") - c), 6)
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over bucketed candidate pairs (same lang and
    same n_chars decile) — the quadratic verifier restricted to buckets, as
    a small-scale oracle-checkable twin of lsh_candidates.  For the
    complete, corpus-scale form see ngram_jaccard_all_pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("int").alias("bucket"),
        word_shingles(F.col("text")).alias("sh"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "jaccard",
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Windowed exact-substring duplication (Lee et al. 2022 approximation)
# ---------------------------------------------------------------------------

SUBSTR_W = 40  # window length in chars
SUBSTR_STRIDE = 10  # window stride


def duplicate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring duplication via strided window
    hashing — the scalable stand-in for the suffix-array substring dedup
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022): with w = SUBSTR_W and stride = SUBSTR_STRIDE,
    any substring shared by two documents with
    length ≥ w + stride − 1 contains at least one aligned strided
    window in each, so it is detected exactly; shorter overlaps may be
    missed (stride trades index size for the minimum detectable length,
    suffix arrays set stride=1 at O(corpus) index cost).

    Scale shape: O(len/stride) window rows per doc; the duplicated-hash
    set comes from one groupBy on the window hash (map-side partial
    count-distinct on doc_id bounded at 2 — approx_count beyond 2 is
    irrelevant, only >1 matters, so min/max doc_id suffice); windows then
    semi-join that set.  Both shuffles key on the window hash — uniform
    by construction (md5)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return duplicate_substring_spans_df(docs)


def duplicate_substring_spans_df(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of duplicate_substring_spans (unit-testable
    on crafted corpora)."""
    w, stride = SUBSTR_W, SUBSTR_STRIDE
    per_doc = (
        _dup_window_rows(docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.min("pos").alias("first_dup_pos"),
            F.max("pos").alias("last_dup_pos"),
        )
    )
    # windows start at 1, 1 + stride, ... <= len - w + 1
    n_windows = F.when(
        F.length("text") >= w, F.expr(f"(length(text) - {w}) div {stride} + 1")
    ).otherwise(0)
    return (
        docs.select("doc_id", n_windows.alias("n_windows"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0))
                / F.greatest("n_windows", F.lit(1)),
                4,
            ).alias("dup_frac"),
            F.coalesce("first_dup_pos", F.lit(0)).alias("first_dup_pos"),
            F.coalesce("last_dup_pos", F.lit(0)).alias("last_dup_pos"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate search (Manku et al., WWW'07)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 4 x 16-bit bands over the 64-bit signature
SIMHASH_HAM_T = 3  # pigeonhole: <= BANDS-1 differing bits leave >= 1 band equal


def simhash_near_dup(
    spark: SparkSession, sf_dir: str, ham_t: int = SIMHASH_HAM_T
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance — the banded
    search of Manku et al. ("Detecting Near-Duplicates for Web
    Crawling", WWW 2007): split the 64-bit signature into 4 16-bit
    bands; any pair within hamming distance ≤ 3 has all its differing
    bits in ≤ 3 bands, so at least one band matches exactly —
    candidate generation by band equi-join is COMPLETE at this
    threshold, never all-pairs.

    Numerics: the signature is an unsigned 64-bit value carried as
    DECIMAL(38,0); bands and 32-bit halves are extracted with
    subtract-then-divide ((sim − sim % P) / P), which is exact integer
    arithmetic in any decimal engine — a plain decimal division would
    round at the result scale and could flip a floor near band
    boundaries.  Hamming = bit_count over the xor of the two bigint
    halves, identical two's-complement semantics in Spark and DuckDB.

    Scale shape: one band shuffle (same as minhash-LSH banding), a
    bucket-local self-join AQE skew-splits, and the verify join touches
    only candidates.  64-bit signatures make this the cheapest near-dup
    path per byte of state — the reason Manku ran it web-scale."""
    sigs = simhash64(spark, sf_dir).select(
        "doc_id", F.col("simhash").cast("decimal(38,0)").alias("sim")
    )

    def band(b: int):
        p = 16 * b
        if p == 0:
            return F.expr("CAST(sim % 65536 AS BIGINT)")
        return F.expr(
            f"CAST(((sim - (sim % {2**p})) / {2**p}) % 65536 AS BIGINT)"
        )

    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band(b) for b in range(SIMHASH_BANDS)])
        ).alias("b", "v"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("c"),
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.v") == F.col("c.v"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
        )
        .distinct()
    )
    halves = sigs.select(
        "doc_id",
        F.expr(
            f"CAST((sim - (sim % {2**32})) / {2**32} AS BIGINT)"
        ).alias("hi"),
        F.expr(f"CAST(sim % {2**32} AS BIGINT)").alias("lo"),
    )
    ham = F.bit_count(
        F.col("ha.hi").bitwiseXOR(F.col("hb.hi"))
    ) + F.bit_count(F.col("ha.lo").bitwiseXOR(F.col("hb.lo")))
    return (
        cand.join(
            halves.alias("ha"), F.col("doc_a") == F.col("ha.doc_id")
        )
        .join(halves.alias("hb"), F.col("doc_b") == F.col("hb.doc_id"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= ham_t)
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )


def dedup_signal_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup decisions fuse SIGNALS: a pair flagged by
    minhash-LSH (lexical shingle overlap), simhash (bit-level sketch),
    AND embedding cosine (semantic) is a far safer kill than any single
    detector's hit.  This query full-outer-joins the three verified pair
    sets on the pair key and reports which signals fired (sentinels -1 /
    -1 / -9 for absent scores so the row stays dense and engine-neutral).

    Scale shape: each signal pipeline is independently scale-safe (see
    their docstrings); the fusion itself joins three NEAR-DUP-sized pair
    sets (tiny relative to the corpus) on (doc_a, doc_b) — two shuffles
    over already-collapsed data.  vec_id is the embeddings table's
    doc_id (1:1 by construction in the driver corpus)."""
    mh = lsh_candidates(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    sh = simhash_near_dup(spark, sf_dir).select("doc_a", "doc_b", "hamming")
    em = embedding_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "cos"
    )
    fused = mh.join(sh, ["doc_a", "doc_b"], "full_outer").join(
        em, ["doc_a", "doc_b"], "full_outer"
    )
    n_signals = (
        F.col("jaccard").isNotNull().cast("int")
        + F.col("hamming").isNotNull().cast("int")
        + F.col("cos").isNotNull().cast("int")
    )
    return (
        fused.select(
            "doc_a",
            "doc_b",
            n_signals.alias("n_signals"),
            F.coalesce("jaccard", F.lit(-1.0)).alias("jaccard"),
            F.coalesce("hamming", F.lit(-1)).alias("hamming"),
            F.coalesce("cos", F.lit(-9.0)).alias("cos"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: tonight's batch vs a persisted corpus index
# ---------------------------------------------------------------------------

MINHASH_INDEX_TABLE = "minhash_index"


def _minhash_index_path(spark: SparkSession, sf_dir: str) -> str:
    import os
    import re

    tag = re.sub(r"[^0-9A-Za-z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(
        warehouse.removeprefix("file:"), f"{MINHASH_INDEX_TABLE}_{tag}"
    )


def minhash_index_write(
    spark: SparkSession, corpus: DataFrame, path: str
) -> str:
    """Persist the historical corpus's LSH band buckets PARTITIONED BY
    band — signatures are computed once at ingest, never again.  The
    nightly job joins only against this table."""
    bands = band_buckets(minhash_signatures_df(corpus))
    bands.write.mode("overwrite").partitionBy("band").parquet(path)
    return path


def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: dedup tonight's ingest
    BATCH against the historical CORPUS without recomputing anything on
    the corpus side.  The corpus's band buckets live in a persisted
    index table (minhash_index_write, built once at ingest); the batch's
    signatures are computed fresh and equi-joined against the index on
    (band, bucket); survivors verify with exact shingle Jaccard >= 0.5.

    Here the deterministic split is doc_id % 5 == 0 (batch, ~20%) vs the
    rest (corpus), standing in for date partitions.

    Scale shape — why incremental beats recompute: a full-corpus LSH
    run is O(corpus) shuffle every night; this query's cost is
    O(batch) + one index equi-join whose corpus side streams straight
    off a pre-partitioned parquet layout (no signature recompute, no
    corpus-side wide shuffle).  At 10^12 docs with a 10^8-doc nightly
    batch that is a 10^4x nightly saving; the index append for the new
    batch is the same band layout, so tomorrow's run reuses tonight's
    output."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    path = _minhash_index_path(spark, sf_dir)
    if not os.path.exists(path):
        minhash_index_write(spark, corpus, path)
    idx = spark.read.parquet(path)

    bbands = band_buckets(minhash_signatures_df(batch))
    cand = (
        bbands.withColumnRenamed("doc_id", "batch_doc")
        .join(
            idx.withColumnRenamed("doc_id", "corpus_doc"),
            ["band", "bucket"],
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("sh"))
    verified = (
        cand.join(
            sh.withColumnRenamed("doc_id", "batch_doc").withColumnRenamed(
                "sh", "sh_a"
            ),
            "batch_doc",
        )
        .join(
            sh.withColumnRenamed("doc_id", "corpus_doc").withColumnRenamed(
                "sh", "sh_b"
            ),
            "corpus_doc",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("batch_doc", "corpus_doc", "jaccard")
        .repartition(1)
        .sortWithinPartitions("batch_doc", "corpus_doc")
    )
    return verified


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance WITHOUT an all-pairs scan:
    symmetric-delete (SymSpell-style) blocking turns "find every
    canonical name within levenshtein 1 of a corrupted name" into a
    pure equi-join.

    Input is self-synthesized and deterministic: each part name gets a
    one-character deletion at position (p_partkey % length) — the OCR /
    manual-entry corruption model.  The index side explodes each
    canonical name into its L one-deletion variants (L = name length, a
    bounded constant — NOT data-sized), so matching is

        noisy_name  ==  delete1(canonical, i)   for some i

    which for a length-difference of exactly 1 is *equivalent* to
    levenshtein(noisy, canonical) == 1 — the equi-join candidate set IS
    the answer set, no verify pass needed (the oracle pins this with a
    literal levenshtein predicate).  Cost: O(names x avg_len) index
    rows, one hash shuffle on the variant string, zero quadratic
    blow-up — at 10^12 names this is the only shape that finishes.
    Plan pinned by tests/test_plans.py::test_fuzzy_name_match_equi_join.
    """
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        _fuzzy_pairs(part)
        .repartition(1)
        .sortWithinPartitions("src_partkey", "match_partkey")
    )


def _fuzzy_noisy(part: DataFrame) -> DataFrame:
    """(src_partkey, noisy_name): each record's single-char-deleted
    corruption (deterministic delete position)."""
    return part.select(
        F.col("p_partkey").alias("src_partkey"),
        F.concat(
            F.expr("substring(p_name, 1, pmod(p_partkey, length(p_name)))"),
            F.expr("substring(p_name, pmod(p_partkey, length(p_name)) + 2)"),
        ).alias("noisy_name"),
    )


def _fuzzy_variants(part: DataFrame) -> DataFrame:
    """(match_partkey, match_name, variant): the symmetric-delete
    dictionary — every single-char deletion of every canonical name."""
    return part.select(
        F.col("p_partkey").alias("match_partkey"),
        F.col("p_name").alias("match_name"),
        F.explode(
            F.expr(
                "transform(sequence(0, length(p_name) - 1), i -> "
                "concat(substring(p_name, 1, i), substring(p_name, i + 2)))"
            )
        ).alias("variant"),
    ).distinct()


def _fuzzy_pairs(part: DataFrame) -> DataFrame:
    """Unsorted symmetric-delete match pairs (fuzzy_name_match's output
    contract — inherently |S(v)|x|M(v)| per shared key; the CC consumer
    entity_resolution_clusters avoids materializing these via the key
    star reduction)."""
    noisy = _fuzzy_noisy(part)
    variants = _fuzzy_variants(part)
    return (
        noisy.join(variants, noisy.noisy_name == variants.variant)
        .select("src_partkey", "noisy_name", "match_partkey", "match_name")
        .distinct()
    )


def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the survivor stage after fuzzy
    matching, exactly parallel to near_dup_clusters after LSH: the
    symmetric-delete match pairs (_fuzzy_pairs — OCR/typo corruptions
    resolving to canonical names) become an undirected identity graph,
    connected components (large-star/small-star rounds) assign one
    entity id per component (the minimum member key), and every record
    reports its entity, the entity's size, and whether it is the
    canonical (minimum) member.  This is the "golden record" grouping a
    master-data pipeline ships after Fellegi-Sunter / fuzzy scoring.

    Scale shape: the match join is the pinned equi-join (no all-pairs),
    CC is O(log n) keyed rounds, and the final size window shuffles on
    the entity key — uniform, cluster count ~ record count."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    # Star reduction over the match KEY instead of materialized record
    # pairs: a noisy name nn and a deletion variant v match on string
    # equality, so the pair graph is a union of complete bipartite
    # blocks S(v) x M(v) per key v — and with real-world name
    # duplication those blocks are HOT (the 10x corpus has 3,470
    # records per name: 627M pairs, OOM at 24g; measured via
    # tools/make_sf1.py).  Connectivity of a block is preserved by
    # starring every member to the block minimum, so CC sees
    # O(incidence) edges instead of O(block^2) — components, and hence
    # entity ids (component minima), are IDENTICAL.  Keys no noisy
    # name touches contribute no edges (exactly the original pair
    # semantics: variant-variant alone never connected records).
    noisy_keys = _fuzzy_noisy(part).select(
        F.col("noisy_name").alias("k"), F.col("src_partkey").alias("node")
    )
    var_keys = _fuzzy_variants(part).select(
        F.col("variant").alias("k"), F.col("match_partkey").alias("node")
    )
    inc = noisy_keys.unionByName(
        var_keys.join(noisy_keys.select("k").distinct(), "k")
    )
    roots = inc.groupBy("k").agg(F.min("node").alias("root"))
    edges = (
        inc.join(roots, "k")
        .filter(F.col("node") != F.col("root"))
        .select(F.col("node").alias("u"), F.col("root").alias("v"))
        .distinct()
    )
    labels = connected_components(edges).select(
        F.col("doc_id").alias("p_partkey"), F.col("cluster_id").alias("ent")
    )
    out = (
        part.select("p_partkey")
        .join(labels, "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce("ent", F.col("p_partkey")).alias("entity_id"),
        )
        .withColumn(
            "entity_size",
            F.count("*").over(Window.partitionBy("entity_id")),
        )
        .withColumn(
            "is_canonical",
            (F.col("p_partkey") == F.col("entity_id")).cast("int"),
        )
    )
    return out.repartition(1).sortWithinPartitions("p_partkey")


def prefix_candidates(
    spark: SparkSession, sf_dir: str, tau: float = 0.2
) -> DataFrame:
    """Candidate pairs under PREFIX FILTERING (Chaudhuri/Bayardo
    SSJoin/AllPairs): order every doc's shingles by global rarity
    (document frequency asc, shingle asc), keep only the first
    n - ceil(tau*n) + 1 per doc, and join postings on those prefixes
    alone.  Complete: J(A,B) >= tau forces |A∩B| >= ceil(tau*n_a) and
    >= ceil(tau*n_b), so the intersection cannot hide entirely in
    either suffix — the prefixes must share a shingle.

    This is the refinement ngram_jaccard_all_pairs's docstring promises:
    hot boilerplate shingles have maximal df, land at the END of the
    rarity order, and drop out of candidate generation — exactly the
    skew axis of the full posting join — while rare shingles (tiny df,
    tiny join fan-out) carry the candidates."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    posting = docs.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    df_tab = posting.groupBy("s").agg(F.count("*").alias("df"))
    ranked = posting.join(df_tab, "s").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")
        ),
    )
    prefix = ranked.filter(
        F.col("r") <= F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1
    ).select("doc_id", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


CONTAIN_TAU = 0.5  # report pairs where either direction's containment >= tau


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``|A∩B| / |A|`` in both directions — catches the quote/subset case
    symmetric Jaccard misses (a short doc fully embedded in a long one
    has J ≈ |A|/|B| ≈ 0 but containment(A in B) = 1; Broder'97
    distinguishes resemblance from containment for exactly this).

    Same inverted-index shape as ``ngram_jaccard_all_pairs``:
    completeness holds because any pair with containment ≥ τ > 0 shares
    at least one shingle, so the posting self-join generates it; pair
    work is Σ_s df(s)² — proportional to real overlap, never corpus².
    Hot boilerplate shingles are the skew axis, handled by AQE
    skew-split + the documented prefix-filter refinement."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    posting = docs.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    a, b = posting.alias("a"), posting.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("c"))
    )
    cab = F.round(F.col("c") / F.col("na"), 6)
    cba = F.round(F.col("c") / F.col("nb"), 6)
    return (
        shared.select(
            "doc_a",
            "doc_b",
            F.col("c").alias("shared_shingles"),
            cab.alias("cont_a_in_b"),
            cba.alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= CONTAIN_TAU)
            | (F.col("cont_b_in_a") >= CONTAIN_TAU)
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Homoglyph-skeleton dedup (confusable-spoof detection)
# ---------------------------------------------------------------------------

# Cyrillic/Greek characters confusable with Latin (the UTS#39 skeleton
# idea, restricted to a deterministic table both engines apply verbatim).
HOMOGLYPH_FROM = "аеорсхіАЕОРСХ"
HOMOGLYPH_TO = "aeopcxiAEOPCX"


def homoglyph_skeleton(col: Column) -> Column:
    """Confusable skeleton: lowercase + Latin-ize the confusable table.
    Two strings with the same skeleton render near-identically but
    compare unequal byte-wise — the phishing/spoof-dup case exact dedup
    misses entirely."""
    return F.lower(F.translate(col, HOMOGLYPH_FROM, HOMOGLYPH_TO))


def homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spoof-duplicate detection via the UTS#39-style confusable
    skeleton: supplier names are deterministically "spoofed" (every
    third key renders its 'a'/'e' as the Cyrillic look-alike — same
    expression in the oracle, so the fixture is engine-identical), then
    grouped by skeleton.  Groups whose members differ RAW but collide
    on skeleton are exactly the spoof pairs byte-exact dedup can never
    see — the dedup/abuse gate every UGC or crawl pipeline needs.

    Scale shape: the skeleton is one map-side translate (scan speed);
    the only shuffle is the skeleton-key groupBy with map-side partial
    aggregation — identical cost to exact dedup."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    spoofed = F.when(
        F.col("s_suppkey") % 3 == 1,
        F.translate(F.col("s_name"), "ae", "ае"),
    ).otherwise(F.col("s_name"))
    # the crawl saw both renderings: raw row + (possibly spoofed) row
    named = sup.select(
        "s_suppkey",
        F.explode(F.array(F.col("s_name"), spoofed)).alias(
            "display_name"
        ),
    ).withColumn("skeleton", homoglyph_skeleton(F.col("display_name")))
    return (
        named.groupBy("skeleton")
        .agg(
            F.count("*").alias("n_names"),
            F.countDistinct("display_name").alias("n_raw_variants"),
            F.min("s_suppkey").alias("canonical_key"),
        )
        .filter(F.col("n_raw_variants") > 1)
        .repartition(1)
        .sortWithinPartitions("skeleton")
    )


# ---------------------------------------------------------------------------
# Sketch-quality meta-eval: LSH banding vs exact Jaccard ground truth
# ---------------------------------------------------------------------------

SKETCH_EVAL_TAU = 0.5  # same threshold the LSH verify stage uses


def dedup_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade the MinHash-LSH candidate generator against EXACT ground
    truth — the monitoring query a production dedup runs on a sampled
    slice before trusting the sketch at full scale: truth is every pair
    with exact shingle Jaccard >= tau (complete via the prefix-filtered
    AllPairs join, `ngram_jaccard_all_pairs`), candidates are the
    band-bucket pairs, and because the verify stage applies the SAME
    exact-Jaccard test, hits == candidates INTERSECT truth.  Reports
    one row: the three counts plus recall_ppm (what the banding
    misses: true near-dups whose signatures never collide) and
    precision_ppm (candidate efficiency: how much of the verify work
    is wasted on sub-tau pairs).

    Exactness: counts are integers and both ratios are the exact
    rational (2n+d) div (2d) half-away ppm; empty denominators report
    the vacuous 1.0.

    Scale shape: three bounded aggregates — the truth side is the
    prefix-filtered AllPairs join (pair work ∝ real overlap), the
    candidate side is the bucket-local equi-join, and the hit count is
    one keyed equi-join between them; each collapses to a 1-row
    partial-agg count before the final broadcast cross of the three
    scalars.  On a 100 TB corpus this runs on a hash-sampled slice
    (compose with `hash_sample`) — the ratios are the point, not the
    absolute counts."""
    truth = ngram_jaccard_all_pairs(spark, sf_dir, tau=SKETCH_EVAL_TAU)
    cand = band_pairs(spark, sf_dir)
    hits = cand.join(truth.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hits = hits.agg(F.count("*").alias("n_hits"))
    ppm = (
        "case when {d} = 0 then 1000000 else"
        " (2 * cast(n_hits as decimal(38,0)) * 1000000 + {d})"
        " div (2 * {d}) end"
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(ppm.format(d="n_truth")).alias("recall_ppm"),
            F.expr(ppm.format(d="n_candidates")).alias("precision_ppm"),
        )
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity audit: how many VERIFIED near-duplicate pairs
    (the ``lsh_candidates`` output — banded MinHash candidates verified
    at exact Jaccard >= 0.5) straddle the train/val/test boundary of
    ``train_val_test_split``.  A near-dup of a training document
    sitting in the test split is leakage: the eval score is partly
    memorization (the contamination axis of Lee et al. ACL'22 §6 and
    the GPT-3 paper's overlap appendix), so a curation pipeline gates
    on this number before a split ships.

    Output: one row per unordered split pair (least, greatest) with the
    pair count, a leaked flag (split_lo <> split_hi) and the exact
    integer share_ppm of all verified pairs.

    Scale shape: the pair table (already bounded by banding + verify)
    joins the split assignment twice on doc_id — plain equi-joins that
    co-shuffle on the key; the rollup is a map-side partial agg to at
    most 6 rows, and the share division joins a broadcast 1-row total.
    Nothing here scans the corpus beyond what the two reused operators
    already do."""
    from ocr_spark.operators.text_analysis import train_val_test_split

    pairs = lsh_candidates(spark, sf_dir)
    split = train_val_test_split(spark, sf_dir).select("doc_id", "split")
    j = (
        pairs.join(
            split.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "split_a"
            ),
            "doc_a",
        )
        .join(
            split.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "split_b"
            ),
            "doc_b",
        )
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
    )
    g = j.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    tot = g.agg(F.sum("n_pairs").alias("tot"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "split_lo",
            "split_hi",
            (F.col("split_lo") != F.col("split_hi")).alias("leaked"),
            "n_pairs",
            F.expr("(n_pairs * 1000000) div tot").alias("share_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("split_lo", "split_hi")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilder & Aiken, SIGMOD'03 — MOSS)
# ---------------------------------------------------------------------------

WINNOW_K = 16  # char k-gram length (noise threshold: no match < K chars)
WINNOW_W = 8  # winnowing window (guarantee threshold: K + W - 1 = 23)
WINNOW_MAXDF = 20  # fingerprints in more docs are boilerplate — dropped
WINNOW_MIN_SHARED = 3  # report pairs sharing at least this many prints


def winnowing_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-fingerprint near-dup detection via winnowing (Schleimer,
    Wilder & Aiken, SIGMOD'03 — the MOSS algorithm): every char
    WINNOW_K-gram of the space-stripped text is hashed (portable md5
    32-bit, the repo convention), each sliding window of WINNOW_W
    consecutive hashes selects its MINIMUM, and the doc's fingerprint
    set is the distinct selected hashes.  The winnowing guarantee: any
    shared substring of length >= K + W - 1 yields at least one shared
    fingerprint, while storage is ~2/(W+1) of the k-gram count —
    position-robust in a way minhash (whole-doc sketch) is not, which
    is why it is the standard for code-plagiarism and boilerplate
    LOCALIZATION rather than whole-doc similarity.

    Fingerprints appearing in more than WINNOW_MAXDF docs are dropped
    before pairing (MOSS's shared-boilerplate elimination); pairs
    sharing >= WINNOW_MIN_SHARED surviving prints are emitted with
    containment_ppm = shared / min(|fp_a|, |fp_b|) in half-away ppm.

    Scale shape: fingerprinting is ONE map-side pass (all array HOFs —
    k-gram hashes, window minima, distinct — no explode before the
    per-doc fingerprint set exists); the document-frequency gate is one
    partial-agg groupBy; pairing is a posting-list self-join whose
    per-fingerprint work is capped at WINNOW_MAXDF^2 by the gate, so
    no hot key survives regardless of corpus size — the same bounded
    inverted-index shape as ngram_jaccard_all_pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k, w = WINNOW_K, WINNOW_W
    # Fingerprint selection as a codegen'd explode + per-doc sliding
    # window instead of array HOFs: the transform() lambdas (md5 per
    # gram, array_min per window) evaluate INTERPRETED per element —
    # profiled as the dominant cost at the 10x corpus (same finding as
    # the exact-substring pipeline, commit d0966a0).  One md5 per gram
    # inside whole-stage codegen, then min over the w-row forward
    # window per doc (positions are gapless, so row offset == char
    # offset); docs with fewer than w grams keep the single
    # whole-array window via the i == 1 arm — the selected fingerprint
    # SET is identical to the HOF form.
    gram_rows = (
        docs.select(
            "doc_id", F.replace(F.col("text"), F.lit(" ")).alias("s")
        )
        .where(F.length("s") >= k)
        .select(
            "doc_id",
            (F.length("s") - F.lit(k - 1)).alias("nh"),
            F.explode(
                F.sequence(F.lit(1), F.length("s") - F.lit(k - 1))
            ).alias("i"),
            "s",
        )
        .select(
            "doc_id",
            "nh",
            "i",
            F.expr(
                f"cast(conv(substring(md5(substring(s, i, {k})), 1, 8),"
                " 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    wwin = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(0, w - 1)
    )
    doc_fps = (
        gram_rows.withColumn("fp", F.min("h").over(wwin))
        .where(
            (F.col("i") <= F.col("nh") - F.lit(w - 1))
            | (F.col("i") == 1)
        )
        .select("doc_id", "fp")
        .distinct()
    )
    kept = (
        doc_fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= WINNOW_MAXDF)
        .select("fp")
    )
    informative = doc_fps.join(kept, "fp")
    sizes = informative.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = informative.alias("a")
    b = informative.alias("b")
    pairs = (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("fp_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("fp_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.expr(
                "(2 * shared_fps * cast(1000000 as bigint)"
                " + least(fp_a, fp_b)) div (2 * least(fp_a, fp_b))"
            ).alias("containment_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Edit-distance verify over LSH candidates (Levenshtein near-dup)
# ---------------------------------------------------------------------------

# verify window: only the first EDIT_PREFIX chars enter the O(n*m) DP —
# the standard cost cap for edit-distance verification (a no-op on the
# fixture corpus whose docs are <1 KB, the knob that keeps a pathological
# 10 MB document from costing 10^14 DP cells at corpus scale)
EDIT_PREFIX = 1024
EDIT_MAX_PPM = 200_000  # keep pairs with normalized distance <= 20%


def edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup: Levenshtein distance as the VERIFY
    stage over the minhash-LSH candidate pairs — the edit-distance
    complement to the shingle-Jaccard verify (`lsh_near_dup`): Jaccard
    is blind to small in-word edits (OCR confusions, typo farms,
    template fills) that character distance catches.

    Both engines run their native Levenshtein (Spark
    ``F.levenshtein``, DuckDB ``levenshtein``) on the same
    ``EDIT_PREFIX``-char prefixes; the normalized distance is exact
    integer ppm over the longer prefix length, and the decision
    threshold compares integers — no float anywhere.

    Scale shape: candidate generation is the shared banded equi-join
    (`band_pairs` — one bucket-key shuffle, AQE skew-split, NEVER
    all-pairs); the DP cost per pair is capped at EDIT_PREFIX^2; text
    payloads join onto the slim pair list (two hash joins keyed by
    doc_id), so full documents never ride the bucket shuffle."""
    pairs = band_pairs(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX).alias("txt")
    )
    return (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("txt").alias("txt_a")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("txt").alias("txt_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("txt_a", "txt_b").cast("bigint").alias("lev"),
            F.greatest(F.length("txt_a"), F.length("txt_b"))
            .cast("bigint")
            .alias("max_len"),
        )
        .withColumn(
            "dist_ppm",
            F.expr(
                "case when max_len = 0 then cast(0 as bigint)"
                " else (lev * cast(1000000 as bigint)) div max_len end"
            ),
        )
        .filter(F.col("dist_ppm") <= EDIT_MAX_PPM)
        .select("doc_a", "doc_b", "lev", "dist_ppm")
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical pick per near-dup cluster
# ---------------------------------------------------------------------------


def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection done the way a curation pipeline actually
    wants it: within each near-dup cluster keep the HIGHEST-QUALITY
    copy (tie: lowest doc_id), not the arbitrary minimum id that
    ``near_dup_clusters`` reports — a scraped mirror often has the
    cleaner text than the first-crawled original, and keeping the best
    copy is the difference the quality filter sees downstream.

    Engine-exactness: quality is the round-4 heuristic scaled to
    integer ten-thousandths (the mmr_diversify convention), the
    per-cluster argmax is a row_number window ordered by
    (quality_m desc, doc_id) — a total order, identical on both
    engines; the naive min-id pick rides along so the output shows
    exactly where quality-aware selection changes the corpus.

    Scale shape: clusters join quality on doc_id (co-keyed, one
    shuffle); the argmax window partitions BY CLUSTER (cluster count ~
    doc count, uniform); only multi-member clusters survive the
    filter, so the output is the small near-dup subset."""
    from ocr_spark.operators.text_analysis import quality_score

    clusters = near_dup_clusters(spark, sf_dir).filter(
        F.col("cluster_size") > 1
    ).select("doc_id", "cluster_id", "cluster_size")
    q = quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality") * 10000).cast("bigint").alias("quality_m"),
    )
    members = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_m"), F.asc("doc_id")
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    naive = members.groupBy("cluster_id").agg(
        F.min("doc_id").alias("naive_min_doc")
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(naive, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality_m").alias("canonical_quality_m"),
            F.col("cluster_size").cast("bigint").alias("n_members"),
            "naive_min_doc",
            (F.col("doc_id") != F.col("naive_min_doc"))
            .cast("int")
            .alias("pick_differs"),
        )
        .repartition(1)
        .sortWithinPartitions("cluster_id")
    )


# ---------------------------------------------------------------------------
# LSH banding parameter sweep (the b x r S-curve; Leskovec MMDS §3.4)
# ---------------------------------------------------------------------------

# every way to band the N_MINHASH=8 signature: (bands, rows_per_band)
LSH_SWEEP_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding S-curve, measured: recall and precision of the
    MinHash candidate generator at EVERY (bands x rows) split of the
    8-hash signature against exact AllPairs truth — the tuning table
    (Leskovec/Rajaraman/Ullman, MMDS §3.4) behind the production
    choice `dedup_sketch_eval` grades: more bands = higher recall,
    lower precision; this query shows the whole trade-off so the
    threshold move is data-driven, not folklore.

    Exactness: same integer counts and half-away ppm ratios as
    dedup_sketch_eval, per config; the signature table and the truth
    pair set are computed ONCE and checkpointed (bounded: truth is
    the prefix-filtered AllPairs output), then each config adds only
    its banding join.

    Scale shape: per config one bucket equi-join + three 1-row
    counts; the union is 4 rows.  At 100 TB this runs on a
    hash-sampled slice (the dedup_sketch_eval note) — the curve is
    the point."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sigs = minhash_signatures_df(
        docs.select("doc_id", "text")
    ).localCheckpoint(eager=True)
    truth = (
        ngram_jaccard_all_pairs(spark, sf_dir, tau=SKETCH_EVAL_TAU)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    ppm = (
        "case when {d} = 0 then cast(1000000 as bigint) else"
        " (2 * cast(n_hits as decimal(38,0)) * 1000000 + {d})"
        " div (2 * {d}) end"
    )
    out = None
    for b, r in LSH_SWEEP_CONFIGS:
        bands = sigs.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{band * r + j}")
                                    for j in range(r)
                                ],
                            )
                        )
                        for band in range(b)
                    ]
                )
            ).alias("band", "bucket"),
        )
        cand = (
            bands.alias("x")
            .join(
                bands.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        hits = cand.join(truth, ["doc_a", "doc_b"])
        row = (
            n_truth.crossJoin(
                F.broadcast(cand.agg(F.count("*").alias("n_candidates")))
            )
            .crossJoin(
                F.broadcast(hits.agg(F.count("*").alias("n_hits")))
            )
            .select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "n_truth",
                "n_candidates",
                "n_hits",
                F.expr(ppm.format(d="n_truth")).alias("recall_ppm"),
                F.expr(ppm.format(d="n_candidates")).alias(
                    "precision_ppm"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.repartition(1).sortWithinPartitions("bands")


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-by-source near-duplicate contingency matrix — the curation
    report that tells you WHICH corpus slices copy from each other
    (mirror sites, syndication, cross-posted boilerplate): verified
    minhash-LSH pairs are labeled with their endpoints' sources and
    counted per unordered source pair, normalized to a rate in ppm of
    the possible cross pairs (n_a*n_b off-diagonal, C(n_a,2) on the
    diagonal).  High off-diagonal cells mean the source split is NOT a
    dedup boundary — exactly what decides whether dedup must run
    globally or can shard per source at 100 TB.

    Scale shape: lsh_candidates' banded shape (see its docstring), two
    broadcast-able doc_id->source joins (source labels ride the pair
    list), one tiny groupBy over O(sources^2) cells, and a broadcast of
    the per-source counts — nothing beyond the pair generation itself
    scales with the corpus."""
    pairs = lsh_candidates(spark, sf_dir)
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    sa = src.select(F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("sb"))
    cells = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("pair_count"))
    )
    counts = src.groupBy("source").agg(F.count("*").alias("n"))
    ca = counts.select(F.col("source").alias("source_a"),
                       F.col("n").alias("docs_a"))
    cb = counts.select(F.col("source").alias("source_b"),
                       F.col("n").alias("docs_b"))
    den = F.expr(
        "case when source_a = source_b"
        " then (docs_a * (docs_a - 1)) div 2"
        " else docs_a * docs_b end"
    )
    return (
        cells.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .withColumn("possible_pairs", F.greatest(den, F.lit(1)))
        .withColumn(
            "rate_ppm",
            F.expr(
                "(2 * pair_count * 1000000 + possible_pairs)"
                " div (2 * possible_pairs)"
            ),
        )
        .select(
            "source_a", "source_b", "pair_count", "docs_a", "docs_b",
            "possible_pairs", "rate_ppm",
        )
        .repartition(1)
        .sortWithinPartitions("source_a", "source_b")
    )


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity curve for the dedup THRESHOLD decision: how many
    exact-Jaccard pairs survive each candidate cutoff tau in 0.2..0.9 —
    the number a curator reads before committing the knob (too low
    deletes near-misses, too high keeps templates).  One pass over the
    prefix-filtered all-pairs set (complete for every tau >= the base
    0.2), bucketed cumulatively; comparisons are on round(J*1e6)
    integers so the cutoffs are engine-exact.

    Scale shape: the pair set is output-bounded (ngram_jaccard_all_pairs'
    prefix-filter bound) and the sweep is a constant 8-way conditional
    aggregate over it — one tiny stage after the pair generation."""
    pairs = ngram_jaccard_all_pairs(spark, sf_dir).select(
        F.round(F.col("jaccard") * 1_000_000).cast("bigint").alias("jppm")
    )
    aggs = [
        F.sum((F.col("jppm") >= t * 100_000).cast("bigint")).alias(
            f"t{t}"
        )
        for t in range(2, 10)
    ]
    row = pairs.agg(*aggs).first()
    rows = [(t, int(row[f"t{t}"] or 0)) for t in range(2, 10)]
    return (
        spark.createDataFrame(rows, "tau_tenths int, n_pairs bigint")
        .repartition(1)
        .sortWithinPartitions("tau_tenths")
    )


def dedup_cascade_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged-dedup FUNNEL report — cheap-to-expensive cascade
    every production pipeline runs (and the numbers its owner actually
    watches): URL-canonical dedup first (pure string ops), exact
    content digest second (one hash shuffle), minhash-LSH near-dup last
    (the only expensive stage, now over the already-thinned corpus).
    Output: one row per stage with the surviving count and how many
    that stage removed — the marginal yield that justifies (or kills)
    each stage's cost at 100 TB.

    Survivor rules are deterministic min-doc_id at every stage, so the
    funnel is engine-exact.  Scale shape: stage 1-2 are map-side +
    one keyed shuffle each; stage 3 reuses the banded LSH pair shape
    restricted to survivors (pairs whose endpoints were already
    removed never reach CC)."""
    from ocr_spark.operators.web_extract import (
        _synth_raw_url,
        canonicalize_url,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_total = docs.count()
    canon = docs.select(
        "doc_id", canonicalize_url(_synth_raw_url(F.col("doc_id"))).alias("cu")
    )
    w1 = Window.partitionBy("cu")
    s1 = (
        canon.withColumn("mn", F.min("doc_id").over(w1))
        .filter(F.col("doc_id") == F.col("mn"))
        .select("doc_id")
    )
    n_url = s1.count()
    w2 = Window.partitionBy("digest")
    s2 = (
        docs.join(s1, "doc_id")
        .select("doc_id", F.md5("text").alias("digest"))
        .withColumn("mn", F.min("doc_id").over(w2))
        .filter(F.col("doc_id") == F.col("mn"))
        .select("doc_id")
    )
    n_exact = s2.count()
    pairs = (
        lsh_candidates(spark, sf_dir)
        .join(s2.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(s2.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    labels = connected_components(pairs)
    survivors3 = (
        s2.join(labels.withColumnRenamed("doc_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cid"),
        )
        .filter(F.col("doc_id") == F.col("cid"))
    )
    n_near = survivors3.count()
    rows = [
        ("0_total", n_total, 0),
        ("1_url", n_url, n_total - n_url),
        ("2_exact", n_exact, n_url - n_exact),
        ("3_near_dup", n_near, n_exact - n_near),
    ]
    return (
        spark.createDataFrame(
            rows, "stage string, n_docs bigint, removed bigint"
        )
        .repartition(1)
        .sortWithinPartitions("stage")
    )


def _dup_window_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos) rows for every strided window whose hash occurs in
    MORE than one document — the shared detection core of
    duplicate_substring_spans (see its docstring for the index shape)
    and dedup_span_excision."""
    w, stride = SUBSTR_W, SUBSTR_STRIDE
    wins = docs.filter(F.length("text") >= w).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.length("text") - (w - 1), F.lit(stride)
                ),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.substring(F.col("text"), i, F.lit(w))).alias("h"),
                ),
            )
        ).alias("win"),
    ).select(
        "doc_id", F.col("win.pos").alias("pos"), F.col("win.h").alias("h")
    )
    # a hash is cross-doc duplicated iff its min and max doc_id differ —
    # exact, and cheaper than count(distinct doc_id)
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    return wins.join(dup_hashes, "h", "left_semi").select("doc_id", "pos")


def dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXCISION half of Lee et al.'s "Deduplicating Training Data
    Makes Language Models Better" (ACL'22): duplicate_substring_spans
    finds cross-document duplicated windows; this operator turns them
    into the per-document CUT LIST and its budget effect — each dup
    window covers chars [pos, pos+w), overlapping/adjacent windows
    merge into maximal islands (the classic lag + running-max island
    pass), and the report says how many characters excision removes
    and keeps per document.  The pipeline's "how much do we lose if we
    cut every shared passage" answer.

    Scale shape: the detection core's window-hash shuffles (see
    _dup_window_rows), then ONE doc-partitioned window chain (lag +
    running max + cumulative island id — never a global window) and a
    per-island aggregate.  All integer char arithmetic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dups = _dup_window_rows(docs)
    ww = Window.partitionBy("doc_id").orderBy("pos")
    run = (
        dups.withColumn("e", F.col("pos") + SUBSTR_W)
        .withColumn(
            "prev_max_e",
            F.max("e").over(ww.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_island",
            (
                F.col("prev_max_e").isNull()
                | (F.col("pos") > F.col("prev_max_e"))
            ).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                ww.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    islands = run.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("e") - F.col("s")).alias("excised_chars"),
    )
    return (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_islands", F.lit(0)).cast("bigint")
            .alias("n_islands"),
            F.coalesce("excised_chars", F.lit(0)).cast("bigint")
            .alias("excised_chars"),
            (
                F.col("n_chars")
                - F.coalesce("excised_chars", F.lit(0))
            ).cast("bigint").alias("kept_chars"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Distributed suffix-array substring dedup (prefix doubling)
# ---------------------------------------------------------------------------

# suffix_array_ranks doc slice: a bounded deterministic subset so the
# DuckDB oracle can materialize every suffix string for the value check
# (the Spark side never materializes suffixes at ANY scale).
SA_SLICE_MOD = 53
# exact_substring_spans minimum duplicated-substring length, in chars —
# deliberately BELOW the windowed-hash detection floor of
# duplicate_substring_spans (w + stride - 1 = 49 chars): the suffix-rank
# construction pays O(log L) keyed rounds to set stride=1.
EXACT_SUBSTR_L = 24


def suffix_array_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed suffix array via prefix doubling (Manber & Myers,
    SIAM J. Comput. 1993; the Spark formulation follows the
    prefix-doubling/"rank doubling" scheme used by large-scale suffix
    array builds, e.g. Flick & Aluru, SC'15): rank every suffix of
    every document by repeated doubling — round k upgrades a rank that
    distinguishes 2^(k-1)-char prefixes into one that distinguishes
    2^k-char prefixes by pairing each position's rank with the rank at
    offset +2^(k-1) (a keyed equi-join on (doc_id, pos)), then
    re-densifying via ``bucketed_global_rank``.  O(log maxlen) rounds,
    each a constant number of keyed shuffles; suffix STRINGS are never
    materialized, compared, or shuffled — only integer ranks move.

    This is the reference-free capability Lee et al. (ACL 2022,
    "Deduplicating Training Data Makes Language Models Better") build
    their exact substring dedup on; ``exact_substring_spans`` below is
    the consumer.  Runs on a bounded deterministic doc slice
    (doc_id % SA_SLICE_MOD == 0) ONLY so the DuckDB oracle can afford
    to materialize and sort the actual suffix strings for the value
    check — the Spark plan itself is corpus-shape-independent.

    Scale shape: per round, one (doc_id, pos) equi-join + one distinct
    + one bucketed two-pass rank (the only unpartitioned window
    touches O(n_buckets) rows); ``localCheckpoint`` truncates lineage
    between rounds (the same Pregel budget as the graph suite); an
    O(1) all-ranks-distinct aggregate gates early exit — random text
    separates in far fewer than log2(maxlen) rounds.

    Output: (sa_rank, doc_id, pos) — the suffix array of the sliced
    corpus, rank 1 = lexicographically smallest suffix; equal suffixes
    (identical docs) tie-break by (doc_id, pos).

    Bound: the tie-break packs (doc_id, pos) into one bigint as
    doc_id * 2^21 + pos, so every document must be shorter than 2^21
    chars; a longer one raises ValueError.  The DuckDB oracle sorts by
    (suffix, doc_id, pos) with no pack, so it has no such bound."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % SA_SLICE_MOD == 0
    )
    return suffix_array_ranks_df(docs)


def suffix_array_ranks_df(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of suffix_array_ranks (unit-testable on
    crafted corpora).  Expects (doc_id, text), each text < 2^21 chars."""
    from ocr_spark.operators.relational import bucketed_global_rank

    spark = docs.sparkSession
    out_schema = "sa_rank bigint, doc_id bigint, pos int"
    head = docs.select(F.max(F.length("text")).alias("m")).first()
    maxn = int(head["m"]) if head and head["m"] is not None else 0
    if maxn == 0:
        return spark.createDataFrame([], out_schema)
    if maxn >= 1 << 21:
        raise ValueError(
            f"suffix_array_ranks: a document of {maxn} chars overflows the "
            "(doc_id, pos) tie-break pack; documents must be < 2^21 chars"
        )
    # initial rank: the character codepoint — order-identical to the
    # byte order DuckDB's suffix-string sort uses (UTF-8 byte order ==
    # codepoint order)
    pos = docs.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("p"),
        "text",
    ).select(
        "doc_id",
        "p",
        F.expr("ascii(substring(text, p, 1))").cast("bigint").alias("r"),
    )
    n_pos = pos.count()
    r = pos.localCheckpoint()
    k = 1
    while k < maxn:
        shifted = r.select(
            "doc_id",
            (F.col("p") - F.lit(k)).alias("p"),
            F.col("r").alias("r2"),
        )
        paired = (
            r.join(shifted, ["doc_id", "p"], "left")
            .select(
                "doc_id",
                "p",
                "r",
                # past-the-end sentinel: a shorter suffix that is a
                # prefix of a longer one sorts FIRST (string order)
                F.coalesce("r2", F.lit(-1)).alias("r2"),
            )
        )
        # re-densify: rank the distinct (r, r2) pairs in (r, r2) order
        # — order-preserving, so the final ranks ARE the suffix order
        v = bucketed_global_rank(
            paired.select("r", "r2").distinct(), "r", "r2", rank_col="nr"
        )
        r = (
            paired.join(v, ["r", "r2"])
            .select("doc_id", "p", F.col("nr").alias("r"))
            .localCheckpoint()
        )
        k *= 2
        # O(1) fixed-point gate: all suffixes distinguished => done
        nd = r.agg(F.countDistinct("r").alias("d")).first()["d"]
        if nd == n_pos:
            break
    final = bucketed_global_rank(
        r.withColumn(
            "tb", F.col("doc_id") * F.lit(1 << 21) + F.col("p")
        ),
        "r",
        "tb",
        rank_col="sa_rank",
    )
    return (
        final.select(
            F.col("sa_rank").cast("bigint"),
            "doc_id",
            F.col("p").cast("int").alias("pos"),
        )
        .repartition(1)
        .sortWithinPartitions("sa_rank")
    )


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicated-substring spans at stride 1 —
    the Lee et al. (ACL 2022) suffix-array substring dedup, closing the
    recall floor of ``duplicate_substring_spans`` (windowed hashing is
    exact only for shared substrings >= w + stride - 1 = 49 chars;
    this operator is exact down to EXACT_SUBSTR_L = 24).

    A position p in doc d is duplicated iff some OTHER document shares
    the L chars starting at p; a shared substring of length M >= L
    marks positions p..p+M-L, whose union of L-windows reconstructs the
    full [p, p+M) span — so per-doc merged spans are exact for every
    duplicated substring of ANY length >= L, not just length L.

    Spark side: suffix-rank machinery, never gram strings — level-8
    ranks come from one distinct+rank round over 8-char grams (their
    8-byte pack is the numeric bucket key), one prefix-doubling
    equi-join upgrades 8 -> 16 (re-densified via bucketed_global_rank),
    and a second (doc_id, pos+8) equi-join keys the exact 24-char
    identity as the integer pair (r16(p), r16(p+8)) — equality of that
    pair IS equality of the 24-char substring (rank equality is exact
    substring equality by induction).  A groupBy on the pair finds
    cross-doc keys (min(doc) != max(doc) — count-distinct beyond 2 is
    irrelevant), a semi-join marks positions, and a per-doc window
    merges [p, p+L) intervals into maximal spans.

    Scale shape: everything shuffles on integer rank keys or
    (doc_id, pos) — never on substring text; the two doubling joins
    and the pair groupBy are uniform-keyed (ranks are dense);
    boilerplate-heavy corpora concentrate positions per KEY, which the
    min/max aggregate absorbs map-side (no per-pair fan-out is ever
    materialized).  The interval-merge window partitions by doc_id
    (per-doc cardinality <= doc length).  At 10^12 docs this is
    O(log L) rounds over the position table — the honest suffix-array
    cost; the windowed-hash sibling remains the cheap screen when a
    49-char floor is acceptable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return exact_substring_spans_df(docs)


def _dup_span_islands(key24: DataFrame, L: int) -> DataFrame:
    """(doc_id, s, e) maximal merged cross-doc duplicated spans from the
    keyed position table (doc_id, p, r16, r16b) — shared by
    exact_substring_spans and exact_substring_excision."""
    dup_keys = (
        key24.groupBy("r16", "r16b")
        .agg(
            F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1")
        )
        .filter(F.col("d0") != F.col("d1"))
        .select("r16", "r16b")
    )
    marked = key24.join(dup_keys, ["r16", "r16b"], "left_semi").select(
        "doc_id", "p"
    )
    # merge [p, p+L) intervals per doc (touching intervals merge)
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = marked.withColumn(
        "new",
        F.when(
            F.col("p")
            > F.coalesce(F.max("p").over(wprev), F.lit(-(1 << 30)))
            + F.lit(L),
            1,
        ).otherwise(0),
    ).withColumn("grp", F.sum("new").over(wrun))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + F.lit(L)).alias("e"),
        )
        .select("doc_id", "s", "e")
    )


def _substring_rank_keys(docs: DataFrame, L: int):
    """(base, key24): base = (doc_id, text, n); key24 = the keyed
    position table (doc_id, p, r16, r16b) whose integer pair equals the
    exact L-char substring identity at p — the suffix-rank machinery
    shared by exact_substring_spans / exact_substring_excision.
    L must be 24 = 16 + 8 for the level schedule (8-gram jumpstart,
    one doubling to 16, pair key 16 + 8).

    Scale-tuned shape (profiled at a 10x tiled corpus, tools/make_sf1.py):
    * the explode emits the PRE-CUT gram array, never the full doc text
      per position (carrying a ~400-char text column through a 20M-row
      Generate was the single largest cost of the naive form);
    * the gram -> dense-id map is a distinct-gram table (tiny: grams
      repeat heavily in real corpora) that broadcast-joins back;
    * the two "rank at p + 8" doubling reads are per-doc lead(8)
      windows over the COMPLETE position range — one doc-keyed shuffle
      each, replacing 20M-row self-joins (positions 1..n-7 are gapless,
      so row offset == char offset);
    * every level is lazily localCheckpoint'ed: each feeds 2+ consumer
      branches and the chain re-executes per branch otherwise
      (measured ~90x wall blowup at 10x corpus before these moves).
    """
    from ocr_spark.operators.relational import bucketed_global_rank

    assert L == 24, "level schedule is specialized to L = 24"
    base = docs.select(
        "doc_id", "text", F.length("text").alias("n")
    )
    grams = base.filter(F.col("n") >= 8).select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(
                "transform(sequence(1, n - 7),"
                " i -> substring(text, i, 8))"
            )
        ).alias("i0", "g8"),
    ).select(
        "doc_id", "n", (F.col("i0") + 1).alias("p"), "g8"
    )
    # order/equality-preserving 8-byte pack of the gram — the numeric
    # bucket key for the two-pass rank (ASCII corpus: codepoints < 256
    # make the pack injective; the rank keys on the gram STRING, so a
    # >255 codepoint only perturbs bucket balance, never correctness).
    # Computed on the DISTINCT gram table only — the aggregate() lambda
    # is interpreted, not codegen'd.
    v8 = bucketed_global_rank(
        grams.select("g8")
        .distinct()
        .withColumn(
            "pk8",
            F.expr(
                "aggregate(sequence(0, 7), cast(0 as bigint),"
                " (acc, i) -> acc * 256 + ascii(substring(g8, i + 1, 1)))"
            ),
        ),
        "pk8",
        "g8",
        rank_col="r8",
    ).select("g8", "r8")
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    # no broadcast HINT on the rank maps: tiny here (grams repeat),
    # but at 10^12-doc scale distinct-gram tables outgrow the driver —
    # AQE converts to broadcast at runtime exactly when actual size
    # allows, which is the scale-correct policy
    ranks8 = (
        grams.join(v8, "g8")
        .select("doc_id", "n", "p", "r8")
        .localCheckpoint(eager=False)
    )
    # prefix doubling 8 -> 16: rank(p) paired with rank(p + 8) via a
    # per-doc lead — positions are the complete range 1..n-7
    pairs16 = (
        ranks8.withColumn("r8b", F.lead("r8", 8).over(wdoc))
        .filter(F.col("p") <= F.col("n") - 15)
        .localCheckpoint(eager=False)
    )
    v16 = bucketed_global_rank(
        pairs16.select("r8", "r8b").distinct(), "r8", "r8b", rank_col="r16"
    )
    ranks16 = (
        pairs16.join(v16, ["r8", "r8b"])
        .select("doc_id", "n", "p", "r16")
        .localCheckpoint(eager=False)
    )
    # second doubling read keys the 24-char identity: (r16(p), r16(p+8))
    # — again a lead over the complete range 1..n-15
    key24 = (
        ranks16.withColumn("r16b", F.lead("r16", 8).over(wdoc))
        .filter(F.col("p") <= F.col("n") - (L - 1))
        .select("doc_id", "p", "r16", "r16b")
        .localCheckpoint(eager=False)
    )
    return base, key24


def exact_substring_spans_df(
    docs: DataFrame, L: int = EXACT_SUBSTR_L
) -> DataFrame:
    """DataFrame-level core of exact_substring_spans (unit-testable on
    crafted corpora)."""
    base, key24 = _substring_rank_keys(docs, L)
    spans = _dup_span_islands(key24, L)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_chars"),
    )
    return (
        base.select("doc_id", "n")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias(
                "n_spans"
            ),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias(
                "dup_chars"
            ),
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.col("n"), 6
            ).alias("dup_frac"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def exact_substring_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excision half of Lee et al. (ACL'22) on the suffix-rank
    spans: CUT every cross-doc duplicated span >= EXACT_SUBSTR_L chars
    out of each document and emit the cleaned text's digest plus the
    char budget — the action `dedup_span_excision` takes on the
    windowed 49-char-floor detector, now at stride-1 exactness.

    The rebuild is pure map-side string algebra over each doc's sorted
    span list: the kept text is the concatenation of the gap segments
    (prev span end -> next span start), folded with an aggregate HOF —
    no per-row Python, no text shuffle (spans shuffle, text stays with
    its doc via one doc_id join).

    Scale shape: the span finder's keyed rank shuffles (see
    _substring_rank_keys), one doc-partitioned interval merge, one
    per-doc collect_list of its OWN spans (bounded by doc length), one
    doc_id join back to the text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # the board query ships the digest, not the rebuilt text
    return exact_substring_excision_df(docs).drop("cleaned_text")


def exact_substring_excision_df(
    docs: DataFrame, L: int = EXACT_SUBSTR_L
) -> DataFrame:
    """Core of exact_substring_excision; exposes the cleaned text so
    crafted tests can assert the exact rebuilt string (the board query
    ships its md5)."""
    base, key24 = _substring_rank_keys(docs, L)
    spans = _dup_span_islands(key24, L)
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("s", "e"))
        ).alias("cuts"),
    )
    joined = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n",
        "text",
        F.coalesce(
            "cuts",
            F.expr("array()").cast("array<struct<s:int,e:int>>"),
        ).alias("cuts"),
    )
    # fold the sorted cut list: accumulator = (next kept-segment start,
    # kept text so far); finish by appending the tail segment
    cleaned = F.expr(
        "aggregate(cuts,"
        " named_struct('pos', 1, 'acc', ''),"
        " (a, c) -> named_struct("
        "   'pos', c.e,"
        "   'acc', concat(a.acc, substring(text, a.pos, c.s - a.pos))),"
        " a -> concat(a.acc, substring(text, a.pos, n - a.pos + 1)))"
    )
    return (
        joined.select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars"),
            F.size("cuts").cast("bigint").alias("n_cuts"),
            cleaned.alias("cleaned_text"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_cuts",
            F.length("cleaned_text").cast("bigint").alias("kept_chars"),
            (F.col("n_chars") - F.length("cleaned_text"))
            .cast("bigint")
            .alias("cut_chars"),
            F.md5("cleaned_text").alias("cleaned_md5"),
            "cleaned_text",
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
