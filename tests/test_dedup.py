"""Connected-components clustering tests (operators/dedup.py).

The star rounds (Kiveris et al., SoCC'14) are exercised on adversarial
shapes — a pure CHAIN is the case naive min-label propagation needs
O(n) rounds for — and the end-to-end near_dup_clusters labels are
cross-checked against an independent pure-python union-find over the
same verified LSH pairs.
"""

from __future__ import annotations

import pytest

from ocr_spark.operators.dedup import (
    connected_components,
    lsh_candidates,
    near_dup_clusters,
)


def _labels(df) -> dict[str, str]:
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_cc_chain(spark):
    # d1-d2-d3-d4-d5-d6: worst case for label propagation (diameter 5);
    # the star rounds collapse it in O(log^2 n).
    edges = spark.createDataFrame(
        [(f"d{i}", f"d{i + 1}") for i in range(1, 6)], ["u", "v"]
    )
    got = _labels(connected_components(edges))
    assert got == {f"d{i}": "d1" for i in range(2, 7)}


def test_cc_two_components_and_direction(spark):
    # two components, edges given in mixed orientation; roots are the
    # component minima and appear only as cluster_id values.
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "y"), ("x", "y")], ["u", "v"]
    )
    got = _labels(connected_components(edges))
    assert got == {"b": "a", "c": "a", "y": "x", "z": "x"}


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "u string, v string")
    assert connected_components(edges).count() == 0


def _union_find(pairs):
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo
    return {x: find(x) for x in parent}


def test_near_dup_clusters_matches_union_find(spark, sf_dir):
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in lsh_candidates(spark, sf_dir).collect()
    ]
    assert pairs, "fixture corpus should carry near-dup pairs"
    expected = _union_find(pairs)
    rows = near_dup_clusters(spark, sf_dir).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    # paired docs carry the union-find component min
    for doc, root in expected.items():
        assert got[doc] == root
    # unpaired docs are singletons surviving under their own id
    sizes: dict[str, int] = {}
    for r in rows:
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    for r in rows:
        if r["doc_id"] not in expected:
            assert r["cluster_id"] == r["doc_id"]
            assert r["cluster_size"] == 1
        assert r["cluster_size"] == sizes[r["cluster_id"]]
        assert r["is_survivor"] == int(r["doc_id"] == r["cluster_id"])


def test_ngram_all_pairs_superset_of_bucketed(spark, sf_dir):
    """The inverted-index exact Jaccard is complete: it contains every
    bucketed-verifier pair with identical scores (the bucketed variant
    only restricts WHICH pairs are examined, never the score)."""
    from ocr_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
        ngram_jaccard_pairs,
    )

    bucketed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    allp = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_all_pairs(spark, sf_dir).collect()
    }
    assert bucketed, "fixture corpus should carry near-dup pairs"
    assert set(bucketed) <= set(allp)
    for k, v in bucketed.items():
        assert allp[k] == v


def test_substring_spans_crafted(spark):
    """Strided-window substring dedup on a crafted corpus: exact
    duplicates share EVERY window (dup_frac 1.0); a long substring
    shared mid-document is caught by its aligned windows; a unique doc
    and a too-short doc report zero."""
    from ocr_spark.operators.dedup import (
        SUBSTR_W,
        duplicate_substring_spans_df,
    )

    shared = "S" * (3 * SUBSTR_W)  # long shared block, > w + stride - 1
    docs = spark.createDataFrame(
        [
            (1, "A" * 50 + shared + "B" * 50),
            (2, "C" * 80 + shared + "D" * 20),
            (3, "E" * 200),          # unique, windowed, no dups
            (4, "short"),            # below window size: no windows
            (5, "A" * 50 + shared + "B" * 50),  # exact dup of doc 1
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in duplicate_substring_spans_df(docs).collect()}
    assert got[1]["dup_frac"] == 1.0  # exact dup of doc 5
    assert got[5]["dup_frac"] == 1.0
    # doc 2 shares only the S-block with 1/5: some but not all windows
    assert 0 < got[2]["n_dup_windows"] < got[2]["n_windows"]
    # the flagged span sits inside the shared block's char range
    assert got[2]["first_dup_pos"] > 80 - SUBSTR_W
    assert got[2]["last_dup_pos"] <= 80 + 3 * SUBSTR_W
    assert got[3]["n_dup_windows"] == 0 and got[3]["n_windows"] > 0
    assert got[4]["n_windows"] == 0 and got[4]["dup_frac"] == 0.0


def test_incremental_near_dup_consistent_with_full_lsh(spark, sf_dir, tmp_path):
    """The incremental (batch vs persisted corpus index) result must
    equal the full LSH run restricted to batch x corpus pairs, and the
    index must be reused, not rebuilt, on the second call."""
    import os

    from ocr_spark.operators.dedup import (
        _minhash_index_path,
        incremental_near_dup,
        lsh_candidates,
    )

    idx = _minhash_index_path(spark, sf_dir)
    inc = {
        (r["batch_doc"], r["corpus_doc"], r["jaccard"])
        for r in incremental_near_dup(spark, sf_dir).collect()
    }
    full = lsh_candidates(spark, sf_dir).collect()
    expected = set()
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if a % 5 == 0 and b % 5 != 0:
            expected.add((a, b, r["jaccard"]))
        elif b % 5 == 0 and a % 5 != 0:
            expected.add((b, a, r["jaccard"]))
    assert inc == expected
    assert inc, "fixture must contain batch-vs-corpus near-dups"

    # index reuse: the second call must not rewrite the index files
    mtime = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(idx)
        for f in fs
    )
    incremental_near_dup(spark, sf_dir).collect()
    mtime2 = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(idx)
        for f in fs
    )
    assert mtime2 == mtime


def test_filtered_topk_per_label_exactness(spark, sf_dir):
    """Per-label top-k must equal the brute-force per-label rank: cos
    non-increasing within a label, ranks contiguous from 1, and every
    label present in the corpus (vec_id != 0) is served."""
    from ocr_spark.operators.similarity import TOP_K, filtered_topk

    rows = filtered_topk(spark, sf_dir).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_labels = (
        emb.filter("vec_id <> 0").select("label").distinct().count()
    )
    assert len(by_label) == n_labels
    for label, rs in by_label.items():
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_K
        cs = [r["cos"] for r in rs]
        assert cs == sorted(cs, reverse=True)


def test_prefix_filter_is_exact_and_prunes(spark, sf_dir):
    """Prefix filtering must return EXACTLY the brute-force all-pairs
    Jaccard result while generating strictly fewer candidate pairs than
    the full posting join (the pruning is the point)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
        prefix_candidates,
        word_shingles,
    )

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_all_pairs(spark, sf_dir).collect()
    }
    shingles = {
        r.doc_id: set(r.sh)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", word_shingles(F.col("text")).alias("sh"))
        .collect()
    }
    brute = {}
    for a, b in combinations(sorted(shingles), 2):
        c = len(shingles[a] & shingles[b])
        j = round(c / len(shingles[a] | shingles[b]), 6) if c else 0.0
        if j >= 0.2:
            brute[(a, b)] = j
    assert got.keys() == brute.keys() and brute  # same non-empty pair set
    assert all(abs(got[p] - brute[p]) <= 1e-6 for p in brute)

    n_pref_cand = prefix_candidates(spark, sf_dir).count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    posting = docs.select("doc_id", F.explode("sh").alias("s"))
    a, b = posting.alias("a"), posting.alias("b")
    n_full_cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_pref_cand < n_full_cand, (n_pref_cand, n_full_cand)


def test_embedding_quantize_int8_range_and_fidelity(spark, sf_dir):
    """Every quantized component lies in [-127, 127], the max-|x|
    component maps to ±127 exactly, and cosine between the original and
    its dequantized self stays near 1 (quantization sanity)."""
    import math

    from ocr_spark.operators.similarity import embedding_quantize_int8

    out = {
        r["vec_id"]: r
        for r in embedding_quantize_int8(spark, sf_dir).collect()
    }
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(
            f"{sf_dir}/embeddings.parquet"
        ).limit(2000).collect()
    }
    checked = 0
    for vid, x in list(emb.items())[:50]:
        q = [int(v) for v in out[vid]["q_csv"].split(",")]
        assert len(q) == out[vid]["n_dims"] == len(x)
        assert all(-127 <= v <= 127 for v in q)
        scale = max(abs(v) for v in x)
        if scale == 0:
            continue
        i = max(range(len(x)), key=lambda j: abs(x[j]))
        assert abs(q[i]) == 127
        deq = [v * scale / 127.0 for v in q]
        dot = sum(a * b for a, b in zip(x, deq))
        na = math.sqrt(sum(a * a for a in x))
        nb = math.sqrt(sum(b * b for b in deq))
        assert dot / (na * nb) > 0.99
        checked += 1
    assert checked > 10


def test_ann_int8_topk_agrees_with_float_retrieval(spark, sf_dir):
    """Quantized retrieval must substantially agree with exact float
    cosine retrieval (recall@10 >= 0.7 on the fixture) and scores must
    be pure integers ordered descending."""
    from ocr_spark.operators.similarity import ann_int8_topk, brute_topk

    qrows = ann_int8_topk(spark, sf_dir).collect()
    assert len(qrows) == 10
    dots = [r["int_dot"] for r in qrows]
    assert dots == sorted(dots, reverse=True)
    assert all(isinstance(d, int) for d in dots)
    exact = {r["vec_id"] for r in brute_topk(spark, sf_dir).collect()}
    got = {r["vec_id"] for r in qrows}
    assert len(got & exact) >= 7, (got, exact)


def test_pq_centroids_encode_to_themselves(spark, sf_dir):
    """A vector that IS centroid k of every subspace must encode to code
    k everywhere (self-distance 0; ties cannot steal it because lower-k
    wins and no earlier centroid matches) — and all codes stay in
    [0, PQ_K)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators import similarity as sim

    cb = sim._pq_codebook(sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(sim.MICRO_ENCODE_EXPR).alias("e"),
    )
    coded = emb.select(
        "vec_id",
        *[
            F.expr(sim._pq_code_expr("e", m, cb[m])).alias(f"c{m}")
            for m in range(sim.PQ_M)
        ],
    ).collect()
    for r in coded:
        for m in range(sim.PQ_M):
            assert 0 <= r[f"c{m}"] < sim.PQ_K
        if r["vec_id"] < sim.PQ_K:
            assert all(
                r[f"c{m}"] == r["vec_id"] for m in range(sim.PQ_M)
            ), r

    # ADC ranking surfaces and is deterministic
    top = sim.pq_topk(spark, sf_dir).collect()
    assert len(top) == sim.PQ_TOPK
    ds = [r["approx_d"] for r in top]
    assert ds == sorted(ds)


def test_pq_encode_is_shuffle_free(spark, sf_dir):
    """Corpus encode + ADC scoring never shuffles the corpus by key: the
    only exchange the plan may contain is the single-partition collapse
    of the final global top-k (no hashpartitioning)."""
    from ocr_spark.operators import similarity as sim

    plan = (
        sim.pq_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning" not in plan


def test_containment_catches_subset_jaccard_misses(spark, tmp_path):
    """A short doc fully embedded in a long one: containment(A in B)=1.0
    while Jaccard is far below the 0.2 all-pairs gate — the asymmetric
    detector reports it, the symmetric one does not."""
    from ocr_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_all_pairs,
    )

    short = " ".join(f"w{i}" for i in range(6))  # 4 shingles
    long_ = short + " " + " ".join(f"z{i}" for i in range(60))
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, short, "en", "s", len(short)),
            (1, long_, "en", "s", len(long_)),
            (2, "totally different words only here", "en", "s", 33),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    cont = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in containment_pairs(spark, d).collect()
    }
    assert cont[(0, 1)][0] == 1.0 and cont[(0, 1)][1] < 0.5
    jac = ngram_jaccard_all_pairs(spark, d).collect()
    assert not any(r["doc_a"] == 0 and r["doc_b"] == 1 for r in jac)


def test_ivfpq_residual_codebook_and_probe_cut(spark, sf_dir):
    """Codebook-source vectors [PQ_K, 2*PQ_K) encode to their own
    residual code (self-distance 0, lower-k ties can't steal);
    every returned candidate sits in one of the query's probed lists;
    and the corpus is never key-shuffled (broadcast joins only)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators import similarity as sim

    df = sim.ivfpq_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan

    rows = df.collect()
    assert len(rows) == sim.PQ_TOPK
    # probed lists of query vec 0, recomputed independently
    anchors = sim._anchor_rows(sf_dir)
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    q = [float(x) for v, e in zip(t["vec_id"].to_pylist(),
                                  t["embedding"].to_pylist())
         if int(v) == 0 for x in e]
    xx = sum(x * x for x in q)
    ds = sorted(
        (round(xx - 2 * sum(x * a for x, a in zip(q, vec))
               + sum(a * a for a in vec), 6), aid)
        for aid, vec in anchors
    )
    probes = {aid for _, aid in ds[: sim.DEFAULT_PROBE]}
    assert all(r["list_id"] in probes for r in rows)

    # self-encode of the codebook-source vectors
    cb = sim._ivfpq_codebook(sf_dir)
    amicro = spark.createDataFrame(
        [(aid, list(vec)) for aid, vec in sim._anchor_micro_rows(sf_dir)],
        "list_id int, amicro array<bigint>",
    )
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(
            (F.col("vec_id") >= sim.PQ_K)
            & (F.col("vec_id") < 2 * sim.PQ_K)
        )
        .select(
            "vec_id",
            F.expr(sim.MICRO_ENCODE_EXPR).alias("e"),
            F.array_min(
                sim._l2_struct_array("embedding", sim._anchor_rows(sf_dir))
            )["aid"].cast("int").alias("list_id"),
        )
        .join(F.broadcast(amicro), "list_id")
        .withColumn("r", F.zip_with("e", "amicro", lambda x, h: x - h))
    )
    coded = emb.select(
        "vec_id",
        *[
            F.expr(sim._pq_code_expr("r", m, cb[m])).alias(f"c{m}")
            for m in range(sim.PQ_M)
        ],
    ).collect()
    assert len(coded) == sim.PQ_K
    for r in coded:
        want = r["vec_id"] - sim.PQ_K
        assert all(r[f"c{m}"] == want for m in range(sim.PQ_M)), r


def test_homoglyph_skeleton_collides_spoofs_only(spark, tmp_path):
    """Cyrillic look-alike renderings collide on skeleton (flagged);
    genuinely different names never do; byte-exact duplicates are not
    flagged (n_raw_variants is DISTINCT raw strings)."""
    from ocr_spark.operators.dedup import homoglyph_dedup

    d = str(tmp_path)
    rows = [
        (1, "Acme Metals", 1, "x", 0.0),    # %3==1 -> spoofed variant
        (2, "Basalt Corp", 1, "x", 0.0),    # %3==2 -> identical pair
        (3, "Carbon Ltd", 1, "x", 0.0),     # %3==0 -> identical pair
    ]
    spark.createDataFrame(
        rows,
        "s_suppkey long, s_name string, s_nationkey int, s_phone string, "
        "s_acctbal double",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = {r["skeleton"]: r for r in homoglyph_dedup(spark, d).collect()}
    assert set(got) == {"acme metals"}
    assert got["acme metals"]["n_raw_variants"] == 2
    assert got["acme metals"]["canonical_key"] == 1


def test_prefix_filter_kills_boilerplate_skew(spark, tmp_path):
    """Round-4 gate: on a boilerplate-heavy corpus (every doc shares a
    hot footer, so the full posting join is quadratic in the corpus)
    prefix filtering must (a) still return the exact Jaccard result and
    (b) generate strictly fewer candidate pairs than the full posting
    join — the hot shingles sit at the END of the rarity order and drop
    out of candidate generation."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
        prefix_candidates,
        word_shingles,
    )

    boiler = "all rights reserved contact us terms of service apply"
    rows = []
    # body long enough that the prefix cut (ceil(tau*n) - 1 shingles)
    # swallows the 7 all-docs footer shingles: n ~ 47 => 9 dropped
    for i in range(24):
        body = " ".join(f"w{i}x{j}" for j in range(40))
        rows.append((i, f"{body} {boiler}", "en", "s", 99))
    # one true near-dup pair sharing most body shingles
    rows.append((100, rows[0][1].replace("w0x39", "zz"), "en", "s", 99))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_all_pairs(spark, d).collect()
    }
    assert (0, 100) in got and got[(0, 100)] >= 0.2

    # exact-result check vs the naive full posting join
    docs = spark.read.parquet(f"{d}/documents.parquet").select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    naive = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in naive.collect()
    }
    assert got == want

    # pruning: hot boilerplate shingles must not generate candidates
    posting = docs.select("doc_id", F.explode("sh").alias("s"))
    pa, pb = posting.alias("a"), posting.alias("b")
    n_full = (
        pa.join(
            pb,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    n_pref = prefix_candidates(spark, d).count()
    # every doc pair shares the footer => full candidates ~ C(25,2);
    # prefixes are boilerplate-free => candidates collapse to real dups
    assert n_full >= 250
    assert n_pref < n_full / 10, (n_pref, n_full)


def test_semdedup_prune_dominance_rule(spark, tmp_path, monkeypatch):
    """SemDeDup keep/prune semantics on a crafted single-cluster corpus:
    b is pruned by a (cos 1.0); c is pruned by b (cos ~0.93 >= tau) even
    though b is itself pruned — dominance against ALL lower-id mates,
    not a transitive closure; d (orthogonal-ish) survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.operators import similarity as sim
    from ocr_spark.operators.similarity import semdedup_prune

    vecs = [
        (0, [1.0, 0.0]),        # a: kept (lowest id)
        (1, [1.0, 0.0]),        # b: pruned by a (cos 1.0)
        (2, [0.3846, 0.9231]),  # c: cos(c,a)=0.3846 < tau, but pruned
                                #    via... (see below)
        (3, [0.0, 1.0]),        # d: cos(d,a)=0, cos(d,b)=0
    ]
    # make c qualify against b only: replace b with a 45-degree vector
    vecs[1] = (1, [0.7071, 0.7071])
    # now cos(b,a)=0.7071 >= tau(0.5)? use explicit tau below.
    t = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * 4, pa.int32()),
        }
    )
    d = str(tmp_path)
    pq.write_table(t, f"{d}/embeddings.parquet")
    monkeypatch.setattr(sim, "KMEANS_K", 1)
    monkeypatch.setattr(sim, "KMEANS_ITERS", 1)
    monkeypatch.setattr(sim, "SEMDEDUP_TAU", 0.9)
    # k=1 -> one cluster; tau=0.9: cos(b,a)=.7071 (b kept),
    # cos(c,a)=.272+.653=.925?? compute: c=[0.3846,0.9231]
    #   cos(c,a)=0.3846 -> < .9 ; cos(c,b)=(0.3846+0.9231)*.7071/1
    #   = .9245 >= .9 -> c pruned BY b although b itself is kept here.
    out = {
        r["vec_id"]: r
        for r in semdedup_prune(spark, d).collect()
    }
    assert len(out) == 4
    assert out[0]["is_kept"] == 1 and out[0]["pruned_by"] is None
    assert out[1]["is_kept"] == 1  # cos(b,a)=0.7071 < 0.9
    # c pruned by b (cos 0.9247) even though cos(c,a)=0.3846 < tau
    assert out[2]["is_kept"] == 0 and out[2]["pruned_by"] == 1
    # d pruned by c (cos 0.9231) even though c is itself pruned —
    # dominance against ALL lower-id mates, not a transitive closure
    assert out[3]["is_kept"] == 0 and out[3]["pruned_by"] == 2

    # tau=0.7: b now pruned by a; d's minimum qualifying lower-id mate
    # becomes b (cos(d,b)=0.7071 >= tau) — min over qualifiers, not max
    monkeypatch.setattr(sim, "SEMDEDUP_TAU", 0.7)
    out2 = {r["vec_id"]: r for r in semdedup_prune(spark, d).collect()}
    assert out2[1]["is_kept"] == 0 and out2[1]["pruned_by"] == 0
    assert out2[2]["is_kept"] == 0 and out2[2]["pruned_by"] == 1
    assert out2[3]["is_kept"] == 0 and out2[3]["pruned_by"] == 1


def test_semdedup_prune_fixture_sanity(spark, sf_dir):
    """On the fixture corpus: every vector appears exactly once, kept
    vectors dominate (lowest id per near-dup set survives), pruned_by is
    always a lower id in the same cluster, and runs are deterministic."""
    from ocr_spark.operators.similarity import semdedup_prune

    rows = semdedup_prune(spark, sf_dir).collect()
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_emb
    cluster_of = {r["vec_id"]: r["cluster"] for r in rows}
    for r in rows:
        if r["is_kept"] == 0:
            assert r["pruned_by"] is not None
            assert r["pruned_by"] < r["vec_id"]
            assert cluster_of[r["pruned_by"]] == r["cluster"]
        else:
            assert r["pruned_by"] is None
    assert rows == semdedup_prune(spark, sf_dir).collect()


def test_bitext_mining_hand_computed_margins(spark, tmp_path):
    """2-D fixture where every cosine, neighborhood sum, and margin is
    worked by hand: probe 0=(1,0), probe 2=(0,1); targets 1=(1,0),
    3=(0.6,0.8), 5=(-1,0).  cos table (x1e4): (0,1)=10000 (0,3)=6000
    (0,5)=-10000 (2,1)=0 (2,3)=8000 (2,5)=0.  With only 3 targets and
    2 probes, cx=3 and cy=2 everywhere:
      sx(0)=6000 sx(2)=8000; sy(1)=10000 sy(3)=14000 sy(5)=-10000.
      margin(0,1)=5*10000/16000=3.125 -> 3_125_000_000 (best for 0)
      margin(2,3)=5*8000/22000 -> 1_818_181_818 (best for 2; (2,1) and
      (2,5) are cos<=0, excluded)."""
    from ocr_spark.operators.similarity import bitext_mining

    d = str(tmp_path)
    vecs = {
        0: [1.0, 0.0],
        2: [0.0, 1.0],
        1: [1.0, 0.0],
        3: [0.6, 0.8],
        5: [-1.0, 0.0],
    }
    spark.createDataFrame(
        [(k, v, 0) for k, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    rows = {r["src_id"]: r for r in bitext_mining(spark, d).collect()}
    assert set(rows) == {0, 2}
    assert rows[0]["tgt_id"] == 1 and rows[0]["cos_x1e4"] == 10000
    assert rows[0]["margin_ppb"] == 3_125_000_000
    assert rows[2]["tgt_id"] == 3 and rows[2]["cos_x1e4"] == 8000
    assert rows[2]["margin_ppb"] == 1_818_181_818


def test_dedup_sketch_eval_invariants_and_perfect_case(spark, tmp_path):
    """Identical docs MUST collide in every band (signatures equal), so
    with truth = exact J>=0.5 pairs the report shows perfect recall;
    counts obey hits <= min(truth, candidates) and hits equals the
    verified-pair count by construction."""
    from ocr_spark.operators.dedup import (
        dedup_sketch_eval,
        lsh_candidates,
    )

    d = str(tmp_path)
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s", 30),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s", 30),  # dup of 0
        (2, "one two three four five six seven", "en", "s", 30),
        (3, "totally different words entirely here now", "en", "s", 30),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = dedup_sketch_eval(spark, d).collect()[0]
    assert r["n_truth"] == 1  # only the identical pair reaches J>=0.5
    assert r["n_hits"] == 1 and r["recall_ppm"] == 1_000_000
    assert r["n_hits"] <= r["n_candidates"]
    assert r["n_hits"] == lsh_candidates(spark, d).count()
    assert 0 < r["precision_ppm"] <= 1_000_000


def test_knn_label_propagation_spreads_seed_labels(spark, tmp_path):
    """18-vector fixture: anchors 0..15 are their own IVF lists; vec 16
    lands in seed-0's list and inherits its label, vec 17 in seed-3's
    list; unlabeled singleton anchors stay null; seeds never change."""
    from ocr_spark.operators.similarity import knn_label_propagation

    d = str(tmp_path)
    vecs = {}
    for j in range(16):
        vecs[j] = [-10.0 - j, -10.0]  # far-apart singleton anchors
    vecs[0] = [1.0, 0.0]
    vecs[3] = [0.0, 1.0]
    vecs[16] = [0.9, 0.1]  # nearest anchor: 0 (a seed, 0 % 3 == 0)
    vecs[17] = [0.1, 0.9]  # nearest anchor: 3 (a seed)
    spark.createDataFrame(
        [(k, v, 100 + k) for k, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    rows = {
        r["vec_id"]: r for r in knn_label_propagation(spark, d).collect()
    }
    assert len(rows) == 18
    # seeds keep their gold labels
    for s in (0, 3, 6, 9, 12, 15):
        assert rows[s]["is_seed"] and rows[s]["label"] == 100 + s
    # propagation along the shared IVF lists
    assert not rows[16]["is_seed"] and rows[16]["label"] == 100
    assert not rows[17]["is_seed"] and rows[17]["label"] == 103
    # unlabeled singleton anchors have no labeled neighbors -> null
    assert rows[1]["label"] is None and rows[2]["label"] is None


def test_split_leakage_audit_counts_cross_split_pairs(spark, tmp_path):
    """Five identical-text pairs; split membership replayed from the
    multiplicative-hash rank; leaked counts must match the replay."""
    from ocr_spark.operators.dedup import split_leakage_audit
    from ocr_spark.operators.relational import KMV_HASH_A, KMV_HASH_M
    from ocr_spark.operators.text_analysis import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )

    d = str(tmp_path)
    texts = [
        " ".join(f"w{i // 2}x{j}" for j in range(6)) for i in range(10)
    ]  # identical within a pair, zero shared shingles across pairs
    rows = [(i, texts[i], "en", "s0", len(texts[i])) for i in range(10)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    n = 10
    order = sorted(range(n), key=lambda i: ((i * KMV_HASH_A) % KMV_HASH_M, i))
    split = {}
    for rk, i in enumerate(order, start=1):
        if rk <= n * SPLIT_TRAIN_PCT // 100:
            split[i] = "train"
        elif rk <= n * (SPLIT_TRAIN_PCT + SPLIT_VAL_PCT) // 100:
            split[i] = "val"
        else:
            split[i] = "test"
    expect = {}
    for a in range(0, 10, 2):
        key = tuple(sorted((split[a], split[a + 1])))
        expect[key] = expect.get(key, 0) + 1

    got = {
        (r["split_lo"], r["split_hi"]): r
    for r in split_leakage_audit(spark, d).collect()}
    assert {k: r["n_pairs"] for k, r in got.items()} == expect
    for (lo, hi), r in got.items():
        assert r["leaked"] == (lo != hi)
        assert r["share_ppm"] == r["n_pairs"] * 1_000_000 // 5


def test_hard_negative_mining_excludes_near_dups(spark, tmp_path):
    """Crafted cluster sharing one IVF list: vec 21 is a near-duplicate
    of vec 20 (cos ~1) and tops its raw kNN list, but must NOT appear
    among 20's mined negatives; the mutually-orthogonal cluster mates
    (cos ~0 < the 0.4 dup threshold) survive as the hard negatives."""
    import numpy as np

    from ocr_spark.operators.similarity import (
        HARD_NEG_K,
        hard_negative_mining,
        knn_graph,
    )

    dim, n = 64, 24
    vecs = np.zeros((n, dim), dtype=np.float32)
    # anchors 1..15: far-away unit basis directions
    for i in range(1, 16):
        vecs[i, 32 + i] = 1.0
    # anchor 0: tiny uniform vector — the cluster's nearest anchor
    vecs[0, :] = 0.01
    # members 16..23: small mutually-orthogonal vectors near anchor 0
    for j in range(16, 24):
        vecs[j, j - 16] = 0.05
    # make 21 a near-duplicate of 20 (cos ~0.9998, same direction)
    vecs[21, :] = vecs[20, :]
    vecs[21, 10] = 0.001

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    knn = {(r["src"], r["rank"]): r["dst"]
           for r in knn_graph(spark, d).collect()}
    assert knn[(20, 1)] == 21  # raw similarity ranks the dup first
    assert knn[(21, 1)] == 20

    negs = {}
    for r in hard_negative_mining(spark, d).collect():
        negs.setdefault(r["src"], []).append(r["dst"])
    # the near-dup pair is excluded in BOTH directions
    assert 21 not in negs.get(20, [])
    assert 20 not in negs.get(21, [])
    # both anchors still mine a full negative set from the cluster
    assert len(negs[20]) == HARD_NEG_K
    assert len(negs[21]) == HARD_NEG_K
    assert all(x in range(16, 24) or x == 0 for x in negs[20])


def test_winnowing_near_dup_python_replay_and_guarantee(spark, tmp_path):
    """The Spark winnowing output must equal a from-scratch hashlib
    replay of Schleimer et al.'s algorithm, and the published
    guarantee must hold: docs sharing a substring of length
    >= K + W - 1 share at least one fingerprint, disjoint docs none."""
    import hashlib

    from ocr_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_MIN_SHARED,
        WINNOW_W,
        winnowing_near_dup,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    t0 = "PREFIX0 " + shared + " SUFFIX0 alpha beta gamma delta epsilon"
    t1 = "other1 " + shared + " trailer1 zeta eta theta iota kappa xyz"
    t2 = " ".join(f"unique{i}word" for i in range(20))  # no shared 16-gram
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, t0, "en", "s", len(t0)), (1, t1, "en", "s", len(t1)),
         (2, t2, "en", "s", len(t2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def fps(text):
        s = text.replace(" ", "")
        hs = [
            int(hashlib.md5(s[i : i + WINNOW_K].encode()).hexdigest()[:8], 16)
            for i in range(len(s) - WINNOW_K + 1)
        ]
        wl = min(WINNOW_W, len(hs))
        return {min(hs[j : j + wl]) for j in range(len(hs) - wl + 1)}

    f0, f1, f2 = fps(t0), fps(t1), fps(t2)
    exp_shared = len(f0 & f1)
    # guarantee: shared substring len 52 >= K+W-1=23 -> >= 1 shared print
    assert exp_shared >= WINNOW_MIN_SHARED
    assert not (f0 & f2) and not (f1 & f2)

    rows = {(r["doc_a"], r["doc_b"]): r
            for r in winnowing_near_dup(spark, d).collect()}
    assert set(rows) == {(0, 1)}
    r = rows[(0, 1)]
    assert r["shared_fps"] == exp_shared
    assert r["fp_a"] == len(f0) and r["fp_b"] == len(f1)
    m = min(len(f0), len(f1))
    assert r["containment_ppm"] == (2 * exp_shared * 10**6 + m) // (2 * m)


def test_jl_projection_matches_python_reference(spark, sf_dir):
    """The engine's JL projection equals an independent driver-side
    recomputation (same parity-hash sign matrix, same _sql_round
    micro encode, pure integer dot), and the map is linear: the
    projection of v is reproducible from its components alone."""
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import (
        JL_HASH_A,
        JL_HASH_B,
        JL_HASH_P,
        JL_OUT_DIM,
        _sql_round,
        jl_projection,
    )

    def sign(i: int, j: int) -> int:
        return 1 - 2 * (
            ((JL_HASH_A * (i * JL_OUT_DIM + j) + JL_HASH_B) % JL_HASH_P) % 2
        )

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    expect = {}
    for vid, emb in zip(
        t["vec_id"].to_pylist(), t["embedding"].to_pylist()
    ):
        m = [_sql_round(float(x) * 1_000_000) for x in emb]
        expect[vid] = [
            sum(x * sign(i, j) for i, x in enumerate(m))
            for j in range(JL_OUT_DIM)
        ]
    rows = jl_projection(spark, sf_dir).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert list(r["proj"]) == expect[r["vec_id"]], r["vec_id"]
    # the sign matrix is not degenerate: both signs occur in every
    # output coordinate's row of the matrix
    dim = len(t["embedding"][0])
    for j in range(JL_OUT_DIM):
        s = {sign(i, j) for i in range(dim)}
        assert s == {-1, 1}


def test_soft_dedup_weights_cluster_mass(spark, tmp_path):
    """Singletons keep full weight (1.0 in ppm); a 3-clique of exact
    duplicates splits its sampling mass three ways (round(1e6/3));
    weighted_tokens is the exact integer product."""
    from ocr_spark.operators.dedup import soft_dedup_weights

    dup = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"zzz{i}" for i in range(25))
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, dup, "en", "s", len(dup)),
            (1, dup, "en", "s", len(dup)),
            (2, dup, "en", "s", len(dup)),
            (3, other, "en", "s", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r for r in soft_dedup_weights(spark, d).collect()}
    assert rows[3]["weight_ppm"] == 1_000_000
    assert rows[3]["cluster_size"] == 1
    for i in range(3):
        assert rows[i]["cluster_id"] == 0
        assert rows[i]["cluster_size"] == 3
        assert rows[i]["weight_ppm"] == 333_333  # round(1e6/3) half-away
        assert rows[i]["weighted_tokens"] == rows[i]["n_tokens"] * 333_333


def test_group_kfold_never_splits_a_cluster(spark, tmp_path):
    """GroupKFold invariant: a near-dup cluster maps to exactly ONE
    fold (no train/eval leakage through near-copies), folds in [0, K)."""
    from ocr_spark.operators.dedup import KFOLD_K, group_kfold_split

    dup_a = " ".join(f"alpha{i}" for i in range(30))
    dup_b = " ".join(f"beta{i}" for i in range(30))
    d = str(tmp_path)
    rows_in = [(i, dup_a, "en", "s", 10) for i in range(3)]
    rows_in += [(10 + i, dup_b, "en", "s", 10) for i in range(2)]
    rows_in += [(20, "solo words only here entirely", "en", "s", 10)]
    spark.createDataFrame(
        rows_in,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = group_kfold_split(spark, d).collect()
    assert all(0 <= r["fold"] < KFOLD_K for r in out)
    folds_by_cluster: dict[int, set[int]] = {}
    for r in out:
        folds_by_cluster.setdefault(r["cluster_id"], set()).add(r["fold"])
    assert all(len(v) == 1 for v in folds_by_cluster.values())
    # the two dup groups really did cluster
    sizes = {r["doc_id"]: r["cluster_size"] for r in out}
    assert sizes[0] == 3 and sizes[10] == 2 and sizes[20] == 1


def test_cross_source_dup_matrix_cells(spark, tmp_path):
    """3 copies in source A + 2 in source B of the same text, plus a
    distinct C doc: diagonal (A,A)=3 of 3 possible, cross (A,B)=6 of 6,
    (B,B)=1 of 1 — all at rate 1.0 ppm-scale; C never appears."""
    from ocr_spark.operators.dedup import cross_source_dup_matrix

    dup = " ".join(f"tok{i}" for i in range(30))
    d = str(tmp_path)
    rows = [(i, dup, "en", "A", 10) for i in range(3)]
    rows += [(10 + i, dup, "en", "B", 10) for i in range(2)]
    rows += [(20, "unrelated words entirely different here", "en", "C", 10)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_dup_matrix(spark, d).collect()
    }
    assert set(got) == {("A", "A"), ("A", "B"), ("B", "B")}
    assert got[("A", "A")]["pair_count"] == 3
    assert got[("A", "A")]["possible_pairs"] == 3
    assert got[("A", "B")]["pair_count"] == 6
    assert got[("A", "B")]["possible_pairs"] == 6
    assert got[("B", "B")]["pair_count"] == 1
    assert all(r["rate_ppm"] == 1_000_000 for r in got.values())


def test_dedup_threshold_sweep_monotone_and_exact_pair(spark, tmp_path):
    """One exact-dup pair (J=1.0) plus a partial-overlap pair: counts
    are non-increasing in tau, the exact pair survives every cutoff,
    and the t=0.2 count equals the full all-pairs set."""
    from ocr_spark.operators.dedup import (
        dedup_threshold_sweep,
        ngram_jaccard_all_pairs,
    )

    dup = " ".join(f"tok{i}" for i in range(30))
    half = " ".join(f"tok{i}" for i in range(15)) + " " + " ".join(
        f"new{i}" for i in range(15)
    )
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, dup, "en", "s", 10),
            (1, dup, "en", "s", 10),
            (2, half, "en", "s", 10),
            (3, "entirely different words again here today", "en", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["tau_tenths"]: r["n_pairs"]
            for r in dedup_threshold_sweep(spark, d).collect()}
    assert sorted(rows) == list(range(2, 10))
    vals = [rows[t] for t in range(2, 10)]
    assert vals == sorted(vals, reverse=True)
    assert rows[9] >= 1  # the exact pair survives tau=0.9
    assert rows[2] == ngram_jaccard_all_pairs(spark, d).count()
    assert rows[2] > rows[9]  # the partial pair fell out somewhere


def test_entity_resolution_matches_union_find(spark, sf_dir):
    """Entity labels equal an independent union-find over the published
    fuzzy-match pairs; canonical = component minimum; sizes consistent."""
    from collections import Counter

    from ocr_spark.operators.dedup import (
        entity_resolution_clusters,
        fuzzy_name_match,
    )

    pairs = [
        (r["src_partkey"], r["match_partkey"])
        for r in fuzzy_name_match(spark, sf_dir).collect()
        if r["src_partkey"] != r["match_partkey"]
    ]
    out = entity_resolution_clusters(spark, sf_dir).collect()
    keys = [r["p_partkey"] for r in out]
    parent = {k: k for k in keys}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {k: find(k) for k in keys}
    sizes = Counter(expect.values())
    for r in out:
        assert r["entity_id"] == expect[r["p_partkey"]]
        assert r["entity_size"] == sizes[r["entity_id"]]
        assert r["is_canonical"] == int(r["p_partkey"] == r["entity_id"])
    assert any(s > 1 for s in sizes.values())  # real merges happened


def test_dedup_cascade_funnel_stage_semantics(spark, tmp_path):
    """Crafted corpus: 60 docs.  URL residues collide every 60 ids so
    stage 1 keeps one per (host,path,query-class) group; two exact
    copies among url-survivors collapse at stage 2; a near-identical
    (not byte-equal) pair collapses at stage 3.  Counts telescope."""
    from ocr_spark.operators.dedup import dedup_cascade_funnel

    base = " ".join(f"tok{i}" for i in range(40))
    near = base + " extra"
    d = str(tmp_path)
    rows = []
    for i in range(60):
        # make docs 0 and 1 url-distinct but text-identical; 2 is a
        # near-dup of them; others unique
        if i in (0, 1):
            text = base
        elif i == 2:
            text = near
        else:
            text = " ".join(f"w{i}_{j}" for j in range(40))
        rows.append((i, text, "en", "s", 10))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    f = {r["stage"]: r for r in dedup_cascade_funnel(spark, d).collect()}
    assert list(sorted(f)) == ["0_total", "1_url", "2_exact", "3_near_dup"]
    assert f["0_total"]["n_docs"] == 60
    # telescoping: removed sums to total - final
    removed = sum(r["removed"] for r in f.values())
    assert removed == 60 - f["3_near_dup"]["n_docs"]
    # each stage is monotone non-increasing
    assert (f["0_total"]["n_docs"] >= f["1_url"]["n_docs"]
            >= f["2_exact"]["n_docs"] >= f["3_near_dup"]["n_docs"])
    # stage 2 or 3 actually removed the crafted dup/near-dup (if their
    # url survivors kept both copies)
    assert f["2_exact"]["removed"] + f["3_near_dup"]["removed"] >= 1


def test_dedup_span_excision_islands(spark, tmp_path):
    """Two docs share a long passage and a second disjoint one: the
    windows merge into the right islands, excised+kept == n_chars, and
    a doc with no shared content excises nothing."""
    from ocr_spark.operators.dedup import (
        SUBSTR_W,
        dedup_span_excision,
    )

    shared1 = "A" * 40 + "B" * 25
    shared2 = "C" * 50
    mid = "".join(chr(ord("d") + (i % 20)) + str(i % 7) for i in range(40))
    doc0 = shared1 + mid + shared2
    doc1 = shared1 + "xyz" + shared2
    solo = "".join(chr(ord("p") + (i % 9)) + str(i % 5) for i in range(60))
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, doc0, "en", "s", len(doc0)),
            (1, doc1, "en", "s", len(doc1)),
            (2, solo, "en", "s", len(solo)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r for r in dedup_span_excision(spark, d).collect()}
    assert rows[2]["excised_chars"] == 0 and rows[2]["n_islands"] == 0
    assert rows[2]["kept_chars"] == rows[2]["n_chars"]
    for i in (0, 1):
        r = rows[i]
        assert r["excised_chars"] + r["kept_chars"] == r["n_chars"]
        assert r["n_islands"] >= 1
        assert r["excised_chars"] >= SUBSTR_W  # at least one window cut


# ---------------------------------------------------------------------------
# Suffix-array substring dedup (prefix doubling)
# ---------------------------------------------------------------------------


def test_suffix_array_ranks_vs_bruteforce(spark):
    """Prefix-doubling ranks == brute-force suffix sort on crafted docs
    with heavy internal repetition (the case doubling must separate
    late) and a full-prefix tail ('banana' suffixes)."""
    from ocr_spark.operators.dedup import suffix_array_ranks_df

    docs = [(1, "banana"), (2, "abababab"), (3, "banana"), (4, "a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["sa_rank"], r["doc_id"], r["pos"])
        for r in suffix_array_ranks_df(df).collect()
    ]
    suffixes = sorted(
        (t[p - 1 :], d, p)
        for d, t in docs
        for p in range(1, len(t) + 1)
    )
    want = [
        (i + 1, d, p) for i, (_, d, p) in enumerate(suffixes)
    ]
    assert got == want


def test_exact_substring_spans_below_windowed_floor(spark):
    """The case the windowed-hash version PROVABLY misses: a 30-char
    cross-doc shared phrase is below the w + stride - 1 = 49 floor
    (and below w = 40, so no aligned window can even contain it), but
    above EXACT_SUBSTR_L = 24 — the suffix-rank op must recover the
    exact [start, start+30) span in both docs."""
    from ocr_spark.operators.dedup import (
        duplicate_substring_spans_df,
        exact_substring_spans_df,
    )

    phrase = "SHARED+PHRASE+0123456789+SHARE"  # 30 chars
    assert len(phrase) == 30
    # disjoint filler alphabets => the ONLY cross-doc repeats live
    # fully inside the shared phrase
    fill_a = "".join(
        chr(ord("A") + (i * 7) % 26) for i in range(60)
    ).lower()
    fill_b = "".join(chr(ord("0") + (i * 3) % 10) for i in range(60))
    doc_a = fill_a + phrase.replace("+", "x") + fill_a[::-1]
    doc_b = fill_b + phrase.replace("+", "x") + fill_b[::-1]
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )

    exact = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in exact_substring_spans_df(docs).collect()
    }
    assert exact == {1: (1, 30), 2: (1, 30)}, exact

    windowed = {
        r["doc_id"]: r["n_dup_windows"]
        for r in duplicate_substring_spans_df(docs).collect()
    }
    assert windowed == {1: 0, 2: 0}, windowed


def test_exact_substring_spans_merges_long_overlap(spark):
    """A shared substring of length M >= L must come back as ONE merged
    span of exactly M chars (union of L-windows), not window-sized
    fragments; same-doc-only repeats must NOT mark anything."""
    from ocr_spark.operators.dedup import exact_substring_spans_df

    shared = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGH"  # 44 chars
    doc_a = "QQQQWWWWEEEERRRRTTTTYYYY" + shared + "UUUUIIIIOOOOPPPP"
    doc_b = "ZZZZXXXXCCCCVVVVBBBBNNNN" + shared + "MMMMKKKKJJJJHHHH"
    # doc 3: internal 30-char repetition but nothing cross-doc
    doc_c = "<" * 40 + ">" * 40
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in exact_substring_spans_df(docs).collect()
    }
    assert got == {1: (1, 44), 2: (1, 44), 3: (0, 0)}, got


def test_suffix_array_tie_pack_bound_raises(spark):
    """The (doc_id, pos) tie-break is packed as doc_id * 2^21 + pos, so a
    document of 2^21 chars must be refused rather than collide."""
    from ocr_spark.operators.dedup import suffix_array_ranks_df

    long_doc = spark.createDataFrame(
        [(1, "a" * (1 << 21))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="2\\^21"):
        suffix_array_ranks_df(long_doc)


def test_exact_substring_spans_empty_and_short(spark):
    """Repo-wide empty-input invariant + docs shorter than L."""
    from ocr_spark.operators.dedup import exact_substring_spans_df
    from ocr_spark.operators.dedup import suffix_array_ranks_df

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_substring_spans_df(empty).count() == 0
    assert suffix_array_ranks_df(empty).count() == 0
    short = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in exact_substring_spans_df(short).collect()
    }
    assert got == {1: (0, 0), 2: (0, 0)}


def test_exact_substring_excision_rebuild(spark):
    """The rebuilt text must be the exact gap concatenation — including
    span-at-start / span-at-end docs (empty head/tail segments) — and
    untouched docs pass through verbatim."""
    from ocr_spark.operators.dedup import exact_substring_excision_df

    shared = "0123456789abcdefghijklmnopq"  # 27 chars >= L
    docs = spark.createDataFrame(
        [
            (1, "AAAA" + shared + "BBBB"),
            (2, shared + "DDDD"),       # span at doc start
            (3, "EEEE" + shared),       # span at doc end
            (4, "untouched-no-dups-here!!"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_cuts"], r["cut_chars"])
        for r in exact_substring_excision_df(docs).collect()
    }
    assert got == {
        1: ("AAAABBBB", 1, 27),
        2: ("DDDD", 1, 27),
        3: ("EEEE", 1, 27),
        4: ("untouched-no-dups-here!!", 0, 0),
    }, got
