"""Crafted edge-case semantics for the round-3 relational breadth
operators (Q3/Q4/Q22 shapes, binned interval join, WoW lag, SymSpell
fuzzy match, overlapping chunking).  The DuckDB oracle pins full-table
values at sf0.01; these pin the boundary rules a random corpus might
never exercise.
"""

from __future__ import annotations

import datetime as dt

import pytest


def _write(spark, d, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{d}/{name}.parquet"
    )


def test_late_order_boundary_and_multiplicity(spark, tmp_path):
    """An order counts once no matter how many late lineitems it has;
    shipdate exactly AT the +20-day boundary is NOT late (strict >)."""
    from ocr_spark.operators.relational import late_order_priority

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    _write(
        spark, d, "orders",
        [
            (1, 10, "O", 1.0, base, "1-URGENT"),   # 3 late items -> 1 count
            (2, 11, "O", 1.0, base, "1-URGENT"),   # boundary item: not late
            (3, 12, "O", 1.0, base, "2-HIGH"),     # on-time only
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    _write(
        spark, d, "lineitem",
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=21)),
            (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=22)),
            (1, 1, 1, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=23)),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=20)),
            (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base + dt.timedelta(days=5)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    got = {
        r["o_orderpriority"]: r["n_late_orders"]
        for r in late_order_priority(spark, d).collect()
    }
    assert got == {"1-URGENT": 1}


def test_idle_rich_threshold_is_strict_and_integer(spark, tmp_path):
    """The cut is floor(mean cents) with a STRICT >: a customer exactly
    at the threshold is excluded; negative balances don't feed the
    mean but can't pass the cut either."""
    from ocr_spark.operators.relational import idle_rich_customers

    d = str(tmp_path)
    _write(
        spark, d, "customer",
        [
            (1, "a", 0, 10.00, "BUILDING"),   # feeds mean
            (2, "b", 0, 20.00, "BUILDING"),   # feeds mean; above thr
            (3, "c", 1, 15.00, "BUILDING"),   # exactly thr (1500): excluded
            (4, "d", 1, -5.00, "BUILDING"),   # negative: excluded everywhere
            (5, "e", 2, 19.99, "BUILDING"),   # above thr, but has recent order
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    _write(
        spark, d, "orders",
        [
            (100, 5, "O", 1.0, dt.datetime(2001, 5, 1), "1-URGENT"),
            (101, 2, "O", 1.0, dt.datetime(1995, 5, 1), "1-URGENT"),  # old: ok
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    rows = idle_rich_customers(spark, d).collect()
    got = {r["c_nationkey"]: (r["n_custs"], r["bal_cents"]) for r in rows}
    # mean cents = (1000+2000+1500+1999)/4 = 1624 (floor); > 1624 passes:
    # cust 2 (2000, old order only) and cust 5 (1999, recent order -> out)
    assert got == {0: (1, 2000)}


def test_interval_demand_window_boundaries(spark, tmp_path):
    """Day-binned interval join: ship days at offset -1 and +7 are out,
    0 and +6 are in; quantities sum as integer units."""
    from ocr_spark.operators.relational import interval_ship_demand

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 10)
    _write(
        spark, d, "orders",
        [(1, 1, "O", 1.0, base, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = []
    for i, days in enumerate([-1, 0, 3, 6, 7]):
        li.append(
            (10 + i, 1, 1, 1, 2.0, 1.0, 0.0, 0.0, "N", "O",
             base + dt.timedelta(days=days))
        )
    _write(
        spark, d, "lineitem", li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    rows = interval_ship_demand(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["shipped_nearby"] == 3       # offsets 0, 3, 6
    assert rows[0]["qty_nearby"] == 6           # 3 items x 2 units


def test_revenue_wow_first_week_null_and_delta(spark, tmp_path):
    from ocr_spark.operators.relational import revenue_wow_change

    d = str(tmp_path)
    # two ISO weeks: 2024-01-01 (Mon) and 2024-01-08 (Mon)
    _write(
        spark, d, "orders",
        [
            (1, 1, "O", 10.00, dt.datetime(2024, 1, 2), "1-URGENT"),
            (2, 1, "O", 20.00, dt.datetime(2024, 1, 7), "1-URGENT"),
            (3, 1, "O", 25.50, dt.datetime(2024, 1, 8), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    rows = revenue_wow_change(spark, d).collect()
    assert [r["rev_cents"] for r in rows] == [3000, 2550]
    assert rows[0]["prev_cents"] is None
    assert rows[0]["wow_delta_cents"] is None
    assert rows[1]["wow_delta_cents"] == -450


def test_fuzzy_match_finds_all_distance1_canonicals(spark, tmp_path):
    """A corrupted name must match EVERY canonical name at edit distance
    1 (not just its own source), and nothing at distance 0 or 2."""
    from ocr_spark.operators.dedup import fuzzy_name_match

    d = str(tmp_path)
    _write(
        spark, d, "part",
        [
            # key 1 -> delete pos 1%4=1: "abcd" -> "acd"
            (1, "abcd", "B", "T", 1, 1.0),
            # "aacd" is ALSO distance 1 from "acd" (delete the extra a)
            (2, "aacd", "B", "T", 1, 1.0),
            # unrelated name, its own noisy variant only matches itself
            (3, "xyz", "B", "T", 1, 1.0),
            # distance 2 from "acd": must NOT match noisy of part 1
            (4, "azzd", "B", "T", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    pairs = {
        (r["src_partkey"], r["match_partkey"])
        for r in fuzzy_name_match(spark, d).collect()
    }
    assert (1, 1) in pairs and (1, 2) in pairs
    assert (3, 3) in pairs
    assert (1, 4) not in pairs
    # noisy("aacd", pos 2%4=2) = "aad": matches only "aacd" itself
    assert (2, 2) in pairs and (2, 1) not in pairs


def test_doc_chunks_overlap_and_cover(spark, tmp_path):
    """Chunk algebra: stride-192/size-256 chunks overlap by exactly 64
    chars, jointly cover the document, and an empty doc emits one empty
    chunk (1:1 row accounting)."""
    from ocr_spark.operators.text_analysis import doc_chunk_overlap

    d = str(tmp_path)
    text = "".join(chr(ord("a") + (i % 26)) for i in range(300))
    _write(
        spark, d, "documents",
        [(1, text, "en", "s", 300), (2, "", "en", "s", 0),
         (3, "short", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sorted(
        doc_chunk_overlap(spark, d).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c0, c1 = by_doc[1]
    assert (c0["offset"], c0["chunk_len"]) == (0, 256)
    assert (c1["offset"], c1["chunk_len"]) == (192, 108)
    assert c0["chunk"][192:] == c1["chunk"][:64]          # overlap region
    assert c0["chunk"] + c1["chunk"][64:] == text          # full coverage
    assert [(r["chunk_len"],) for r in by_doc[2]] == [(0,)]
    assert [(r["chunk"],) for r in by_doc[3]] == [("short",)]


def test_kmv_estimate_accuracy_and_merge_rule(spark, tmp_path):
    """KMV estimator quality: on 5000 distinct synthetic users the
    estimate lands within 20% of truth (k=64 -> ~12.5% expected rel.
    error), and a group with fewer than k distinct users reports the
    EXACT count (the small-range rule)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.relational import KMV_K, kmv_distinct_users

    d = str(tmp_path)
    big = spark.range(20000).select(
        F.col("id").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        (F.col("id") % 5000).alias("user_id"),   # 5000 distinct
        F.lit("big").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    small = spark.range(300).select(
        (F.col("id") + 10**6).alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        (F.col("id") % 17).alias("user_id"),     # 17 distinct: under k=64
        F.lit("small").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    big.unionByName(small).write.parquet(f"{d}/events.parquet")
    rows = {r["event_type"]: r for r in kmv_distinct_users(spark, d).collect()}
    big_r = rows["big"]
    assert big_r["true_distinct"] == 5000
    assert abs(big_r["kmv_estimate"] - 5000) / 5000 < 0.20
    small_r = rows["small"]
    assert small_r["n_seen"] == 17 < KMV_K
    assert small_r["kmv_estimate"] == 17.0 == small_r["true_distinct"]


def test_hash_sample_consistent_and_unbiased(spark, tmp_path):
    """Hash sampling invariants: the sampled id set is a pure function
    of the key (two runs agree), the rate is near 10% on 5000 docs, and
    every returned hash is under the threshold."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.text_analysis import (
        SAMPLE_HASH_M,
        SAMPLE_RATE_PCT,
        hash_sample,
    )

    d = str(tmp_path)
    spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s").alias("source"),
        F.lit(1).alias("n_chars"),
    ).write.parquet(f"{d}/documents.parquet")
    ids1 = sorted(r["doc_id"] for r in hash_sample(spark, d).collect())
    ids2 = sorted(r["doc_id"] for r in hash_sample(spark, d).collect())
    assert ids1 == ids2
    rate = len(ids1) / 5000
    assert 0.07 < rate < 0.13, rate
    thr = SAMPLE_HASH_M * SAMPLE_RATE_PCT // 100
    assert all(r["h"] < thr for r in hash_sample(spark, d).collect())


def test_cms_one_sided_error_and_min_rule(spark):
    """Count-min contract: every estimate is >= the true count (errors
    are ONE-sided), and taking the min over the 4 depth rows keeps the
    average overestimate well under a single row's expected collision
    mass (N/width)."""
    from ocr_spark.operators.relational import CMS_WIDTH, cms_user_frequency

    rows = cms_user_frequency(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_total = sum(r["true_events"] for r in rows)
    excesses = []
    for r in rows:
        assert r["cms_estimate"] >= r["true_events"], r
        excesses.append(r["cms_estimate"] - r["true_events"])
    assert sum(excesses) / len(excesses) <= 2 * n_total / CMS_WIDTH


def test_bloom_no_false_negatives_bounded_fp(spark):
    """Bloom contract on the sf0.001 tables: every true match passes the
    filter (zero false negatives — the property that makes bloom pruning
    SAFE as a join pre-filter), and the false-positive rate stays under
    a loose 5x of the (k=4, m=4096, n<=dim-size) design point."""
    from ocr_spark.operators.relational import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_semi_prune,
    )

    rows = bloom_semi_prune(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_dim = sum(1 for r in rows if r["true_match"] == 1)
    for r in rows:
        if r["true_match"] == 1:
            assert r["bloom_pass"] == 1, r      # never a false negative
    negatives = [r for r in rows if r["true_match"] == 0]
    fps = sum(1 for r in negatives if r["bloom_pass"] == 1)
    # design-point FP rate: (1 - e^(-k n / m))^k
    import math

    expect = (1 - math.exp(-BLOOM_K * max(n_dim, 1) / BLOOM_BITS)) ** BLOOM_K
    assert fps <= max(5, 5 * expect * len(negatives)), (fps, expect)


def test_global_rank_contiguous_and_order_correct(spark):
    """global_rank_two_pass must emit exactly 1..N with no gap or tie,
    and agree with the single-window reference rank on the same hash
    order (the thing the bucket decomposition must not change)."""
    from ocr_spark.operators.relational import (
        KMV_HASH_A,
        KMV_HASH_M,
        global_rank_two_pass,
    )

    rows = global_rank_two_pass(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    ranks = sorted(r["global_rank"] for r in rows)
    assert ranks == list(range(1, n + 1))
    by_hash = sorted(rows, key=lambda r: (r["o_orderkey"] * KMV_HASH_A) % KMV_HASH_M)
    assert [r["global_rank"] for r in by_hash] == list(range(1, n + 1))


def test_shard_pack_balanced_contiguous_offsets(spark):
    """Shard packing contract: positions are contiguous 1..n_shard per
    shard, byte offsets are the exact prefix sums of n_chars in pack
    order, and no shard exceeds 2x the mean (hash uniformity)."""
    import duckdb

    from ocr_spark.operators.text_analysis import (
        N_SHARDS,
        shard_pack_manifest,
    )

    sf = "/root/testdata/sf0.001"
    rows = shard_pack_manifest(spark, sf).collect()
    chars = dict(
        duckdb.sql(
            f"select doc_id, n_chars from '{sf}/documents.parquet'"
        ).fetchall()
    )
    shards = {}
    for r in rows:
        shards.setdefault(r["shard"], []).append(r)
    assert set(shards) == set(range(N_SHARDS))
    mean = len(rows) / N_SHARDS
    for sid, members in shards.items():
        members.sort(key=lambda r: r["pos"])
        assert [m["pos"] for m in members] == list(range(1, len(members) + 1))
        running = 0
        for m in members:
            assert m["byte_offset"] == running, (sid, m)
            running += chars[m["doc_id"]]
        assert len(members) <= 2 * mean, (sid, len(members), mean)


def test_exact_quantile_ties_and_skewed_bucket(spark, tmp_path):
    """Histogram refinement must return the exact order statistic even
    when the distribution is massively skewed into one bucket and the
    quantile value is tied across many rows."""
    import datetime as dt

    from ocr_spark.operators.relational import exact_quantile_refine

    d = str(tmp_path)
    ts = dt.datetime(2024, 1, 1)
    # 97 rows of 10.00, one 0.01, one 5000.00, one 10.01 -> p25/p50 are
    # inside the tie plateau, p75 too; min/max force a wide grid where
    # almost everything lands in a single bucket.
    prices = [10.00] * 97 + [0.01, 5000.00, 10.01]
    rows = [(i, i, "O", p, ts, "1-URGENT") for i, p in enumerate(prices)]
    _write(
        spark, d, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    got = {
        r["quantile"]: r["value_cents"]
        for r in exact_quantile_refine(spark, d).collect()
    }
    cents = sorted(int(round(p * 100)) for p in prices)
    n = len(cents)
    expect = {
        q: cents[max(1, -(-(pct * n) // 100)) - 1]
        for q, pct in [("p25", 25), ("p50", 50), ("p75", 75)]
    }
    assert got == expect, (got, expect)


def test_ewma_short_history_and_weights(spark, tmp_path):
    """EWMA contract on a crafted user: fewer than 10 events means the
    missing lags contribute zero; weights are 2^(9-j) with j=0 at the
    latest event."""
    import datetime as dt

    from ocr_spark.operators.relational import ewma_user_value

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", v, "{}")
        for i, v in enumerate([1.00, 2.00, 4.00])
    ]
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = ewma_user_value(spark, d).collect()
    assert len(got) == 1
    # latest event 4.00 (j=0, w=512), 2.00 (j=1, w=256), 1.00 (j=2, w=128)
    assert got[0]["ewma_scaled"] == 400 * 512 + 200 * 256 + 100 * 128


def test_incremental_agg_merge_equals_recompute(spark, tmp_path):
    """Merge(state, delta) must equal the full recompute for a user
    only in state, only in delta, and straddling the cutoff (count adds,
    cents add, last_ts takes greatest across the cutoff)."""
    import datetime as dt

    from ocr_spark.operators.relational import (
        AGG_MERGE_CUTOFF,
        incremental_agg_merge,
    )

    cut = dt.datetime.fromisoformat(AGG_MERGE_CUTOFF)
    before = cut - dt.timedelta(days=3)
    after = cut + dt.timedelta(days=3)
    d = str(tmp_path)
    rows = [
        (1, before, 100, "a", 1.23, "{}"),          # state-only user
        (2, after, 200, "a", 2.00, "{}"),           # delta-only user
        (3, before, 300, "a", 5.55, "{}"),          # straddles
        (3, after, 300, "a", 0.45, "{}"),
        (4, cut, 400, "a", 9.99, "{}"),             # exactly AT cutoff -> delta
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r.user_id: (r.n_events, r.sum_cents, r.last_ts)
        for r in incremental_agg_merge(spark, d).collect()
    }
    assert got == {
        100: (1, 123, before),
        200: (1, 200, after),
        300: (2, 600, after),
        400: (1, 999, cut),
    }


def test_connected_components_labels_partition_invariants(spark):
    """Board-query invariants on the real fixture graph: labels must
    respect the group construction (edges never cross residue classes,
    so a component's nodes share node % CC_GROUPS), every cluster_id is
    the component minimum, and sizes sum to the node count."""
    from ocr_spark.operators.relational import (
        CC_GROUPS,
        connected_components_labels,
    )

    rows = connected_components_labels(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert len(by_cluster) >= CC_GROUPS
    for cid, members in by_cluster.items():
        assert min(m.node for m in members) == cid
        assert len({m.node % CC_GROUPS for m in members}) == 1
        assert all(m.cluster_size == len(members) for m in members)
    assert sum(len(m) for m in by_cluster.values()) == len(rows)


def test_two_hop_matches_bruteforce(spark):
    """Exact 2-hop counts vs a python BFS on the same fixture edges:
    excludes self and direct neighbors, counts distinct nodes only."""
    from ocr_spark.operators.relational import (
        _synth_grouped_edges,
        two_hop_neighbors,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges = {(r.a, r.b) for r in _synth_grouped_edges(spark, sf_dir).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for v in adj:
        two = set()
        for u in adj[v]:
            two |= adj[u]
        two -= adj[v]
        two.discard(v)
        if two:
            expected[v] = len(two)
    got = {
        r.node: r.n_two_hop
        for r in two_hop_neighbors(spark, sf_dir).collect()
    }
    assert got == expected and expected


def test_cohort_retention_crafted(spark, tmp_path):
    """Offset-0 row counts every cohort user once (multiple events in
    the first week collapse); later weeks count distinct returning
    users; retention is exact ppm."""
    import datetime as dt

    from ocr_spark.operators.relational import cohort_retention

    w0 = dt.datetime(2024, 1, 4)  # Thursday = epoch-week boundary day
    wk = dt.timedelta(days=7)
    rows = [
        # cohort A (week of w0): users 1, 2
        (1, w0, 1, "a", 1.0, "{}"),
        (2, w0 + dt.timedelta(days=1), 1, "a", 1.0, "{}"),  # same week dup
        (3, w0, 2, "a", 1.0, "{}"),
        (4, w0 + wk, 1, "a", 1.0, "{}"),          # only user 1 returns w+1
        (5, w0 + 2 * wk, 1, "a", 1.0, "{}"),
        (6, w0 + 2 * wk, 2, "a", 1.0, "{}"),      # both return w+2
        # cohort B (w0+1): user 3, never returns
        (7, w0 + wk, 3, "a", 1.0, "{}"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r.cohort_week, r.offset): (
            r.n_active, r.cohort_users, r.retention_ppm
        )
        for r in cohort_retention(spark, d).collect()
    }
    wA = ((w0 - dt.datetime(1970, 1, 1)).days) // 7
    assert got == {
        (wA, 0): (2, 2, 1_000_000),
        (wA, 1): (1, 2, 500_000),
        (wA, 2): (2, 2, 1_000_000),
        (wA + 1, 0): (1, 1, 1_000_000),
    }


def test_cdc_apply_merge_semantics(spark, tmp_path):
    """MERGE rules: last-writer-wins in the changelog, a trailing delete
    tombstones the key (even if base never had it), a delete followed by
    a later upsert resurrects it, untouched base keys survive."""
    import datetime as dt

    from ocr_spark.operators.relational import CDC_CUTOFF, cdc_apply

    cut = dt.datetime.fromisoformat(CDC_CUTOFF)
    b = cut - dt.timedelta(days=1)
    a1, a2 = cut + dt.timedelta(hours=1), cut + dt.timedelta(hours=2)
    # event_id % 10 == 0 -> delete
    rows = [
        (1, b, 100, "a", 1.00, "{}"),     # base only -> survives as base
        (2, b, 200, "a", 2.00, "{}"),     # base, then deleted
        (10, a1, 200, "a", 0.0, "{}"),    # delete op (id 10)
        (3, b, 300, "a", 3.00, "{}"),     # base, deleted then re-upserted
        (20, a1, 300, "a", 0.0, "{}"),    # delete (id 20)
        (21, a2, 300, "a", 3.50, "{}"),   # later upsert wins
        (30, a1, 400, "a", 0.0, "{}"),    # delete of ABSENT key -> no-op
        (41, a1, 500, "a", 5.00, "{}"),   # insert via changelog only
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r.user_id: (r.cents, r.ts, r.src)
        for r in cdc_apply(spark, d).collect()
    }
    assert got == {
        100: (100, b, "base"),
        300: (350, a2, "updated"),
        500: (500, a1, "updated"),
    }


def test_pruning_audit_sorted_dominates_arrival(spark, sf_dir):
    """A value-sorted layout can never skip FEWER stat buckets than
    arrival order for a range predicate; on the fixture it must skip a
    strict majority while arrival skips ~none."""
    from ocr_spark.operators.relational import pruning_effectiveness

    rows = {r.layout: r for r in pruning_effectiveness(spark, sf_dir).collect()}
    assert set(rows) == {"arrival", "sorted"}
    assert rows["sorted"].n_skippable >= rows["arrival"].n_skippable
    assert rows["sorted"].skip_ppm > 500_000


def test_half_life_exact_weights(spark, tmp_path):
    """Today's event weighs 2^30, a 1-day-old one 2^29, a 100-day-old
    one clamps to weight 1 — verified against hand arithmetic."""
    import datetime as dt

    from ocr_spark.operators.relational import half_life_engagement

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (1, t0, 7, "a", 1.00, "{}"),                          # age 0
        (2, t0 - dt.timedelta(days=1), 7, "a", 2.00, "{}"),   # age 1
        (3, t0 - dt.timedelta(days=100), 7, "a", 4.00, "{}"), # clamped
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = half_life_engagement(spark, d).collect()[0]
    assert r.user_id == 7 and r.n_events == 3
    assert r.decayed_cents_x2c == (
        100 * 2**30 + 200 * 2**29 + 400 * 2**0
    )


def test_join_size_estimate_sane(spark, sf_dir):
    """The KMV estimate must land within 60% of truth on the fixture
    (K=64 → σ ≈ 1/√64 ≈ 12.5%; the bound is loose for VM determinism,
    the exact value is pinned by the DuckDB oracle anyway)."""
    from ocr_spark.operators.relational import join_size_estimate

    r = join_size_estimate(spark, sf_dir).collect()[0]
    assert r.exact_n > 0 and r.est_n > 0
    assert abs(r.est_n - r.exact_n) / r.exact_n < 0.6, (
        r.est_n, r.exact_n,
    )


def test_sliding_distinct_exact_window_semantics(spark, tmp_path):
    """A user active on two days inside one window counts once; window
    ends without a full 7-day lookback are suppressed."""
    import datetime as dt

    from ocr_spark.operators.relational import sliding_distinct_users

    d0 = dt.datetime(2024, 1, 1)

    def ev(i, day_off, uid):
        return (i, d0 + dt.timedelta(days=day_off), uid, "a", 1.0, "{}")

    # 10-day span: day 0 (u1, u2), day 3 (u1), day 9 (u3)
    rows = [ev(1, 0, 1), ev(2, 0, 2), ev(3, 3, 1), ev(4, 9, 3)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    day0 = (d0 - dt.datetime(1970, 1, 1)).days
    got = {
        r.win_end - day0: r.n_distinct_users
        for r in sliding_distinct_users(spark, d).collect()
    }
    # full windows end on days 6..9 only
    assert got == {
        6: 2,   # [0..6]: u1 (two activity days -> once) + u2
        7: 1,   # [1..7]: only u1's day-3 activity remains in range
        8: 1,   # [2..8]: u1
        9: 2,   # [3..9]: u1 (day 3) + u3 (day 9)
    }


def test_dq_expectations_detects_violations(spark, tmp_path):
    """Duplicate keys, nulls, non-positive prices, bad statuses, and
    out-of-horizon dates must each fail exactly their own expectation."""
    import datetime as dt

    from ocr_spark.operators.relational import dq_expectations

    t = dt.datetime(1995, 6, 1)
    rows = [
        (1, 10, "O", 5.0, t, "1-URGENT"),
        (1, 11, "F", 3.0, t, "1-URGENT"),            # dup key
        (2, None, "P", 0.0, t, "2-HIGH"),            # null cust + price<=0
        (3, 12, "X", 9.0, dt.datetime(1980, 1, 1), "3-LOW"),  # bad status+date
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {
        r.expectation: (r.n_failed, r["pass"])
        for r in dq_expectations(spark, d).collect()
    }
    assert got == {
        "orderkey_not_null": (0, 1),
        "orderkey_unique": (1, 0),
        "custkey_not_null": (1, 0),
        "totalprice_positive": (1, 0),
        "orderstatus_accepted": (1, 0),
        "orderdate_in_horizon": (1, 0),
    }


def test_anomaly_days_baseline_and_flag(spark, tmp_path):
    """A 2x day against a flat 7-day baseline flags; the first 7 days
    (incomplete baseline) emit null ratio and flag 0; the day does not
    feed its own baseline."""
    import datetime as dt

    from ocr_spark.operators.relational import events_anomaly_days

    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 7 days x 10 events, then a 20-event day, then a 10-event day
    for day, cnt in [(i, 10) for i in range(7)] + [(7, 20), (8, 10)]:
        for _ in range(cnt):
            rows.append(
                (eid, d0 + dt.timedelta(days=day), 1, "a", 1.0, "{}")
            )
            eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    day0 = (d0 - dt.datetime(1970, 1, 1)).days
    got = {
        r.day - day0: (r.ratio_ppm, r.is_anomaly)
        for r in events_anomaly_days(spark, d).collect()
    }
    for i in range(7):
        assert got[i] == (None, 0)          # no full baseline yet
    assert got[7] == (2_000_000, 1)         # 20 vs mean 10 -> 2.0x
    # day 8: baseline = days 1..7 = (10*6 + 20)/7; 10/ (80/7) ppm
    assert got[8] == ((10 * 7 * 1_000_000) // 80, 0)


def test_ltv_deciles_partition_and_share(spark, tmp_path):
    """Deciles are equal-count, ordered by value (decile 0 holds the
    max), and value shares sum to ~1e6 ppm."""
    import datetime as dt

    from ocr_spark.operators.relational import ltv_deciles

    t = dt.datetime(2024, 1, 1)
    rows = [
        (i, t, i, "a", float(i + 1), "{}") for i in range(20)
    ]  # 20 users, ltv = 100..2000 cents
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r.decile: r for r in ltv_deciles(spark, d).collect()}
    assert set(out) == set(range(10))
    assert all(r.n_users == 2 for r in out.values())
    assert out[0].max_cents == 2000 and out[9].min_cents == 100
    assert sum(r.value_share_ppm for r in out.values()) >= 999_990
    mins = [out[i].min_cents for i in range(10)]
    assert mins == sorted(mins, reverse=True)


def test_l_diversity_flags_homogeneous_class(spark, tmp_path):
    """The defining case: a class can be k-anonymous (large) yet
    l-violating (every member shares the sensitive band) — and a small
    diverse class passes l while it would fail k."""
    from ocr_spark.operators.relational import l_diversity_audit

    rows = []
    # class A: nation 1 / BUILDING / nonneg — 10 members, ALL in band 0
    for i in range(10):
        rows.append((i, f"c{i}", 1, 500.0 + i, "BUILDING"))
    # class B: nation 2 / AUTO / nonneg — 3 members in 3 distinct bands
    rows.append((100, "b0", 2, 500.0, "AUTO"))
    rows.append((101, "b1", 2, 1500.0, "AUTO"))
    rows.append((102, "b2", 2, 2500.0, "AUTO"))
    # class C: nation 3 / AUTO / negative — bands -1 and -2 (floor of
    # negative balances), only 2 distinct -> violates
    rows.append((200, "n0", 3, -500.0, "AUTO"))
    rows.append((201, "n1", 3, -1500.0, "AUTO"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    got = {
        (r["nation"], r["segment"], r["bal_nonneg"]): r
        for r in l_diversity_audit(spark, d).collect()
    }
    a = got[(1, "BUILDING", True)]
    assert a["class_size"] == 10
    assert a["distinct_sensitive"] == 1 and a["violates_l"]
    b = got[(2, "AUTO", True)]
    assert b["class_size"] == 3
    assert b["distinct_sensitive"] == 3 and not b["violates_l"]
    c = got[(3, "AUTO", False)]
    assert c["distinct_sensitive"] == 2 and c["violates_l"]


def test_t_closeness_flags_skewed_class(spark, tmp_path):
    """The defining t-closeness case: a class can be l-diverse (bands
    distinct) yet SKEWED vs the population.  Hand-checked EMD on a
    two-band population: global = 50/50, skewed class = 9 band-0 / 1
    band-1 -> |cum p-q| = 0.4, m-1 = 1 -> emd = 0.4 > t=0.25; the
    balanced class (5/5) matches the global mix exactly -> emd 0."""
    from ocr_spark.operators.relational import t_closeness_audit

    rows = []
    # class A: 9 in band 0, 1 in band 1 (skewed)
    for i in range(9):
        rows.append((i, f"a{i}", 1, 500.0, "BUILDING"))
    rows.append((9, "a9", 1, 1500.0, "BUILDING"))
    # class B: 5 in band 0, 5 in band 1 (mirrors the global mix? no —
    # global is 14 band-0 / 6 band-1; B is 5/5, emd = |5*20-10*14| +
    # cum...  computed below from first principles)
    for i in range(5):
        rows.append((100 + i, f"b{i}", 2, 500.0, "AUTO"))
    for i in range(5):
        rows.append((105 + i, f"b{i+5}", 2, 1500.0, "AUTO"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    got = {
        (r["nation"], r["segment"], r["bal_nonneg"]): r
        for r in t_closeness_audit(spark, d).collect()
    }
    # global: N=20, band0 tot=14, band1 tot=6, m=2 (m-1 = 1)
    # class A (Nc=10): cum at band0 = 9*20 - 14*10 = 40
    #   -> emd = 40 / (10*20*1) = 0.2 -> 200_000_000 ppb, no violation
    a = got[(1, "BUILDING", True)]
    assert a["class_size"] == 10 and a["emd_ppb"] == 200_000_000
    assert not a["violates_t"]
    # class B (Nc=10): cum at band0 = 5*20 - 14*10 = -40 -> same 0.2
    b = got[(2, "AUTO", True)]
    assert b["emd_ppb"] == 200_000_000 and not b["violates_t"]
    # extreme class: add a 3rd class fully in band 1 and re-run
    rows.append((300, "x0", 3, 1500.0, "MACHINERY"))
    rows.append((301, "x1", 3, 1500.0, "MACHINERY"))
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    got2 = {
        (r["nation"], r["segment"], r["bal_nonneg"]): r
        for r in t_closeness_audit(spark, d).collect()
    }
    # global now N=22, band0=14, band1=8; class X (Nc=2, all band 1):
    # cum band0 = 0*22 - 14*2 = -28 -> emd = 28/(2*22*1) = 0.636..
    x = got2[(3, "MACHINERY", True)]
    # round-half-away(1e9 * 28 / 44) = 636_363_636
    assert x["emd_ppb"] == 636_363_636 and x["violates_t"]


def test_dp_noise_intervals_exact_partition():
    """The noise table must partition [0, 2^40) with no gap or overlap
    (every hash maps to exactly one noise value), be symmetric in
    probability mass around 0, and put the most mass on 0."""
    from fractions import Fraction

    from ocr_spark.operators.relational import (
        DP_ALPHA,
        DP_UBITS,
        _dp_noise_intervals,
    )

    iv = _dp_noise_intervals()
    assert iv[0][1] == 0 and iv[-1][2] == 1 << DP_UBITS
    for (_, _, hi_prev), (_, lo, _) in zip(iv, iv[1:]):
        assert lo == hi_prev
    mass = {k: hi - lo for k, lo, hi in iv}
    assert max(mass, key=mass.get) == 0
    # +/-k intervals carry (floor-)equal mass up to 1 tick
    for k in range(1, 5):
        assert abs(mass[k] - mass[-k]) <= 1
    # mass(1)/mass(0) ~ alpha
    a = Fraction(*DP_ALPHA)
    ratio = Fraction(mass[1], mass[0])
    assert abs(float(ratio - a)) < 1e-9


def test_dp_noisy_counts_deterministic_and_clamped(spark, tmp_path):
    """Noise is the inverse-CDF of the key hash (recomputed here from
    first principles) and the release clamps at zero."""
    import hashlib

    from ocr_spark.operators.relational import (
        _dp_noise_intervals,
        dp_noisy_counts,
    )

    d = str(tmp_path)
    rows = [(0, "c0", 1, 10.0, "AUTO")]  # one class of size 1
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    out = dp_noisy_counts(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    u = int(hashlib.md5(b"dpn:1:AUTO").hexdigest()[:10], 16)
    expect = next(
        k for k, lo, hi in _dp_noise_intervals() if lo <= u < hi
    )
    assert r["noise"] == expect
    assert r["exact_count"] == 1
    assert r["released_count"] == max(0, 1 + expect)
    # re-run: identical release (determinism is the point)
    again = dp_noisy_counts(spark, d).collect()[0]
    assert again == r


def test_operators_are_empty_input_safe(spark, tmp_path):
    """Every derived-table operator must yield an empty (or degenerate
    single-report-row) result on EMPTY input tables — never throw: at
    100 TB some partition/day/source is always empty, and a fold or
    window that assumes rows exist dies there first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.operators import relational as R
    from ocr_spark.operators import text_analysis as T
    from ocr_spark.operators import web_extract as W

    d = str(tmp_path)
    ev = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    doc = pa.table(
        {
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }
    )
    cust = pa.table(
        {
            "c_custkey": pa.array([], pa.int64()),
            "c_name": pa.array([], pa.string()),
            "c_nationkey": pa.array([], pa.int32()),
            "c_acctbal": pa.array([], pa.float64()),
            "c_mktsegment": pa.array([], pa.string()),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array([], pa.int64()),
            "o_custkey": pa.array([], pa.int64()),
            "o_orderstatus": pa.array([], pa.string()),
            "o_totalprice": pa.array([], pa.float64()),
            "o_orderdate": pa.array([], pa.timestamp("us")),
            "o_orderpriority": pa.array([], pa.string()),
        }
    )
    li = pa.table(
        {
            "l_orderkey": pa.array([], pa.int64()),
            "l_partkey": pa.array([], pa.int64()),
            "l_suppkey": pa.array([], pa.int64()),
            "l_linenumber": pa.array([], pa.int32()),
            "l_quantity": pa.array([], pa.float64()),
            "l_extendedprice": pa.array([], pa.float64()),
            "l_discount": pa.array([], pa.float64()),
            "l_tax": pa.array([], pa.float64()),
            "l_returnflag": pa.array([], pa.string()),
            "l_linestatus": pa.array([], pa.string()),
            "l_shipdate": pa.array([], pa.timestamp("us")),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq.write_table(ev, f"{d}/events.parquet")
    pq.write_table(doc, f"{d}/documents.parquet")
    pq.write_table(cust, f"{d}/customer.parquet")
    pq.write_table(orders, f"{d}/orders.parquet")
    pq.write_table(li, f"{d}/lineitem.parquet")
    pq.write_table(emb, f"{d}/embeddings.parquet")
    sup = pa.table(
        {
            "s_suppkey": pa.array([], pa.int64()),
            "s_name": pa.array([], pa.string()),
            "s_nationkey": pa.array([], pa.int32()),
            "s_phone": pa.array([], pa.string()),
            "s_acctbal": pa.array([], pa.float64()),
        }
    )
    pq.write_table(sup, f"{d}/supplier.parquet")
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([], pa.int32()),
                "n_name": pa.array([], pa.string()),
                "n_regionkey": pa.array([], pa.int32()),
            }
        ),
        f"{d}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([], pa.int64()),
                "p_name": pa.array([], pa.string()),
                "p_brand": pa.array([], pa.string()),
                "p_type": pa.array([], pa.string()),
                "p_size": pa.array([], pa.int32()),
                "p_retailprice": pa.array([], pa.float64()),
            }
        ),
        f"{d}/part.parquet",
    )

    from ocr_spark.operators import dedup as D
    from ocr_spark.operators import evalmetrics as E
    from ocr_spark.operators import media as M
    from ocr_spark.operators import similarity as S

    empty_ok = [
        E.bleu_eval, E.rouge_l_eval, E.chrf_eval, E.cohen_kappa,
        M.audio_features, M.caption_consistency, M.video_near_dup,
        R.kmv_weekly_rollup, R.unpivot_measures, R.theta_sketch_overlap,
        R.hll_distinct_users, R.auc_rank_eval,
        R.pps_systematic_sample, R.k_anonymity_audit, R.cusum_changepoint,
        R.pit_join_events_scd2, R.mad_outliers, R.purchase_paths,
        R.l_diversity_audit, R.t_closeness_audit, R.dp_noisy_counts,
        R.weighted_sample_aes,
        R.psi_drift, R.ks_drift, R.km_churn_survival, R.benford_audit,
        R.zorder_layout, R.countmin_heavy_hitters, T.phrase_search,
        R.feature_correlation, R.snapshot_diff, R.record_linkage_fs,
        R.weekday_seasonality,
        T.pareto_frontier_docs, T.paragraph_dedup_rebuild,
        T.hybrid_rrf_search, T.training_manifest,
        T.source_template_paragraphs, T.train_val_test_split,
        T.sequence_pack_incremental, T.budget_allocation,
        T.corpus_shuffle_shards, T.boilerplate_prune,
        T.temperature_sampling_budget, T.span_corruption_plan,
        T.source_entropy, T.url_path_rollup,
        T.quantile_normalize_length, T.flesch_readability,
        W.bfs_hop_distance, W.personalized_pagerank,
        W.redirect_resolution, W.kcore_peel, W.ktruss_edges,
        W.link_prediction_jaccard, W.degree_assortativity,
        W.wl_refinement,
        D.containment_pairs, D.homoglyph_dedup, D.split_leakage_audit,
        D.winnowing_near_dup, D.soft_dedup_weights, D.group_kfold_split,
        T.padding_waste_audit, M.audio_near_dup, R.geo_cell_pairs,
        W.crawl_frontier,
        D.cross_source_dup_matrix, R.session_covisitation,
        R.geo_dbscan, S.pca_power_iteration,
        R.histogram_quantile_sketch, T.dataset_card, R.skew_salt_plan,
        S.embedding_health_audit, D.entity_resolution_clusters,
        W.politeness_schedule, W.louvain_two_level,
        S.maxsim_late_interaction_topk, D.dedup_span_excision,
        T.packing_seqlen_sweep, R.neyman_allocation,
        R.cuped_adjusted_metric, R.srm_check,
        R.poisson_bootstrap_ci, R.diff_in_differences,
        R.ab_mde_power, W.deepwalk_pairs, W.adamic_adar_pairs,
        T.label_model_vote, R.holt_winters_forecast,
        R.winsorized_mean, R.ips_offline_eval,
        R.doubly_robust_eval, R.quantile_treatment_effect,
        R.stratified_srm, R.metric_sensitivity_ladder,
        T.uncertainty_sample,
        R.brier_decomposition,
        S.pq_topk, S.ivfpq_topk, S.semdedup_prune, S.bitext_mining,
        S.knn_label_propagation, S.ann_recall_eval, S.ndcg_eval,
        S.mrr_eval, S.map_eval, S.rocchio_feedback,
        S.hard_negative_mining,
        R.incremental_agg_merge,
        R.connected_components_labels, R.two_hop_neighbors,
        R.cohort_retention, R.cdc_apply, R.half_life_engagement,
        R.sliding_distinct_users, R.dwell_time_stats,
        R.events_anomaly_days, R.ltv_deciles,
        T.inverted_index_postings, T.pmi_bigram_lift, T.vocab_coverage,
        T.rake_keywords, T.texttiling_segments, T.good_turing_bigrams,
        T.chi2_feature_selection,
        T.span_corruption_mask, T.bm25_topk, T.term_drift,
        T.conjunctive_search, T.bigram_next_token, T.rendezvous_shard,
        T.bpe_merges, T.bpe_tokenize, T.encoding_repair,
        T.kneser_ney_bigram, T.hashed_ngram_classify, T.bpe_fertility,
        T.doremi_mixture, T.gopher_rules,
        W.html_to_spans, W.robots_gate, W.hits_hubs_authorities,
        W.lpa_communities, W.triangle_count,
        W.anchor_text_aggregation, W.cocitation_pairs,
        R.volume_shipping, R.product_profit, R.returned_items,
        R.shipmode_priority, R.parts_supplier_count,
        R.top_supplier_revenue,
        D.edit_distance_near_dup, S.mmr_diversify, R.theil_sen_trend,
        T.isotonic_calibration, T.term_burstiness, T.lang_id_confusion,
        W.clustering_coefficient, T.skipgram_pairs,
        R.seasonal_trend_decompose, T.entropy_rate,
    ]
    for fn in empty_ok:
        assert fn(spark, d).count() == 0, fn.__name__
    # global-aggregate report operators emit their one row even over
    # nothing (degenerate values, never a throw)
    assert R.join_size_estimate(spark, d).count() == 1
    se = D.dedup_sketch_eval(spark, d).collect()
    assert len(se) == 1 and se[0]["n_truth"] == 0
    assert se[0]["recall_ppm"] == 1_000_000  # vacuous truth -> perfect
    g = R.gini_concentration(spark, d).collect()
    assert len(g) == 1 and (g[0]["n_users"] or 0) == 0
    h = T.heaps_vocab_growth(spark, d).collect()
    assert len(h) == len(T.HEAPS_CHECKPOINTS)
    assert all(r["distinct_terms"] == 0 for r in h)
    z = T.zipf_fit(spark, d).collect()
    assert len(z) == 1 and z[0]["n_terms"] == 0
    assert z[0]["slope_milli"] is None and z[0]["r2"] is None
    for fn, cnt_col in [
        (R.forecast_revenue, "n_lines"),
        (R.promo_revenue_share, "total_rev_c2"),
        (R.small_qty_revenue, "n_small_lines"),
        (R.disjunctive_revenue, "n_lines"),
    ]:
        rows = fn(spark, d).collect()
        assert len(rows) == 1 and not rows[0][cnt_col], fn.__name__
    ring = R.ring_reshard_movement(spark, d).collect()
    assert len(ring) == R.RING_SHARDS + 1
    assert all(
        r["n_before"] == r["n_after"] == r["n_moved_out"] == 0 for r in ring
    )
    sw = D.dedup_threshold_sweep(spark, d).collect()
    assert len(sw) == 8 and all(r["n_pairs"] == 0 for r in sw)
    fu = {r["stage"]: r for r in D.dedup_cascade_funnel(spark, d).collect()}
    assert len(fu) == 4 and all(
        r["n_docs"] == 0 and r["removed"] == 0 for r in fu.values()
    )


def test_pareto_frontier_dominance_rules(spark, tmp_path):
    """Ties survive together; strict one-axis dominance kills; equal
    pairs are both frontier (neither dominates under the strict rule)."""
    from ocr_spark.operators.text_analysis import pareto_frontier_docs

    d = str(tmp_path)
    # q = distinct tokens, len = n_chars.
    # doc 0: q=3 len=10  -> frontier (best q)
    # doc 1: q=2 len=10  -> dominated by doc 0 (q higher, len equal)
    # doc 2: q=2 len=20  -> frontier (longest at its q, nothing above reaches 20)
    # doc 3: q=1 len=20  -> dominated by doc 2 (q higher, len equal)
    # doc 4: q=3 len=10  -> frontier (exact tie with doc 0: both stay)
    _write(
        spark, d, "documents",
        [
            (0, "a b c", "en", "s", 10),
            (1, "a b a", "en", "s", 10),
            (2, "a b b", "en", "s", 20),
            (3, "a a a", "en", "s", 20),
            (4, "x y z", "en", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = sorted(
        r["doc_id"] for r in pareto_frontier_docs(spark, d).collect()
    )
    assert got == [0, 2, 4]


def test_bfs_min_hop_and_frontier_isolation(spark, tmp_path):
    """True multi-hop BFS against an independent python BFS on the same
    synthesized graph: a node reachable at several hop levels reports the
    MINIMUM (anti-join keeps the first discovery), deeper levels exist,
    and nodes outside the 3-hop ball are absent."""
    from collections import deque

    from ocr_spark.operators import web_extract as wx

    d = str(tmp_path)
    # n=37 (prime, not a multiple of the edge strides) gives a sparse
    # graph whose 3-hop ball from seed {0} is strictly layered.
    n = 37
    _write(
        spark, d, "documents",
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    adj = {i: set() for i in range(n)}
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                adj[i].add(t)
    want, q = {0: 0}, deque([0])
    while q:
        u = q.popleft()
        if want[u] >= wx.BFS_MAX_HOP:
            continue
        for v in sorted(adj[u]):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    got = {
        r["doc_id"]: r["hop"]
        for r in wx.bfs_hop_distance(spark, d).collect()
    }
    assert got == want
    # the fixture genuinely exercises depth: some node is at hop 3, and
    # some node with multiple discovery paths still reports the minimum
    assert 3 in got.values()
    multi = [v for u in want for v in adj[u] if want.get(v, 9) < want[u]]
    assert multi, "fixture must contain a back/cross edge"


def test_kmv_weekly_merge_equals_direct_weekly_sketch(spark, tmp_path):
    """Merging daily k-min partials must give the SAME weekly sketch as
    computing k-min directly over the week's raw hashes (the KMV merge
    property) — including when a day overflows k."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_spark.operators.relational import (
        KMV_HASH_A,
        KMV_HASH_M,
        KMV_K,
        kmv_weekly_rollup,
    )

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 200 distinct users on day 0 (> KMV_K=64), 150 on day 1 with 100
    # overlapping, sprinkle of repeats (distinct() must collapse them).
    for u in range(200):
        rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
    for u in range(100, 250):
        rows.append((eid, base + dt.timedelta(days=1), u, "view", 1.0, "{}"))
        eid += 1
    rows.append((eid, base, 0, "click", 1.0, "{}")); eid += 1
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = kmv_weekly_rollup(spark, d).collect()
    assert len(got) == 1 and got[0]["week"] == 0
    # Direct weekly sketch over raw hashes:
    hashes = sorted({(u * KMV_HASH_A) % KMV_HASH_M for u in range(250)})
    kth = hashes[KMV_K - 1]
    est = round((KMV_K - 1) * KMV_HASH_M / kth, 3)
    assert got[0]["n_seen"] == KMV_K
    assert got[0]["kmv_estimate"] == est
    assert got[0]["true_distinct"] == 250


def test_unpivot_stack_no_join(spark):
    """The melt is a single-scan stack() expansion: no Join in the plan,
    exactly one Exchange (the 4-group aggregate)."""
    from ocr_spark.operators.relational import unpivot_measures

    plan = unpivot_measures(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_theta_overlap_exact_regime_and_disjoint_sets(spark, tmp_path):
    """Below k the sketch is the set: estimates equal the exact counts
    exactly (θ = full space).  Disjoint periods estimate intersection 0."""
    import datetime as dt

    from ocr_spark.operators.relational import theta_sketch_overlap

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # type "a": users 0-9 in period 0, users 5-14 in period 1 (overlap 5)
    for u in range(10):
        rows.append((eid, base, u, "a", 1.0, "{}")); eid += 1
    for u in range(5, 15):
        rows.append((eid, base + dt.timedelta(days=20), u, "a", 1.0, "{}"))
        eid += 1
    # type "b": disjoint periods
    for u in range(5):
        rows.append((eid, base, 100 + u, "b", 1.0, "{}")); eid += 1
    for u in range(5):
        rows.append((eid, base + dt.timedelta(days=20), 200 + u, "b", 1.0, "{}"))
        eid += 1
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_type"]: r for r in theta_sketch_overlap(spark, d).collect()}
    a, b = got["a"], got["b"]
    assert a["true_union"] == 15 and a["true_inter"] == 5
    assert a["union_est"] == 15.0 and a["inter_est"] == 5.0
    assert b["true_inter"] == 0 and b["inter_est"] == 0.0
    assert b["union_est"] == 10.0


def test_pps_heavy_item_multiplicity_and_expected_size(spark, tmp_path):
    """A document heavier than the stride is hit multiple times
    (replication count = its weight share); total hits == PPS_SAMPLE_N
    exactly when step divides W cleanly."""
    from ocr_spark.operators.relational import (
        PPS_SAMPLE_N,
        pps_systematic_sample,
    )

    d = str(tmp_path)
    # 100 docs of weight 10 + one whale of weight 1000 => W = 2000,
    # step = 2000/50 = 40; whale interval covers 1000/40 = 25 stride
    # points; light docs (10 < 40) are hit 0-or-1 times.
    rows = [(i, "t", "en", "s", 10) for i in range(100)]
    rows.append((100, "t", "en", "s", 1000))
    _write(
        spark, d, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = pps_systematic_sample(spark, d).collect()
    hits = {r["doc_id"]: r["n_hits"] for r in got}
    assert hits[100] == 25
    assert sum(hits.values()) == PPS_SAMPLE_N
    assert all(h == 1 for k, h in hits.items() if k != 100)


def test_kanon_flags_exactly_subk_classes(spark, tmp_path):
    """A class of size k-1 violates; size k does not; the boundary is
    strict <."""
    from ocr_spark.operators.relational import KANON_K, k_anonymity_audit

    d = str(tmp_path)
    rows = []
    ck = 0
    for _ in range(KANON_K):       # class A: exactly k -> ok
        rows.append((ck, "n", 1, 10.0, "AUTO")); ck += 1
    for _ in range(KANON_K - 1):   # class B: k-1 -> violates
        rows.append((ck, "n", 2, 10.0, "AUTO")); ck += 1
    _write(
        spark, d, "customer", rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    got = {r["nation"]: r for r in k_anonymity_audit(spark, d).collect()}
    assert not got[1]["violates_k"] and got[1]["class_size"] == KANON_K
    assert got[2]["violates_k"] and got[2]["class_size"] == KANON_K - 1


def test_cusum_peaks_at_level_shift(spark, tmp_path):
    """A series that steps from 10/day to 30/day peaks |cusum| exactly at
    the last low day (the classic CUSUM change-point property)."""
    import datetime as dt

    from ocr_spark.operators.relational import cusum_changepoint

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(10):
        n = 10 if day < 5 else 30
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=day), 1, "c", 1.0, "{}"))
            eid += 1
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = cusum_changepoint(spark, d).collect()
    peaks = [r["day"].day for r in got if r["is_peak"]]
    assert peaks == [5]  # last low day (days 1-5 low, mean=20, cusum=-50)


def test_pit_join_version_boundaries(spark, tmp_path):
    """An event exactly AT a version's valid_from sees THAT version
    (interval [from, to)); before any version -> null; same-timestamp
    version ties resolve to max o_orderkey."""
    import datetime as dt

    from ocr_spark.operators.relational import pit_join_events_scd2

    d = str(tmp_path)
    t0 = dt.datetime(2024, 1, 10)
    t1 = dt.datetime(2024, 1, 20)
    _write(
        spark, d, "orders",
        [
            (100, 1, "O", 1.0, t0, "P"),   # version 1 @ t0
            (101, 1, "F", 1.0, t1, "P"),   # tie pair @ t1 ...
            (102, 1, "X", 1.0, t1, "P"),   # ... max key 102 wins
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    _write(
        spark, d, "events",
        [
            (0, t0 - dt.timedelta(days=1), 1, "c", 1.0, "{}"),  # before all
            (1, t0, 1, "c", 1.0, "{}"),                          # at v1 start
            (2, t1 + dt.timedelta(days=1), 1, "c", 1.0, "{}"),   # after tie
            (3, t0, 99, "c", 1.0, "{}"),                         # keyless
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_id"]: r for r in pit_join_events_scd2(spark, d).collect()}
    assert got[0]["version_key"] is None
    assert got[1]["version_key"] == 100 and got[1]["version_status"] == "O"
    assert got[2]["version_key"] == 102 and got[2]["version_status"] == "X"
    assert got[3]["version_key"] is None


def test_mad_outlier_robust_to_whale(spark, tmp_path):
    """The whale itself is flagged, and its presence does NOT drag the
    median/MAD enough to flag normal points — the robustness property a
    mean/stddev z-score lacks.  Odd/even median doubling is exact."""
    import datetime as dt

    from ocr_spark.operators.relational import mad_outliers

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)
    # 20 values spread 10.00..10.19 + one 10000.00 whale
    rows = [
        (i, base, 1, "t", 10.0 + i / 100.0, "{}") for i in range(20)
    ]
    rows.append((20, base, 1, "t", 10000.0, "{}"))
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_id"]: r for r in mad_outliers(spark, d).collect()}
    assert 20 in got                      # whale flagged
    assert set(got) == {20}               # nothing normal flagged
    # med2 = 2 * median(cents): n=21 odd -> middle = 10.10 -> 2020
    assert got[20]["med2"] == 2020


def test_ppr_localizes_to_seed_neighborhood(spark, tmp_path):
    """PPR mass lives only in the seeds' out-neighborhood (positive rank
    set == BFS 3-hop ball + seeds) and concentrates near seeds: total
    seed mass exceeds any non-seed's rank; nodes outside get no row."""
    from ocr_spark.operators import web_extract as wx

    d = str(tmp_path)
    n = 149  # prime, sparse ball from seeds {0, 50, 100}
    _write(
        spark, d, "documents",
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ppr = {r["doc_id"]: r for r in wx.personalized_pagerank(spark, d).collect()}
    bfs = {r["doc_id"] for r in wx.bfs_hop_distance(spark, d).collect()}
    assert set(ppr) == bfs  # support == reachable ball (iters == max hop)
    seeds = {i for i in ppr if ppr[i]["is_seed"]}
    assert seeds == {0, 50, 100}
    max_nonseed = max(
        (r["ppr_ppb"] for i, r in ppr.items() if i not in seeds),
        default=0,
    )
    assert min(ppr[s]["ppr_ppb"] for s in seeds) > 0
    assert sum(ppr[s]["ppr_ppb"] for s in seeds) > max_nonseed


def test_pointer_jumping_resolves_in_log_rounds(spark, tmp_path):
    """A length-9 chain resolves with 4 doubling rounds (2^4 >= 9); every
    url lands on its decade terminal with the exact chain length."""
    from ocr_spark.operators import web_extract as wx

    d = str(tmp_path)
    _write(
        spark, d, "documents",
        [(i, "t", "en", "s", 1) for i in range(25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["final_id"], r["chain_len"])
        for r in wx.redirect_resolution(spark, d).collect()
    }
    assert len(got) == 25
    for i in range(25):
        assert got[i] == (i - i % 10, i % 10), i


def test_purchase_path_cutoff_semantics(spark, tmp_path):
    """The path stops at the FIRST purchase (inclusive); post-purchase
    events and second purchases never appear; non-converters are absent."""
    import datetime as dt

    from ocr_spark.operators.relational import purchase_paths

    d = str(tmp_path)
    base = dt.datetime(2024, 1, 1)

    def e(eid, mins, uid, et):
        return (eid, base + dt.timedelta(minutes=mins), uid, et, 1.0, "{}")

    rows = [
        # user 1: click > view > purchase, then noise after
        e(0, 0, 1, "click"), e(1, 1, 1, "view"), e(2, 2, 1, "purchase"),
        e(3, 3, 1, "click"), e(4, 4, 1, "purchase"),
        # user 2: same pre-purchase journey
        e(5, 0, 2, "click"), e(6, 1, 2, "view"), e(7, 2, 2, "purchase"),
        # user 3: never converts
        e(8, 0, 3, "click"), e(9, 1, 3, "view"),
    ]
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["path"]: r["n_users"] for r in purchase_paths(spark, d).collect()}
    assert got == {"click>view>purchase": 2}


def test_psi_zero_when_stable_and_positive_on_shift(spark, tmp_path):
    """Identical period distributions give total PSI ≈ 0 (only smoothing
    residue); a planted mean shift pushes total PSI past the 0.25
    'drifted' bar with mass moving to the top buckets."""
    import datetime as dt

    from ocr_spark.operators.relational import psi_drift

    base = dt.datetime(2024, 1, 1)

    def build(d, shift):
        rows = []
        eid = 0
        for rep in range(5):
            for v in range(100):
                rows.append((eid, base + dt.timedelta(days=v % 15),
                             1, "x", float(v), "{}")); eid += 1
                rows.append((eid, base + dt.timedelta(days=15 + v % 15),
                             1, "x", float(v + shift), "{}")); eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    d1 = str(tmp_path / "stable"); build(d1, 0)
    stable = sum(r["psi_contrib"] for r in psi_drift(spark, d1).collect())
    d2 = str(tmp_path / "shift"); build(d2, 60)
    drifted = sum(r["psi_contrib"] for r in psi_drift(spark, d2).collect())
    assert abs(stable) < 0.01
    assert drifted > 0.25


def test_kcore_peel_matches_python_reference(spark, tmp_path):
    """Fixed-point peel vs an independent python peel-to-convergence on
    the same synthesized graph — fringe nodes (n=37 drops one)
    disappear and every residual degree matches."""
    from ocr_spark.operators import web_extract as wx

    n = 37
    d = str(tmp_path)
    _write(
        spark, d, "documents",
        [(i, "t", "en", "s", 1) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    edges = set()
    for i in range(n):
        for t in ((7 * i + 1) % n, (13 * i + 2) % n, (31 * i + 3) % n):
            if t != i:
                edges.add((i, t)); edges.add((t, i))
    alive = set(range(n))
    deg = {}
    while True:  # python twin of the fixed-point loop
        deg = {v: 0 for v in alive}
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
        survivors = {v for v in alive if deg[v] >= wx.KCORE_K}
        if survivors == alive:
            break
        alive = survivors
    want = {v: deg[v] for v in alive}
    got = {
        r["doc_id"]: r["residual_degree"]
        for r in wx.kcore_peel(spark, d).collect()
    }
    assert got == want
    assert len(got) < n  # the fixture genuinely peels something


def test_km_censoring_and_product(spark, tmp_path):
    """Textbook KM hand-check: censored users reduce the risk set but
    never the numerator; survival multiplies only at churn days."""
    import datetime as dt

    from ocr_spark.operators.relational import km_churn_survival

    d = str(tmp_path)
    day = lambda k: dt.datetime(2024, 1, 1 + k)  # noqa: E731
    rows = []
    eid = 0
    # 10 users; churns: u0,u1 last seen day 2; u2 last seen day 5;
    # everyone else runs to day 9 (censored).
    for u in range(10):
        last = 2 if u < 2 else (5 if u == 2 else 9)
        for k in range(last + 1):
            rows.append((eid, day(k), u, "c", 1.0, "{}")); eid += 1
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["day"].day: r for r in km_churn_survival(spark, d).collect()}
    # day 3 (index 2): d=2, n=10 -> S = 0.8
    # day 6 (index 5): d=1, n=8  -> S = 0.8 * 7/8 = 0.7
    assert set(got) == {3, 6}
    assert (got[3]["d_churned"], got[3]["n_at_risk"]) == (2, 10)
    assert got[3]["survival"] == 0.8
    assert (got[6]["d_churned"], got[6]["n_at_risk"]) == (1, 8)
    assert got[6]["survival"] == 0.7


def test_benford_constants_and_shares(spark, tmp_path):
    """Digit shares are exact ppm of the digit-1..9 population; the
    expectation literals are the true log10(1+1/d) ppm roundings and
    sum to ~1e6."""
    import datetime as dt
    import math

    from ocr_spark.operators.relational import BENFORD_PPM, benford_audit

    for d_, ppm in BENFORD_PPM.items():
        assert ppm == round(math.log10(1 + 1 / d_) * 1_000_000)
    assert abs(sum(BENFORD_PPM.values()) - 1_000_000) <= 2

    d = str(tmp_path)
    rows = [
        (i, 1, "O", float(v), dt.datetime(2024, 1, 1), "p")
        for i, v in enumerate([19.9, 150.0, 1999.0, 2500.0, 999.5])
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {r["digit"]: r for r in benford_audit(spark, d).collect()}
    # 19.9->1, 150->1, 1999->1, 2500->2, 999.5->9 (floor, not round)
    assert got[1]["n"] == 3 and got[2]["n"] == 1 and got[9]["n"] == 1
    assert got[1]["obs_ppm"] == 600000


def test_gini_bounds_and_whale(spark, tmp_path):
    """Equal values give Gini ≈ 0; one whale owning ~everything pushes
    Gini near 1 and top-1% share captures it."""
    import datetime as dt

    from ocr_spark.operators.relational import gini_concentration

    base = dt.datetime(2024, 1, 1)

    def build(d, vals):
        rows = [
            (i, base, u, "c", float(v), "{}")
            for i, (u, v) in enumerate(vals)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    d1 = str(tmp_path / "even")
    build(d1, [(u, 10.0) for u in range(100)])
    even = gini_concentration(spark, d1).collect()[0]
    assert abs(even["gini_ppm"]) < 20000  # ~0 up to floor-div residue
    d2 = str(tmp_path / "whale")
    build(d2, [(u, 0.01) for u in range(99)] + [(99, 100000.0)])
    whale = gini_concentration(spark, d2).collect()[0]
    assert whale["gini_ppm"] > 950000
    assert whale["top1_share_ppm"] > 990000


def test_psi_empty_reference_period(spark, tmp_path):
    """A feed with NO reference-period events (brand-new source) must
    not throw and buckets everything into bucket 0 on both engines."""
    import datetime as dt

    from ocr_spark.operators.relational import psi_drift

    d = str(tmp_path)
    rows = [
        (i, dt.datetime(2024, 1, 20), 1, "x", float(i), "{}")
        for i in range(20)
    ]
    _write(
        spark, d, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = psi_drift(spark, d).collect()
    assert len(got) == 1 and got[0]["bucket"] == 0
    assert got[0]["n_ref"] == 0 and got[0]["n_cur"] == 20


def test_weighted_sample_aes_matches_python_replay(spark, tmp_path):
    """Keys replayed in pure Python (hashlib + math.log): identical
    top-K membership, order, and e12 integer keys."""
    import hashlib
    import math

    from ocr_spark.operators.relational import (
        AES_K,
        AES_UBITS,
        weighted_sample_aes,
    )

    d = str(tmp_path)
    rows = [
        (i, "w " * (i + 1), "en", "s", 10 + 37 * ((i * i) % 11))
        for i in range(120)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def key(i, w):
        h = int(hashlib.md5(f"aes:{i}".encode()).hexdigest()[:10], 16)
        u = (h + 1) / float(1 << AES_UBITS)
        v = math.log(u) / w * 1e12
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    expect = sorted(
        ((key(i, w), i, w) for i, _, _, _, w in rows),
        key=lambda t: (-t[0], t[1]),
    )[:AES_K]
    got = weighted_sample_aes(spark, d).collect()
    assert len(got) == AES_K
    for rank, (k, i, w) in enumerate(expect, start=1):
        r = got[rank - 1]
        assert (r["rank"], r["doc_id"], r["weight"], r["key_e12"]) == (
            rank,
            i,
            w,
            k,
        )


def test_zorder_buckets_bound_both_dimensions(spark):
    """The point of the Z-layout: EVERY populated bucket's min/max box
    is small in BOTH dimensions (here the 64-bucket split of a 16-bit
    interleave = an 8x8 grid, so each span <= ~1/8 of its range + one
    grid cell), which a single-dimension sort cannot achieve."""
    from ocr_spark.operators.relational import zorder_layout

    rows = zorder_layout(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 8
    lo_c = min(r["min_cust"] for r in rows)
    hi_c = max(r["max_cust"] for r in rows)
    lo_d = min(r["min_day"] for r in rows)
    hi_d = max(r["max_day"] for r in rows)
    # 8x8 grid: one cell is 1/8 of the normalized range; allow one
    # extra cell of slack for grid-boundary rounding
    max_c = (hi_c - lo_c + 1) // 8 + (hi_c - lo_c + 1) // 16 + 1
    max_d = (hi_d - lo_d + 1) // 8 + (hi_d - lo_d + 1) // 16 + 1
    for r in rows:
        assert r["max_cust"] - r["min_cust"] <= max_c, r
        assert r["max_day"] - r["min_day"] <= max_d, r
    assert sum(r["n_rows"] for r in rows) == spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).count()


def test_countmin_estimate_replayed_by_hand(spark, tmp_path):
    """Replay the sketch in python on a crafted skewed event table:
    est must equal the hand-computed min-over-rows cell count and
    never undercount."""
    import datetime as dt

    from ocr_spark.operators.relational import (
        CM_DEPTH,
        CM_HASH_A,
        CM_HASH_B,
        CM_PRIME,
        CM_WIDTH,
        countmin_heavy_hitters,
    )

    d = str(tmp_path)
    # 40 users, user u fires (u % 7) + 1 events -> ties + spread
    users = [u for u in range(40) for _ in range((u % 7) + 1)]
    rows = [
        (i, dt.datetime(2024, 1, 1), u, "click", 1.0, "{}")
        for i, u in enumerate(users)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    cell = lambda u, j: (u * CM_HASH_A[j] + CM_HASH_B[j]) % CM_PRIME % CM_WIDTH
    sketch = {}
    for u in users:
        for j in range(CM_DEPTH):
            k = (j, cell(u, j))
            sketch[k] = sketch.get(k, 0) + 1
    truth = {u: users.count(u) for u in set(users)}

    got = countmin_heavy_hitters(spark, d).collect()
    assert len(got) == 20
    for r in got:
        u = r["user_id"]
        want_est = min(sketch[(j, cell(u, j))] for j in range(CM_DEPTH))
        assert r["n"] == truth[u]
        assert r["est"] == want_est
        assert r["overcount"] == want_est - truth[u] >= 0


def test_feature_correlation_hand_replayed(spark, tmp_path):
    """Crafted users where event count anti-correlates with value and
    one feature is constant: replay the exact integer formula (isqrt,
    sign-decomposed truncating division) in python."""
    import datetime as dt
    import math

    from ocr_spark.operators.relational import feature_correlation

    d = str(tmp_path)
    rows = []
    eid = 0
    # user u: one event of value (100 - 10*u) plus u zero-value events
    # -> n_events strictly up, value_units strictly down (negative
    # corr), n_types and n_days constant (zero variance -> corr 0)
    for u in range(5):
        values = [float(100 - 10 * u)] + [0.0] * u
        for v in values:
            rows.append(
                (eid, dt.datetime(2024, 1, 1), u, "click", v, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    def isqrt_exact(v):
        s = int(math.floor(math.sqrt(float(v))))
        if (s + 1) * (s + 1) <= v:
            s += 1
        if s * s > v:
            s -= 1
        return s

    x = [u + 1 for u in range(5)]              # n_events
    y = [100 - 10 * u for u in range(5)]       # value_units
    n = 5
    num = n * sum(a * b for a, b in zip(x, y)) - sum(x) * sum(y)
    d1 = n * sum(a * a for a in x) - sum(x) ** 2
    d2 = n * sum(b * b for b in y) - sum(y) ** 2
    want = (-1 if num < 0 else 1) * (
        (1_000_000 * abs(num)) // (isqrt_exact(d1) * isqrt_exact(d2))
    )

    got = {(r["feat_a"], r["feat_b"]): r["corr_ppm"]
           for r in feature_correlation(spark, d).collect()}
    assert len(got) == 6
    assert got[("n_events", "value_units")] == want
    assert want < 0  # the crafted anti-correlation is real
    # constant features -> zero variance -> defined as 0
    assert got[("n_events", "n_types")] == 0
    assert got[("n_events", "n_days")] == 0
    assert got[("n_types", "n_days")] == 0


def test_snapshot_diff_statuses_exact(spark, tmp_path):
    """Crafted ids hitting every modulus combination: 35 (7·5) exists
    only in B -> added; 55 (5·11) exists only in A -> removed; 77
    (7·11) exists in neither -> NO row; 10 edited -> changed; 3 ->
    unchanged."""
    from ocr_spark.operators.relational import snapshot_diff

    d = str(tmp_path)
    ids = [3, 10, 35, 55, 77]
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 1) for i in ids],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(spark, d).collect()}
    assert got == {3: "unchanged", 10: "changed",
                   35: "added", 55: "removed"}


def test_hll_python_replay_and_register_max_merge(spark, tmp_path):
    """The Spark HLL must equal a from-scratch hashlib replay of
    Flajolet et al.'s raw estimator, and the ALL row must equal the
    estimate of the elementwise register MAX of the per-group
    registers — the merge rule that makes the sketch distributable."""
    import datetime
    import hashlib

    from ocr_spark.operators.relational import (
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_P,
        HLL_Q,
        hll_distinct_users,
    )

    # two groups with disjoint user sets (so ALL is a true union)
    rows = []
    ts = datetime.datetime(2024, 1, 1)
    for u in range(200):
        rows.append((u, ts, u, "click", 1.0, "{}"))
    for u in range(200, 350):
        rows.append((u, ts, u, "view", 1.0, "{}"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    def regs(users):
        r = {}
        for u in users:
            h = int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)
            b, rem = h >> (32 - HLL_P), h % (1 << (32 - HLL_P))
            rank = HLL_Q if rem == 0 else HLL_Q - rem.bit_length()
            r[b] = max(r.get(b, 0), rank)
        return r

    def est(r):
        s = sum(1 << (HLL_Q - m) for m in r.values())
        s += (HLL_M - len(r)) * (1 << HLL_Q)
        num = 2 * HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << HLL_Q) + s * 10**6
        return num // (2 * s * 10**6)

    r_click, r_view = regs(range(200)), regs(range(200, 350))
    merged = {
        b: max(r_click.get(b, 0), r_view.get(b, 0))
        for b in set(r_click) | set(r_view)
    }
    out = {r["event_type"]: r for r in hll_distinct_users(spark, d).collect()}
    assert out["click"]["hll_estimate"] == est(r_click)
    assert out["click"]["registers_set"] == len(r_click)
    assert out["view"]["hll_estimate"] == est(r_view)
    assert out["ALL"]["hll_estimate"] == est(merged)
    assert out["ALL"]["exact_users"] == 350
    # raw-estimate regime sanity: within 3 sigma (1.04/sqrt(32) ~ 18%)
    for k, n in [("click", 200), ("view", 150), ("ALL", 350)]:
        assert abs(out[k]["hll_estimate"] - n) <= 0.56 * n


def test_record_linkage_fs_hand_computed_verdicts(spark, tmp_path):
    """Every Fellegi-Sunter verdict class on crafted keys: 1 = clean
    (649+200+641=1490 link), 5 = segment typo (1090 link), 7 = balance
    off (577 possible), 3 = name typo (510 possible), 21 = name+bal
    (-403 dropped), 105 = all three (-803 dropped); cross pairs
    disagree everywhere (-803) and never surface."""
    from ocr_spark.operators.relational import record_linkage_fs

    rows = [
        (k, f"Customer#{k:09d}", 0, 100.0 + k, f"SEG{k}")
        for k in (1, 3, 5, 7, 21, 105)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    out = {(r["key_a"], r["key_b"]): (r["score_cbits"], r["verdict"])
           for r in record_linkage_fs(spark, d).collect()}
    assert out == {
        (1, 1): (1490, "link"),
        (5, 5): (1090, "link"),
        (7, 7): (577, "possible"),
        (3, 3): (510, "possible"),
    }


def test_auc_rank_eval_matches_sklearn_style_replay(spark, tmp_path):
    """The tie-exact U2 identity must reproduce a brute-force pairwise
    AUC (concordant + half-ties) on a crafted score/label set with
    heavy ties, plus the degenerate perfect-separation case."""
    import datetime

    from ocr_spark.operators.relational import auc_rank_eval

    ts = datetime.datetime(2024, 1, 1)
    # scores in cents; ties across and within labels
    data = [(1.00, 1), (1.00, 0), (2.00, 1), (2.00, 1), (0.50, 0),
            (3.00, 0), (3.00, 1), (0.50, 1), (2.00, 0), (9.99, 1)]
    rows = [
        (i, ts, i, "purchase" if y else "view", v, "{}")
        for i, (v, y) in enumerate(data)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    pos = [v for v, y in data if y]
    neg = [v for v, y in data if not y]
    u2 = sum(
        2 if p > q else (1 if p == q else 0) for p in pos for q in neg
    )
    out = auc_rank_eval(spark, d).collect()[0]
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert out["u2"] == u2
    den = 2 * len(pos) * len(neg)
    assert out["auc_ppm"] == (2 * u2 * 10**6 + den) // (2 * den)


def test_ndcg_eval_hand_computed(spark, tmp_path):
    """One query (vec 0, label 0) and three candidates with
    hand-worked cosine order 10 > 11 > 12 and relevances 3/0/2:
    DCG = 7*disc1 + 0 + 3*disc3, IDCG reorders 12 before 11."""
    from ocr_spark.operators.similarity import NDCG_DISC_PPB, ndcg_eval

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (10, [1.0, 0.1], 0),   # rel 3, cos ~.9950
            (11, [1.0, 1.0], 5),   # rel 0, cos ~.7071
            (12, [0.0, 1.0], 1),   # rel 2, cos 0
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["qid"]: r for r in ndcg_eval(spark, d).collect()}
    dcg = 7 * NDCG_DISC_PPB[0] + 0 * NDCG_DISC_PPB[1] + 3 * NDCG_DISC_PPB[2]
    idcg = 7 * NDCG_DISC_PPB[0] + 3 * NDCG_DISC_PPB[1] + 0 * NDCG_DISC_PPB[2]
    assert out[0]["dcg_ppb"] == dcg
    assert out[0]["idcg_ppb"] == idcg
    assert out[0]["ndcg_ppm"] == (2 * dcg * 10**6 + idcg) // (2 * idcg)
    assert out[0]["ndcg_ppm"] < 1_000_000  # misranked pair costs


def test_mrr_eval_hand_computed(spark, tmp_path):
    """Query 0 (label 0): first same-label candidate sits at cosine
    rank 2 (vec 11 outranks it), so RR = 1/2 exactly; query 1
    (label 9) has NO same-label candidate -> first_rel_pos 0, rr 0."""
    from ocr_spark.operators.similarity import mrr_eval

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.5, 0.5], 9),
            (10, [1.0, 0.1], 5),   # cos ~.9950 to q0, wrong label
            (11, [1.0, 0.2], 0),   # cos ~.9806 to q0, label hit at pos 2
            (12, [0.0, 1.0], 0),   # cos 0 to q0, later hit
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["qid"]: r for r in mrr_eval(spark, d).collect()}
    assert out[0]["first_rel_pos"] == 2
    assert out[0]["rr_ppm"] == 500_000
    assert out[1]["first_rel_pos"] == 0
    assert out[1]["rr_ppm"] == 0


def test_map_eval_hand_computed(spark, tmp_path):
    """Query 0 (label 0) ranking: 10(.995, miss), 11(.981, HIT p=2,
    prec 1/2), 1(.707, miss), 12(0.0, HIT p=4, prec 2/4) ->
    AP@10 = (1/2 + 1/2) / min(2,10) = 1/2 exactly; query 1 (label 9)
    has zero relevant candidates -> ap 0."""
    from ocr_spark.operators.similarity import map_eval

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.5, 0.5], 9),
            (10, [1.0, 0.1], 5),
            (11, [1.0, 0.2], 0),
            (12, [0.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {r["qid"]: r for r in map_eval(spark, d).collect()}
    assert out[0]["n_rel"] == 2
    assert out[0]["ap_ppm"] == 500_000
    assert out[1]["n_rel"] == 0
    assert out[1]["ap_ppm"] == 0


def test_rocchio_feedback_python_replay(spark, tmp_path):
    """Full from-scratch replay of the PRF pipeline (integer micros,
    half-away round-4 cosine, trunc-scaled q', both rankings) on 30
    deterministic vectors — every output row must match, and the
    recentred ranking must actually differ from the original."""
    import math

    from ocr_spark.operators.similarity import (
        ROCCHIO_ALPHA_C,
        ROCCHIO_BETA_C,
        ROCCHIO_GAMMA_C,
        ROCCHIO_NR_HI,
        ROCCHIO_NR_LO,
        ROCCHIO_OUT,
        ROCCHIO_R,
        rocchio_feedback,
    )

    def vec(k):
        return [1.0, k / 30.0, ((k * 7) % 11) / 11.0, ((k * 3) % 5) / 5.0]

    rows = [(0, [1.0, 0.0, 0.5, 0.2], 0)] + [
        (k, vec(k), k % 3) for k in range(1, 31)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    def micro(xs):
        import struct
        f32 = [struct.unpack("f", struct.pack("f", x))[0] for x in xs]
        return [
            int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)
            for x in f32
        ]

    def r4(x):
        s = 1 if x >= 0 else -1
        return s * math.floor(abs(x) * 1e4 + 0.5) / 1e4

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(x * x for x in b)
        return r4(float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb))))

    q = micro([1.0, 0.0, 0.5, 0.2])
    cands = {k: micro(vec(k)) for k in range(1, 31)}
    old = sorted(cands, key=lambda k: (-cos(cands[k], q), k))
    old_rank = {k: i + 1 for i, k in enumerate(old)}
    rel = [k for k in old if old_rank[k] <= ROCCHIO_R]
    nrel = [k for k in old
            if ROCCHIO_NR_LO <= old_rank[k] <= ROCCHIO_NR_HI]
    n_r, n_nr = len(rel), len(nrel)
    q2 = []
    for dd in range(4):
        v = (ROCCHIO_ALPHA_C * n_r * n_nr * q[dd]
             + ROCCHIO_BETA_C * n_nr * sum(cands[k][dd] for k in rel)
             - ROCCHIO_GAMMA_C * n_r * sum(cands[k][dd] for k in nrel))
        q2.append((-1 if v < 0 else 1) * (abs(v) // 10000))
    new = sorted(cands, key=lambda k: (-cos(cands[k], q2), k))
    new_rank = {k: i + 1 for i, k in enumerate(new)}
    expected = {
        new_rank[k]: (k, old_rank[k], cos(cands[k], q), cos(cands[k], q2))
        for k in new if new_rank[k] <= ROCCHIO_OUT
    }

    got = {r["new_rank"]: (r["vec_id"], r["old_rank"], r["cos_old"],
                           r["cos_new"])
           for r in rocchio_feedback(spark, d).collect()}
    assert got == expected
    # the feedback actually moved something
    assert any(o != n for n, (_, o, _c, _c2) in got.items())


def test_ks_drift_hand_computed_shifted_uniform(spark, tmp_path):
    """Uniform[0,100) in the reference half vs Uniform[50,150) in the
    current half: the exact KS supremum is 0.5, attained at the last
    value the current sample has not reached (cents=4900), where
    cum_ref=50 and cum_cur=0 — every output cell is hand-checkable."""
    import datetime as dt

    from ocr_spark.operators.relational import ks_drift

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for v in range(100):
        rows.append((eid, base + dt.timedelta(days=v % 15),
                     1, "x", float(v), "{}")); eid += 1
        rows.append((eid, base + dt.timedelta(days=15 + v % 15),
                     1, "x", float(v + 50), "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    out = ks_drift(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ref"] == 100 and r["n_cur"] == 100
    assert r["at_cents"] == 4900  # value 49: ref has 50 obs, cur has 0
    assert r["cum_ref"] == 50 and r["cum_cur"] == 0
    assert r["d_ppm"] == 500_000  # D = 0.5 exactly


def test_ks_drift_zero_on_identical_periods(spark, tmp_path):
    """Bit-identical period distributions: D = 0 everywhere; the
    argmax tie-break picks the LOWEST value of the merged support."""
    import datetime as dt

    from ocr_spark.operators.relational import ks_drift

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for v in range(40):
        rows.append((eid, base + dt.timedelta(days=v % 15),
                     1, "x", float(v), "{}")); eid += 1
        rows.append((eid, base + dt.timedelta(days=15 + v % 15),
                     1, "x", float(v), "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    out = ks_drift(spark, d).collect()
    assert len(out) == 1
    assert out[0]["d_ppm"] == 0
    assert out[0]["at_cents"] == 0  # lowest-value tie-break


def test_flesch_readability_hand_computed(spark, tmp_path):
    """Every count and both trunc-div milli scores checked by hand on
    one easy and one dense document."""
    from ocr_spark.operators.text_analysis import flesch_readability

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "The cat sat. It ran fast!", "en", "web", 25),
            (2, "extraordinary communication requires unbelievable"
                " organization", "en", "web", 59),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in flesch_readability(spark, d).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllable_groups"]) \
        == (6, 2, 6)
    assert r1["fre_milli"] == 206835 - (1015 * 6) // 2 - (84600 * 6) // 6
    assert r1["fre_milli"] == 119190 and r1["band"] == "easy"
    assert r1["fk_grade_milli"] == 1170 + 11800 - 15590

    r2 = got[2]
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllable_groups"]) \
        == (5, 1, 23)
    assert r2["fre_milli"] == 206835 - 5075 - (84600 * 23) // 5
    assert r2["band"] == "difficult"
    assert r2["fk_grade_milli"] == 1950 + (11800 * 23) // 5 - 15590


def test_zipf_fit_hand_computed(spark, tmp_path):
    """Four-term vocabulary worked by hand: counts a=4 b=2 c=1 d=1 give
    rank bit-logs x=(0,1,1,2), freq bit-logs y=(2,1,0,0); the normal
    equations yield slope trunc(-8000/8) = -1000 milli and
    R^2 = 64/88 = 0.727273 after the terminal round-6."""
    from ocr_spark.operators.text_analysis import zipf_fit

    d = str(tmp_path)
    _write(
        spark, d, "documents",
        [
            (0, "a a b c", "en", "s", 7),
            (1, "a a b d", "en", "s", 7),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    out = zipf_fit(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_terms"] == 4
    assert out[0]["slope_milli"] == -1000
    assert out[0]["r2"] == 0.727273

    # Degenerate one-term vocabulary: slope and fit are undefined, not
    # a throw or a divide-by-zero.
    _write(
        spark, d, "documents", [(0, "solo solo", "en", "s", 9)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    one = zipf_fit(spark, d).collect()
    assert one[0]["n_terms"] == 1
    assert one[0]["slope_milli"] is None and one[0]["r2"] is None


def test_compaction_plan_boundary_and_bounds(spark, tmp_path):
    """A file joins the bin its exclusive offset falls in: with target
    4096, files of 3000+3000 share bin 0 (second starts at 3000 < 4096)
    and the bin totals 6000 < target + max_file — the documented bound;
    a 9000-byte file starting at 8192+ lands alone in bin 2."""
    from ocr_spark.operators.relational import (
        COMPACT_TARGET_BYTES,
        compaction_plan,
    )

    assert COMPACT_TARGET_BYTES == 4096
    d = str(tmp_path)
    rows = [
        (1, "a", "en", "web", 3000),   # off 0     -> bin 0
        (2, "b", "en", "web", 3000),   # off 3000  -> bin 0 (straddle)
        (3, "c", "en", "web", 2192),   # off 6000  -> bin 1
        (4, "d", "en", "web", 9000),   # off 8192  -> bin 2 (oversize)
        (5, "e", "en", "web", 10),     # off 17192 -> bin 4 (gap: no bin 3)
        (6, "f", "en", "cc", 100),     # other partition: own bin 0
    ]
    spark.createDataFrame(
        [(i, t, l, s, n) for i, t, l, s, n in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        (r["source"], r["bin_id"]): (r["n_files"], r["bin_bytes"],
                                     r["first_doc"], r["last_doc"])
        for r in compaction_plan(spark, d).collect()
    }
    assert got == {
        ("web", 0): (2, 6000, 1, 2),
        ("web", 1): (1, 2192, 3, 3),
        ("web", 2): (1, 9000, 4, 4),
        ("web", 4): (1, 10, 5, 5),
        ("cc", 0): (1, 100, 6, 6),
    }
    # every bin is bounded by target + max member size
    for (src, b), (nf, nbytes, _f, _l) in got.items():
        assert nbytes < 4096 + 9000


def test_market_share_hand_computed(spark, tmp_path):
    """One PROMO lineitem from NATION_3 (rev 10000 cents x 100 =
    1e6 c2) and one from NATION_0 (2e6 c2) in 1996 -> share 333333 ppm;
    a non-PROMO line, a non-EUROPE customer, and a 1995 order are all
    excluded."""
    from ocr_spark.operators.relational import market_share

    d = str(tmp_path)
    _write(spark, d, "region",
           [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string")
    _write(spark, d, "nation",
           [(3, "NATION_3", 0), (0, "NATION_0", 0), (7, "NATION_7", 1)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, d, "supplier",
           [(1, "S1", 3, 0.0), (2, "S2", 0, 0.0)],
           "s_suppkey long, s_name string, s_nationkey int,"
           " s_acctbal double")
    _write(spark, d, "part",
           [(10, "p", "B", "PROMO", 1, 1.0), (11, "p", "B", "SMALL", 1, 1.0)],
           "p_partkey long, p_name string, p_brand string, p_type string,"
           " p_size int, p_retailprice double")
    _write(spark, d, "customer",
           [(100, "c", 3, 0.0, "A"), (101, "c", 7, 0.0, "A")],
           "c_custkey long, c_name string, c_nationkey int,"
           " c_acctbal double, c_mktsegment string")
    _write(spark, d, "orders",
           [
               (1000, 100, "O", 0.0, dt.datetime(1996, 6, 1), "1"),
               (1001, 101, "O", 0.0, dt.datetime(1996, 6, 1), "1"),
               (1002, 100, "O", 0.0, dt.datetime(1995, 6, 1), "1"),
           ],
           "o_orderkey long, o_custkey long, o_orderstatus string,"
           " o_totalprice double, o_orderdate timestamp,"
           " o_orderpriority string")
    base = dt.datetime(1996, 7, 1)
    _write(spark, d, "lineitem",
           [
               # kept: PROMO, EUROPE cust, 1996; NATION_3 supplier
               (1000, 10, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", base),
               # kept: same but NATION_0 supplier, rev 20000 c2
               (1000, 10, 2, 2, 1.0, 200.0, 0.0, 0.0, "N", "O", base),
               # dropped: non-PROMO part
               (1000, 11, 1, 3, 1.0, 999.0, 0.0, 0.0, "N", "O", base),
               # dropped: non-EUROPE customer
               (1001, 10, 1, 1, 1.0, 999.0, 0.0, 0.0, "N", "O", base),
               # dropped: 1995 order
               (1002, 10, 1, 1, 1.0, 999.0, 0.0, 0.0, "N", "O", base),
           ],
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    out = market_share(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["o_year"] == 1996
    # rev_c2 = cents * (100 - disc_cents): 10000*100 + 20000*100
    assert r["total_rev_c2"] == 3_000_000
    assert r["share_ppm"] == (1_000_000 * 1_000_000) // 3_000_000  # 333333


def test_late_sole_supplier_hand_computed(spark, tmp_path):
    """Order A: suppliers 1 (late) and 2 (on time) -> supplier 1 waits.
    Order B: both late -> nobody. Order C: single-supplier late ->
    nobody (no co-supplier held up). A supplier late on one line but on
    time on another of the SAME order is still late (max over lines).
    Boundary: exactly +LATE_DAYS is NOT late (strict >)."""
    from ocr_spark.operators.relational import LATE_DAYS, late_sole_supplier

    d = str(tmp_path)
    od = dt.datetime(2024, 1, 1)
    on_time = od + dt.timedelta(days=LATE_DAYS)  # boundary: not late
    late = od + dt.timedelta(days=LATE_DAYS + 1)
    _write(spark, d, "orders",
           [(1, 0, "O", 0.0, od, "1"), (2, 0, "O", 0.0, od, "1"),
            (3, 0, "O", 0.0, od, "1")],
           "o_orderkey long, o_custkey long, o_orderstatus string,"
           " o_totalprice double, o_orderdate timestamp,"
           " o_orderpriority string")
    _write(spark, d, "supplier",
           [(1, "SUP_1", 0, 0.0), (2, "SUP_2", 0, 0.0), (3, "SUP_3", 0, 0.0)],
           "s_suppkey long, s_name string, s_nationkey int,"
           " s_acctbal double")
    li = []
    # order 1: supplier 1 late on one line, on time on another; 2 on time
    li += [(1, 0, 1, 1, late), (1, 0, 1, 2, on_time), (1, 0, 2, 3, on_time)]
    # order 2: both suppliers late -> excluded (n_late == 2)
    li += [(2, 0, 1, 1, late), (2, 0, 3, 2, late)]
    # order 3: sole supplier late -> excluded (n_sup == 1)
    li += [(3, 0, 3, 1, late)]
    _write(spark, d, "lineitem",
           [(ok, pk, sk, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", sd)
            for ok, pk, sk, ln, sd in li],
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    out = late_sole_supplier(spark, d).collect()
    assert [(r["s_name"], r["numwait"]) for r in out] == [("SUP_1", 1)]


def test_multi_touch_attribution_hand_computed(spark, tmp_path):
    """Three crafted journeys: (a) click then view then purchase ->
    50/50 split, first=click, last=view; (b) purchase with no touch in
    window (only an 8-day-old click) -> the (none) row; (c) three
    clicks -> 333333+333333+333334, remainder to the LAST touch."""
    from ocr_spark.operators.relational import multi_touch_attribution

    d = str(tmp_path)
    t0 = dt.datetime(2024, 1, 10)

    def ev(eid, ts, uid, typ, val):
        return (eid, ts, uid, typ, val, "{}")

    rows = [
        # user 1: click, view, purchase 3.00
        ev(1, t0, 1, "click", 0.0),
        ev(2, t0 + dt.timedelta(hours=1), 1, "view", 0.0),
        ev(3, t0 + dt.timedelta(hours=2), 1, "purchase", 3.00),
        # user 2: stale click (8 days before), purchase 1.00
        ev(4, t0 - dt.timedelta(days=8), 2, "click", 0.0),
        ev(5, t0, 2, "purchase", 1.00),
        # user 3: three clicks, purchase 2.00
        ev(6, t0, 3, "click", 0.0),
        ev(7, t0 + dt.timedelta(hours=1), 3, "click", 0.0),
        ev(8, t0 + dt.timedelta(hours=2), 3, "click", 0.0),
        ev(9, t0 + dt.timedelta(hours=3), 3, "purchase", 2.00),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["channel"]: r for r in multi_touch_attribution(spark, d).collect()}
    assert set(out) == {"click", "view", "(none)"}
    c = out["click"]
    # conv 3 first touch is the click; conv 9's first AND last are clicks
    assert c["first_touch_convs"] == 2
    assert c["last_touch_convs"] == 1
    assert c["linear_credit_ppm"] == 500_000 + 1_000_000
    assert c["value_c_ppm"] == 500_000 * 300 + 1_000_000 * 200
    v = out["view"]
    assert v["first_touch_convs"] == 0 and v["last_touch_convs"] == 1
    assert v["linear_credit_ppm"] == 500_000
    assert v["value_c_ppm"] == 500_000 * 300
    n = out["(none)"]
    assert n["first_touch_convs"] == 1 and n["last_touch_convs"] == 1
    assert n["linear_credit_ppm"] == 1_000_000
    assert n["value_c_ppm"] == 100 * 1_000_000


def test_single_source_parts_hand_computed(spark, tmp_path):
    """Part 1: supplier A ships 5.00 of 7.00 total across 3 suppliers
    (500*3 > 700*2 -> dominant, share 714 milli); B and C are not.
    Part 2 has a single supplier -> excluded outright."""
    from ocr_spark.operators.relational import single_source_parts

    d = str(tmp_path)
    sd = dt.datetime(2024, 1, 1)
    li = [
        (1, 1, 10, 1, 2.5, 0.0, 0.0, 0.0, "N", "O", sd),
        (1, 1, 10, 2, 2.5, 0.0, 0.0, 0.0, "N", "O", sd),  # A: 5.00
        (2, 1, 11, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", sd),  # B: 1.00
        (3, 1, 12, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", sd),  # C: 1.00
        (4, 2, 10, 1, 9.0, 0.0, 0.0, 0.0, "N", "O", sd),  # lone supplier
    ]
    _write(spark, d, "lineitem",
           [(ok, pk, sk, ln, q, 0.0, 0.0, 0.0, "N", "O", s)
            for ok, pk, sk, ln, q, _e, _d, _t, _rf, _ls, s in li],
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    _write(spark, d, "part",
           [(1, "pn", "B1", "PROMO", 1, 1.0), (2, "pn", "B2", "SMALL", 1, 1.0)],
           "p_partkey long, p_name string, p_brand string, p_type string,"
           " p_size int, p_retailprice double")
    _write(spark, d, "supplier",
           [(10, "SUP_A", 0, 0.0), (11, "SUP_B", 0, 0.0), (12, "SUP_C", 0, 0.0)],
           "s_suppkey long, s_name string, s_nationkey int,"
           " s_acctbal double")
    out = single_source_parts(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["p_partkey"] == 1 and r["s_name"] == "SUP_A"
    assert r["supp_qty_c"] == 500 and r["part_qty_c"] == 700
    assert r["n_suppliers"] == 3
    assert r["share_milli"] == 500 * 1000 // 700  # 714


def test_market_basket_triples_apriori_prune_is_lossless(spark, tmp_path):
    """Crafted baskets: {1,2,3} appears in two orders (support 2, all
    2-subsets frequent -> kept); {4,5,6} appears once (support 1, and
    every one of its items/pairs is infrequent -> pruned at L1); a
    quantity-duplicated line must not inflate support."""
    from ocr_spark.operators.relational import market_basket_triples

    d = str(tmp_path)
    sd = dt.datetime(2024, 1, 1)
    baskets = {
        1: [1, 2, 3],
        2: [1, 2, 3],
        3: [4, 5, 6],
        4: [1, 2],      # pair-only order
    }
    rows = []
    ln = 0
    for ok, parts in baskets.items():
        for p in parts:
            ln += 1
            rows.append((ok, p, 1, ln, 1.0, 0.0, 0.0, 0.0, "N", "O", sd))
    # duplicate line (same order, same part) must not double-count
    rows.append((1, 1, 1, 99, 1.0, 0.0, 0.0, 0.0, "N", "O", sd))
    _write(spark, d, "lineitem", rows,
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    out = market_basket_triples(spark, d).collect()
    assert [(r["pa"], r["pb"], r["pc"], r["support"]) for r in out] == [
        (1, 2, 3, 2)
    ]


def test_min_cost_supplier_tie_and_truncdiv(spark, tmp_path):
    """Unit micro = price_c * 10000 div qty_c (trunc): 10.00/3.00 ->
    33333 micro beats 3.34/1.00 -> 33400; equal unit prices tie to the
    LOWER suppkey."""
    from ocr_spark.operators.relational import min_cost_supplier

    d = str(tmp_path)
    sd = dt.datetime(2024, 1, 1)
    li = [
        # part 1: supplier 9 at 33333 micro, supplier 2 at 33400
        (1, 1, 9, 1, 3.0, 10.00, 0.0, 0.0, "N", "O", sd),
        (2, 1, 2, 1, 1.0, 3.34, 0.0, 0.0, "N", "O", sd),
        # part 2: suppliers 7 and 3 both at exactly 20000 -> 3 wins
        (3, 2, 7, 1, 1.0, 2.00, 0.0, 0.0, "N", "O", sd),
        (4, 2, 3, 1, 2.0, 4.00, 0.0, 0.0, "N", "O", sd),
    ]
    _write(spark, d, "lineitem", li,
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    _write(spark, d, "supplier",
           [(2, "SUP_2", 0, 0.0), (3, "SUP_3", 0, 0.0),
            (7, "SUP_7", 0, 0.0), (9, "SUP_9", 0, 0.0)],
           "s_suppkey long, s_name string, s_nationkey int,"
           " s_acctbal double")
    out = {r["l_partkey"]: r for r in min_cost_supplier(spark, d).collect()}
    assert out[1]["s_name"] == "SUP_9"
    assert out[1]["unit_micro"] == 100000 * 10000 // 30000  # 33333
    assert out[2]["s_name"] == "SUP_3" and out[2]["unit_micro"] == 20000


def test_customer_order_distribution_keeps_zero_bucket(spark, tmp_path):
    """The Q13 gotcha: a customer whose ONLY order is urgent must land
    in the k=0 bucket — the priority filter lives in the join
    condition, so the left join still emits the customer."""
    from ocr_spark.operators.relational import customer_order_distribution

    d = str(tmp_path)
    t = dt.datetime(2024, 1, 1)
    _write(spark, d, "customer",
           [(1, "c1", 0, 0.0, "A"), (2, "c2", 0, 0.0, "A"),
            (3, "c3", 0, 0.0, "A")],
           "c_custkey long, c_name string, c_nationkey int,"
           " c_acctbal double, c_mktsegment string")
    _write(spark, d, "orders",
           [
               (10, 1, "O", 0.0, t, "1-URGENT"),   # cust 1: only urgent -> 0
               (11, 2, "O", 0.0, t, "2-HIGH"),
               (12, 2, "O", 0.0, t, "1-URGENT"),   # cust 2: 1 non-urgent
               # cust 3: no orders at all -> 0
           ],
           "o_orderkey long, o_custkey long, o_orderstatus string,"
           " o_totalprice double, o_orderdate timestamp,"
           " o_orderpriority string")
    out = {r["n_orders"]: r["n_customers"]
           for r in customer_order_distribution(spark, d).collect()}
    assert out == {0: 2, 1: 1}


def test_q11_and_q18_strict_thresholds(spark, tmp_path):
    """Boundary semantics: a part at EXACTLY the share threshold stays
    out (strict >) and an order at exactly Q18_MIN_QTY_C stays out."""
    from ocr_spark.operators.relational import (
        Q18_MIN_QTY_C,
        large_volume_orders,
        revenue_concentrated_parts,
    )

    d = str(tmp_path)
    sd = dt.datetime(2024, 1, 1)
    # Q11: craft total revenue exactly 1_000_000 c2 (rev_c2 =
    # round(price*100) * 100 at zero discount): part 1 = 979_300,
    # part 2 = 700 (EXACTLY 700 ppm -> strict > excludes it), part 3
    # (the Q18 qty rows) = 20_000 -> kept.
    li = [
        (1, 1, 1, 1, 1.0, 97.93, 0.0, 0.0, "N", "O", sd),   # 979300 c2
        (2, 2, 1, 1, 1.0, 0.07, 0.0, 0.0, "N", "O", sd),    # 700 c2
        # Q18: order 3 total qty exactly at threshold -> out;
        # order 4 one centi-unit above -> in
        (3, 3, 1, 1, Q18_MIN_QTY_C / 100, 1.0, 0.0, 0.0, "N", "O", sd),
        (4, 3, 1, 1, (Q18_MIN_QTY_C + 1) / 100, 1.0, 0.0, 0.0, "N", "O", sd),
    ]
    _write(spark, d, "lineitem", li,
           "l_orderkey long, l_partkey long, l_suppkey long,"
           " l_linenumber int, l_quantity double, l_extendedprice double,"
           " l_discount double, l_tax double, l_returnflag string,"
           " l_linestatus string, l_shipdate timestamp")
    _write(spark, d, "orders",
           [(1, 1, "O", 1.0, sd, "2-HIGH"), (2, 1, "O", 1.0, sd, "2-HIGH"),
            (3, 1, "O", 1.0, sd, "2-HIGH"), (4, 1, "O", 1.0, sd, "2-HIGH")],
           "o_orderkey long, o_custkey long, o_orderstatus string,"
           " o_totalprice double, o_orderdate timestamp,"
           " o_orderpriority string")
    _write(spark, d, "customer", [(1, "c1", 0, 0.0, "A")],
           "c_custkey long, c_name string, c_nationkey int,"
           " c_acctbal double, c_mktsegment string")
    q11 = revenue_concentrated_parts(spark, d).collect()
    assert [r["l_partkey"] for r in q11] == [1, 3]
    assert q11[0]["share_ppm"] == 979_300  # of the exact 1e6 total
    assert q11[1]["share_ppm"] == 20_000
    q18 = large_volume_orders(spark, d).collect()
    assert [r["o_orderkey"] for r in q18] == [4]
    assert q18[0]["total_qty_c"] == Q18_MIN_QTY_C + 1


def test_mmr_second_pick_is_diverse(spark, tmp_path):
    """Two-facet query [1,1,0]: vec 10 covers facet A best (top
    relevance), vec 11 also covers facet A (redundant, sim(10,11)
    ~1.0), vec 12 covers facet B (equal pure relevance to 11 but
    near-zero sim to the picked 10).  Pick 1 must be 10; pick 2 must
    be 12 — the redundancy penalty outweighs the tie in relevance."""
    from ocr_spark.operators.similarity import mmr_diversify

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, [1.0, 1.0, 0.0], 0),
            (10, [1.0, 0.05, 0.0], 1),  # facet A + a nudge: top rel
            (11, [1.0, 0.0, 0.0], 2),   # facet A clone: sim to 10 ~1.0
            (12, [0.0, 1.0, 0.0], 3),   # facet B: same rel as 11, sim ~0
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = mmr_diversify(spark, d).collect()
    assert [r["vec_id"] for r in out] == [10, 12, 11]
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks)


def test_theil_sen_ignores_outlier_day(spark, tmp_path):
    """Daily cents 100,200,300,305 on days 0..3 plus one flash-sale day
    (day 4, 100000): 4 of the 10 pairwise slopes involve the outlier,
    but the lower median (rank 5) stays at a calm-slope value — the
    estimator's 29% breakdown point in miniature."""
    import datetime

    from ocr_spark.operators.relational import TS_EPOCH, theil_sen_trend

    d = str(tmp_path)
    base = datetime.datetime.fromisoformat(TS_EPOCH)
    rows, oid = [], 0
    for day, cents in [(0, 100), (1, 200), (2, 300), (3, 305), (4, 100000)]:
        rows.append(
            (oid, oid, "O", cents / 100.0,
             base + datetime.timedelta(days=day), "1-URGENT")
        )
        oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = theil_sen_trend(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 5 and r["n_pairs"] == 10
    # slopes (milli-cents/day) sorted: the rank-5 lower median is the
    # 68333 pair slope (300->305 over 1 day = 5000 sits lower; the
    # outlier slopes ~25k-100k occupy the top four ranks)
    slopes = []
    vals = {0: 100, 1: 200, 2: 300, 3: 305, 4: 100000}
    for a in range(5):
        for b in range(a + 1, 5):
            num = (vals[b] - vals[a]) * 1000
            den = b - a
            slopes.append(int(num / den) if num >= 0 else -int(-num // den))
    slopes.sort()
    assert r["slope_milli_per_day"] == slopes[(10 + 1) // 2 - 1]
    assert r["slope_milli_per_day"] < 110_000  # not the outlier slope


def test_js_divergence_zero_on_identical_halves(spark, tmp_path):
    """Even/odd halves with identical term multisets -> every term has
    p == q, each contribution ln(1) = 0, js_micro exactly 0."""
    from ocr_spark.operators.text_analysis import js_divergence_drift

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "alpha beta gamma", "en", "web", 16),
            (1, "alpha beta gamma", "en", "web", 16),
            (2, "beta delta", "en", "web", 10),
            (3, "beta delta", "en", "web", 10),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = js_divergence_drift(spark, d).collect()
    assert len(out) == 1
    assert out[0]["js_micro"] == 0
    assert out[0]["n_terms"] == 4
    assert out[0]["tot_a"] == out[0]["tot_b"] == 5


def test_edit_distance_catches_small_edits(spark, tmp_path):
    """Two long docs differing by one character land in the same LSH
    bucket (identical shingles bar one) and survive the edit verify
    with a tiny dist_ppm; an unrelated doc never pairs."""
    from ocr_spark.operators.dedup import edit_distance_near_dup

    d = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog " * 8
    spark.createDataFrame(
        [
            (1, base + "tail one", "en", "web", 100),
            (2, base + "tail onX", "en", "web", 100),
            (3, "completely different content with no overlap at all "
                "zebra quartz vortex " * 6, "en", "web", 100),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = edit_distance_near_dup(spark, d).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["lev"] == 1
    assert pairs[(1, 2)]["dist_ppm"] < 10_000
    assert all(3 not in p for p in pairs)


def test_ring_reshard_moves_only_into_new_shard(spark, tmp_path):
    """Consistent-hashing contract on 400 keys: totals conserved, every
    moved key lands in the NEW shard (existing shards never trade keys
    with each other), and the moved fraction is near 1/(N+1) — far
    below the ~N/(N+1) a modulo scheme would move."""
    from ocr_spark.operators.relational import (
        RING_SHARDS,
        ring_reshard_movement,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"doc {i}", "en", "web", 10) for i in range(400)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["shard"]: r for r in ring_reshard_movement(spark, d).collect()}
    assert set(rows) == set(range(RING_SHARDS + 1))
    n_before = sum(r["n_before"] for r in rows.values())
    n_after = sum(r["n_after"] for r in rows.values())
    assert n_before == n_after == 400
    assert rows[RING_SHARDS]["n_before"] == 0  # new shard starts empty
    moved = sum(r["n_moved_out"] for r in rows.values())
    # every moved key went INTO the new shard
    assert moved == rows[RING_SHARDS]["n_after"]
    assert rows[RING_SHARDS]["n_moved_out"] == 0
    # movement ~ 1/(N+1) of keys (44 expected at N=8); far from N/(N+1)
    assert 0 < moved < 400 * 3 // (RING_SHARDS + 1)


def test_isotonic_calibration_is_monotone_and_mass_preserving(
    spark, tmp_path
):
    """The fitted curve must never decrease across buckets, must agree
    with the raw rate wherever the raw curve is already isotonic from
    both sides, and PAV pooling preserves kept/doc mass per pool (here:
    checked via the fixture corpus at sf0.001)."""
    from ocr_spark.operators.text_analysis import isotonic_calibration

    out = isotonic_calibration(spark, "/root/testdata/sf0.001").collect()
    assert out, "calibration table empty"
    isos = [r["iso_ppm"] for r in out]
    assert isos == sorted(isos)  # non-decreasing
    for r in out:
        assert 0 <= r["iso_ppm"] <= 1_000_000


def test_effective_diameter_bounds(spark):
    from ocr_spark.operators.web_extract import HB_HOPS, effective_diameter

    out = effective_diameter(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 1
    r = out[0]
    assert 0 <= r["eff_diameter_est_milli"] <= HB_HOPS * 1000
    assert 0 <= r["eff_diameter_exact_milli"] <= HB_HOPS * 1000
    assert r["plateau_exact_pairs"] > 0


def test_canonical_pick_prefers_quality_over_min_id(spark, tmp_path):
    """Docs 1 and 2 are one-character near-dups (same LSH cluster); doc
    1 (the lower id) is degraded with a repeated token so its
    distinct-token ratio — hence quality — drops below doc 2's.  The
    canonical pick must be doc 2, flagged as differing from the naive
    min-id survivor."""
    from ocr_spark.operators.dedup import dedup_canonical_pick

    d = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog " * 8
    spark.createDataFrame(
        [
            (1, base + "spam spam spam spam", "en", "web", 100),
            (2, base + "crisp novel ending words", "en", "web", 100),
            (3, "totally unrelated filler content zebra quartz " * 8,
             "en", "web", 100),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = dedup_canonical_pick(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_members"] == 2
    assert r["canonical_doc"] == 2
    assert r["naive_min_doc"] == 1
    assert r["pick_differs"] == 1


def test_term_burstiness_separates_bursty_from_spread(spark, tmp_path):
    """'topic' appears 4x in each of 3 docs (bursty, cf/df = 4);
    'the' appears once in all 6 docs (spread, cf/df = 1): burst_ppm
    must rank topic first at exactly 4e6 vs 1e6."""
    from ocr_spark.operators.text_analysis import term_burstiness

    d = str(tmp_path)
    rows = []
    for i in range(3):
        rows.append((i, "the topic topic topic topic", "en", "web", 30))
    for i in range(3, 6):
        rows.append((i, "the calm words here", "en", "web", 20))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["term"]: r for r in term_burstiness(spark, d).collect()}
    assert out["topic"]["df"] == 3 and out["topic"]["cf"] == 12
    assert out["topic"]["burst_ppm"] == 4_000_000
    assert out["the"]["df"] == 6 and out["the"]["burst_ppm"] == 1_000_000
    top = term_burstiness(spark, d).collect()[0]
    assert top["term"] == "topic"


def test_clustering_coefficient_invariants(spark):
    from ocr_spark.operators.web_extract import clustering_coefficient

    rows = clustering_coefficient(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["cc_ppm"] <= 1_000_000
        if r["deg"] < 2:
            assert r["cc_ppm"] == 0 and r["n_triangles"] == 0
        # a triangle needs two neighbors; count bounded by wedges
        assert 2 * r["n_triangles"] <= r["deg"] * (r["deg"] - 1) or (
            r["deg"] < 2
        )


def test_graph_reciprocity_bounds(spark):
    from ocr_spark.operators.web_extract import graph_reciprocity

    out = graph_reciprocity(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_edges"] > 0
    assert 0 <= r["n_reciprocated"] <= r["n_edges"]
    assert 0 <= r["reciprocity_ppm"] <= 1_000_000


def test_lang_id_confusion_diagonal_dominates(spark, tmp_path):
    """Crafted corpus: 3 clearly-English docs labeled en, one stopword-
    free doc labeled es that must fall to unk — diagonal (en,en)=3,
    off-diagonal (es,unk)=1, class rates exact."""
    from ocr_spark.operators.text_analysis import lang_id_confusion

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "the cat and the dog are in the house", "en", "web", 30),
            (1, "she is the one with the hat", "en", "web", 20),
            (2, "it was the best of times", "en", "web", 20),
            (3, "zxqj vortex quartz", "es", "web", 15),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {(r["true_lang"], r["pred_lang"]): r
           for r in lang_id_confusion(spark, d).collect()}
    assert out[("en", "en")]["n_docs"] == 3
    assert out[("en", "en")]["cell_ppm"] == 1_000_000
    assert out[("es", "unk")]["n_docs"] == 1
    assert out[("es", "unk")]["cell_ppm"] == 1_000_000


def test_scc_labels_fully_connected_small_graph(spark, tmp_path):
    """With n=4 the synthetic edge rules give every ordered pair a
    path (hand-checked), so the whole graph is ONE SCC labeled by its
    minimum member 0 with size 4."""
    from ocr_spark.operators.web_extract import scc_labels

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"doc {i}", "en", "web", 10) for i in range(4)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = scc_labels(spark, d).collect()
    assert len(rows) == 4
    assert all(r["scc_id"] == 0 and r["scc_size"] == 4 for r in rows)


def test_scc_labels_partition_invariants(spark):
    """Every document gets exactly one label; per-label cardinality
    matches the reported scc_size; labels are their own minimum."""
    import collections

    from ocr_spark.operators.web_extract import scc_labels

    rows = scc_labels(spark, "/root/testdata/sf0.001").collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    by_id = collections.defaultdict(list)
    for r in rows:
        by_id[r["scc_id"]].append(r)
    for sid, members in by_id.items():
        assert all(m["scc_size"] == len(members) for m in members)
        assert min(m["doc_id"] for m in members) == sid


def test_bowtie_classes_are_consistent(spark, tmp_path):
    """n=4 graph is fully strongly connected -> every node 'scc'; the
    sf0.001 fixture must label every doc with a legal class and any
    'in' node must not be reachable-only ('out') by construction."""
    from ocr_spark.operators.web_extract import bowtie_decomposition

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"doc {i}", "en", "web", 10) for i in range(4)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    small = bowtie_decomposition(spark, d).collect()
    assert all(r["node_class"] == "scc" for r in small)

    rows = bowtie_decomposition(spark, "/root/testdata/sf0.001").collect()
    legal = {"scc", "in", "out", "tendril_or_disc"}
    assert rows and all(r["node_class"] in legal for r in rows)


def test_kmeans_coreset_ranks_by_distance(spark):
    import collections

    from ocr_spark.operators.similarity import (
        CORESET_PER_CLUSTER,
        kmeans_coreset,
    )

    rows = kmeans_coreset(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_c = collections.defaultdict(list)
    for r in rows:
        by_c[r["cluster"]].append(r)
    for members in by_c.values():
        members.sort(key=lambda r: r["rank"])
        assert [m["rank"] for m in members] == list(
            range(1, len(members) + 1)
        )
        assert len(members) <= CORESET_PER_CLUSTER
        dists = [m["dist_sq_micro"] for m in members]
        assert dists == sorted(dists)


def test_skipgram_pairs_window_and_symmetry(spark, tmp_path):
    """Two copies of 'a b c': window ±2 gives each ordered pair among
    {a,b,c} count 2; the relation is symmetric."""
    from ocr_spark.operators.text_analysis import skipgram_pairs

    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "a b c", "en", "web", 5), (1, "a b c", "en", "web", 5)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {(r["center"], r["context"]): r["n"]
           for r in skipgram_pairs(spark, d).collect()}
    expect = {(a, b) for a in "abc" for b in "abc" if a != b}
    assert set(out) == expect
    assert all(n == 2 for n in out.values())


def test_seasonal_decompose_flat_series_has_zero_parts(spark, tmp_path):
    """A constant 10.00/day series: trend == level, seasonal == 0,
    residual == 0 on every day."""
    import datetime

    from ocr_spark.operators.relational import (
        TS_EPOCH,
        seasonal_trend_decompose,
    )

    d = str(tmp_path)
    base = datetime.datetime.fromisoformat(TS_EPOCH)
    rows = [
        (i, i, "O", 10.0, base + datetime.timedelta(days=i), "5-LOW")
        for i in range(28)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = seasonal_trend_decompose(spark, d).collect()
    assert len(out) == 28
    for r in out:
        assert r["cents"] == 1000
        assert r["trend_milli"] == 1_000_000
        assert r["seasonal_milli"] == 0
        assert r["residual_milli"] == 0


def test_perplexity_buckets_partition_each_language(spark, tmp_path):
    """Six docs with distinct perplexities in one language split 2/2/2
    across head/middle/tail; counts always sum to the language total."""
    from ocr_spark.operators.text_analysis import perplexity_bucket_mix

    d = str(tmp_path)
    texts = [
        "common common common common",
        "common common common rare1",
        "common common rare1 rare2",
        "common rare1 rare2 rare3",
        "rare1 rare2 rare3 rare4",
        "rare5 rare6 rare7 rare8",
    ]
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["bucket"]: r for r in perplexity_bucket_mix(spark, d).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in out.values()) == 6
    assert out["head"]["n_docs"] == 2
    assert out["middle"]["n_docs"] == 2
    assert out["tail"]["n_docs"] == 2


def test_entropy_rate_zero_for_deterministic_chain(spark, tmp_path):
    """Source 'det' repeats 'a b' (next token fully determined -> rate
    exactly 0); source 'mix' alternates continuations -> rate > 0."""
    from ocr_spark.operators.text_analysis import entropy_rate

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "a b a b a b a b", "en", "det", 15),
            (1, "x y x z x y x z", "en", "mix", 15),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["source"]: r for r in entropy_rate(spark, d).collect()}
    assert out["det"]["entropy_rate_micro"] == 0
    assert out["mix"]["entropy_rate_micro"] > 0


def test_lsh_param_sweep_s_curve_monotonicity(spark):
    """More bands (fewer rows per band) can only add collisions: the
    candidate count and recall are non-decreasing in the band count,
    and hits never exceed either side."""
    from ocr_spark.operators.dedup import lsh_param_sweep

    rows = sorted(
        lsh_param_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["bands"],
    )
    assert [r["bands"] for r in rows] == [1, 2, 4, 8]
    cands = [r["n_candidates"] for r in rows]
    recalls = [r["recall_ppm"] for r in rows]
    assert cands == sorted(cands)
    assert recalls == sorted(recalls)
    for r in rows:
        assert r["n_hits"] <= min(r["n_truth"], r["n_candidates"])
        assert r["n_truth"] == rows[0]["n_truth"]  # shared truth set


def test_graph_modularity_partition_accounting(spark):
    """Within-community edges can't exceed m; per-community node and
    degree sums must account for the whole graph exactly once; every
    contribution lies in the theoretical [-1e6, 1e6] band."""
    from ocr_spark.operators.web_extract import graph_modularity

    rows = graph_modularity(spark, "/root/testdata/sf0.001").collect()
    assert rows
    tot_nodes = sum(r["n_nodes"] for r in rows)
    docs_n = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert tot_nodes == docs_n
    for r in rows:
        assert -1_000_000 <= r["contrib_ppm"] <= 1_000_000
        assert r["e_within"] * 2 <= r["degree_sum"]


def test_geo_cell_pairs_complete_vs_brute_force(spark, tmp_path):
    """Grid-join completeness: every brute-force pair within R is found
    (including pairs straddling cell boundaries) and nothing extra —
    checked against an independent O(n^2) Python loop over the same
    derived coordinates."""
    from ocr_spark.operators.relational import (
        _GEO_AX, _GEO_AY, _GEO_QX, _GEO_QY, GEO_R, GEO_W, geo_cell_pairs,
    )

    d = str(tmp_path)
    n = 400
    spark.createDataFrame(
        [(i, f"c{i}", 0, 0.0, "SEG") for i in range(n)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    pts = {
        k: (
            (k * k * _GEO_QX + k * _GEO_AX) % GEO_W,
            (k * k * _GEO_QY + k * _GEO_AY) % GEO_W,
        )
        for k in range(n)
    }
    expect = {}
    for a in range(n):
        for b in range(a + 1, n):
            d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
            if d2 <= GEO_R * GEO_R:
                expect[(a, b)] = d2
    got = {
        (r["key_a"], r["key_b"]): r["dist2"]
        for r in geo_cell_pairs(spark, d).collect()
    }
    assert expect, "crafted corpus must contain at least one pair"
    assert got == expect


def test_session_covisitation_respects_session_cut(spark, tmp_path):
    """Transitions count only INSIDE a session: a 31-minute gap breaks
    the chain, self-transitions are dropped, and counts accumulate per
    ordered pair."""
    from datetime import datetime, timedelta

    from ocr_spark.operators.relational import session_covisitation

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # items: event_id*13 % 200 -> choose ids giving known items
    # e=1 -> 13, e=2 -> 26, e=3 -> 39, e=201 -> (2613 % 200)=13
    rows = [
        (1, t0, 7, "view", 0.0, "{}"),                       # item 13
        (2, t0 + timedelta(minutes=5), 7, "view", 0.0, "{}"),  # item 26
        (3, t0 + timedelta(minutes=10), 7, "view", 0.0, "{}"),  # item 39
        # 31-minute gap -> new session; transition 39->13 must NOT count
        (201, t0 + timedelta(minutes=41), 7, "view", 0.0, "{}"),  # item 13
        (202, t0 + timedelta(minutes=42), 7, "view", 0.0, "{}"),  # item 26
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        (r["item_a"], r["item_b"]): r["n_covisits"]
        for r in session_covisitation(spark, d).collect()
    }
    assert got == {(13, 26): 2, (26, 39): 1}


def test_geo_dbscan_matches_python_reference(spark, tmp_path):
    """Independent numpy/union-find DBSCAN over the same derived
    coordinates (dense 3000-point corpus so real clusters form): roles
    and min-labeled clusters must match exactly, including the
    deterministic min-core border attachment."""
    import numpy as np

    from ocr_spark.operators.relational import (
        _GEO_AX, _GEO_AY, _GEO_QX, _GEO_QY, GEO_MINPTS, GEO_R, GEO_W,
        geo_dbscan,
    )

    d = str(tmp_path)
    n = 3000
    spark.createDataFrame(
        [(i, f"c{i}", 0, 0.0, "SEG") for i in range(n)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    ks = np.arange(n, dtype=np.int64)
    x = (ks * ks * _GEO_QX + ks * _GEO_AX) % GEO_W
    y = (ks * ks * _GEO_QY + ks * _GEO_AY) % GEO_W
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    within = (dx * dx + dy * dy) <= GEO_R * GEO_R
    np.fill_diagonal(within, False)
    n_nb = within.sum(axis=1)
    is_core = n_nb >= GEO_MINPTS
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a in range(n):
        if not is_core[a]:
            continue
        for b in np.nonzero(within[a])[0]:
            if b > a and is_core[b]:
                ra, rb = find(a), find(int(b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    cid = {}
    for a in range(n):
        if is_core[a]:
            cid[a] = find(a)
    expect = {}
    for a in range(n):
        if is_core[a]:
            expect[a] = ("core", cid[a])
        else:
            cores_nb = [cid[int(b)] for b in np.nonzero(within[a])[0]
                        if is_core[b]]
            if cores_nb:
                expect[a] = ("border", min(cores_nb))
            else:
                expect[a] = ("noise", -1)
    got = {
        r["key"]: (r["role"], r["cluster_id"], r["n_neighbors"])
        for r in geo_dbscan(spark, d).collect()
    }
    assert len(got) == n
    roles = {"core": 0, "border": 0, "noise": 0}
    for k, (role, c, nb) in got.items():
        assert (role, c) == expect[k], k
        assert nb == n_nb[k]
        roles[role] += 1
    # the crafted density really exercises all three roles
    assert min(roles.values()) > 0, roles


def test_pca_power_iteration_fixed_point_and_direction(spark, sf_dir):
    """Bit-exact replay of the quantize/covariance/shrink/power-sweep
    arithmetic from the raw parquet (independent pyarrow path), plus a
    quality gate: the fixed-point iterate must align with numpy's true
    top eigenvector of the same shrunk covariance (|cos| >= 0.98)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import (
        PCA_CCAP, PCA_DIMS, PCA_ITERS, PCA_QS, PCA_VS,
        _tdiv, pca_power_iteration,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    X = np.array(
        [e[:PCA_DIMS] for e in t["embedding"].to_pylist()], dtype=np.float64
    )
    q = np.round(X * PCA_QS).astype(object)  # python ints: no overflow
    n = len(q)
    s = q.sum(axis=0)
    P = (q.T @ q)
    C = n * P - np.outer(s, s)
    shrink = int(max(abs(int(c)) for c in C.flatten())) // PCA_CCAP + 1
    Cs = [[_tdiv(int(C[j][k]), shrink) for k in range(PCA_DIMS)]
          for j in range(PCA_DIMS)]
    v = [PCA_VS] * PCA_DIMS
    for _ in range(PCA_ITERS):
        u = [sum(Cs[j][k] * v[k] for k in range(PCA_DIMS))
             for j in range(PCA_DIMS)]
        m = max(abs(x) for x in u)
        if m == 0:
            break
        v = [_tdiv(u[j] * PCA_VS, m) for j in range(PCA_DIMS)]
    got = {r["dim_idx"]: r["loading_milli"]
           for r in pca_power_iteration(spark, sf_dir).collect()}
    assert got == {j: v[j] for j in range(PCA_DIMS)}
    # direction quality vs true eigenvector of the same matrix
    Cf = np.array([[float(Cs[j][k]) for k in range(PCA_DIMS)]
                   for j in range(PCA_DIMS)])
    w, vecs = np.linalg.eigh(Cf)
    top = vecs[:, int(np.argmax(w))]
    vf = np.array([float(x) for x in v])
    cos = abs(vf @ top) / (np.linalg.norm(vf) * np.linalg.norm(top))
    assert cos >= 0.98, cos


def test_histogram_quantile_sketch_exact_and_bound(spark, tmp_path):
    """100 known prices (1..100 dollars): exact order statistics are
    5000/9000/9900 cents, the realized rank error of every estimate
    stays within its located bucket's occupancy (the sketch
    guarantee), and within_bound reports 1."""
    from ocr_spark.operators.relational import histogram_quantile_sketch

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (i, i, 1, 1, 1.0, float(i), 0.0, 0.0, "N", "O",
             __import__("datetime").datetime(2024, 1, 1))
            for i in range(1, 101)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    rows = {r["q_pct"]: r
            for r in histogram_quantile_sketch(spark, d).collect()}
    assert set(rows) == {50, 90, 99}
    assert rows[50]["exact_cents"] == 5000
    assert rows[90]["exact_cents"] == 9000
    assert rows[99]["exact_cents"] == 9900
    for r in rows.values():
        assert r["n"] == 100
        assert r["within_bound"] == 1
        assert r["rank_err"] <= r["bucket_n"]


def test_skew_salt_plan_bounds_reducer(spark, tmp_path):
    """1200 rows on one key + 10 on another (target 500): the hot key
    plans salt_n=3 with projected_max 400 <= target; the cold key stays
    unsalted with projected_max = its own count."""
    from datetime import datetime, timedelta

    from ocr_spark.operators.relational import skew_salt_plan

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(seconds=i), i % 7, "hot", 1.0, "{}")
            for i in range(1200)]
    rows += [(10_000 + i, t0 + timedelta(seconds=i), 1, "cold", 1.0, "{}")
             for i in range(10)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["key"]: r for r in skew_salt_plan(spark, d).collect()}
    assert got["hot"]["salt_n"] == 3
    assert got["hot"]["projected_max"] == 400
    assert got["hot"]["is_hot"] == 1
    assert got["cold"]["salt_n"] == 1
    assert got["cold"]["projected_max"] == 10
    assert got["cold"]["is_hot"] == 0


def test_embedding_health_audit_flags(spark, tmp_path):
    """Crafted corpus: one zero vector, one duplicated vector pair,
    known norms — every audit metric hand-verified."""
    from ocr_spark.operators.similarity import embedding_health_audit

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 0.0, 0.0, 0.0], 0),       # zero vector
            (2, [0.5, 0.5, 0.0, 0.0], 1),
            (3, [0.5, 0.5, 0.0, 0.0], 1),       # exact dup of 2
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    card = {r["metric"]: r["value"]
            for r in embedding_health_audit(spark, d).collect()}
    assert card == {
        "dup_vecs": 2,
        "max_norm2_milli2": 1_000_000,
        "min_norm2_milli2": 0,
        "n_dims": 4,
        "n_vecs": 4,
        "n_zero_vecs": 1,
        "sum_norm2_milli2": 2_000_000,
    }


def test_maxsim_matches_python_replay(spark, sf_dir):
    """Exact replay of quantize -> per-query-token max dot -> sum ->
    per-query top-K in pure Python over the raw parquet."""
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import (
        MAXSIM_GROUP, MAXSIM_QMOD, MAXSIM_TOPK,
        maxsim_late_interaction_topk,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    toks = {}
    for vid, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()):
        qv = [round(float(x) * 1000) for x in e]
        toks.setdefault(int(vid) // MAXSIM_GROUP, []).append(qv)
    queries = {d: v for d, v in toks.items() if d % MAXSIM_QMOD == 0}
    docs = {d: v for d, v in toks.items() if d % MAXSIM_QMOD != 0}
    expect = {}
    for qd, qtoks in queries.items():
        scores = []
        for dd, dtoks in docs.items():
            s = sum(
                max(sum(a * b for a, b in zip(qt, dt)) for dt in dtoks)
                for qt in qtoks
            )
            scores.append((-s, dd))
        scores.sort()
        for rk, (neg, dd) in enumerate(scores[:MAXSIM_TOPK], 1):
            expect[(qd, dd)] = (-neg, rk)
    got = {
        (r["q_doc"], r["d_doc"]): (r["maxsim_milli2"], r["rk"])
        for r in maxsim_late_interaction_topk(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == len(queries) * MAXSIM_TOPK


def test_brier_decomposition_identity_and_extremes(spark, tmp_path):
    """Perfectly calibrated two-bin forecasts: reliability ~ 0,
    resolution equals its hand value, and the Murphy identity holds to
    per-bin rounding (|gap| <= bins ppm)."""
    from datetime import datetime

    from ocr_spark.operators.relational import brier_decomposition

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # bin p=0.05 (c=5): 20 events, exactly 1 purchase (rate 0.05)
    for i in range(20):
        rows.append((eid, t0, 1, "purchase" if i == 0 else "view",
                     1.05, "{}"))
        eid += 1
    # bin p=0.95 (c=95): 20 events, 19 purchases (rate 0.95)
    for i in range(20):
        rows.append((eid, t0, 1, "view" if i == 0 else "purchase",
                     1.95, "{}"))
        eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = brier_decomposition(spark, d).collect()[0]
    assert r["n"] == 40 and r["n_pos"] == 20
    # calibrated: mean forecast per bin == outcome rate per bin
    assert r["reliability_ppm"] == 0
    # resolution = mean (rate_k - 0.5)^2 = 0.45^2 = 0.2025
    assert abs(r["resolution_ppm"] - 202_500) <= 2
    assert r["uncertainty_ppm"] == 250_000  # 0.5 * 0.5
    # BS = rel - res + unc = 0.0475
    assert abs(r["brier_ppm"] - 47_500) <= 2
    assert abs(r["identity_gap_ppm"]) <= 10


def test_neyman_allocation_hand_case(spark, tmp_path):
    """Two strata with equal size but 10x the spread: allocation
    follows N_h*sigma_h (roughly 10:1), sums exactly to the budget,
    and a zero-variance stratum gets weight 0."""
    from datetime import datetime

    from ocr_spark.operators.relational import (
        NEYMAN_BUDGET,
        neyman_allocation,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(100):  # wide: alternate 0.00 / 20.00 -> sigma 1000c
        rows.append((eid, t0, 1, "wide", 0.0 if i % 2 == 0 else 20.0, "{}"))
        eid += 1
    for i in range(100):  # narrow: alternate 0.00 / 2.00 -> sigma 100c
        rows.append((eid, t0, 1, "narrow", 0.0 if i % 2 == 0 else 2.0, "{}"))
        eid += 1
    for i in range(50):  # constant: zero variance
        rows.append((eid, t0, 1, "const", 5.0, "{}"))
        eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["event_type"]: r for r in neyman_allocation(spark, d).collect()}
    assert got["const"]["weight"] == 0 and got["const"]["alloc"] == 0
    assert sum(r["alloc"] for r in got.values()) == NEYMAN_BUDGET
    # weight ratio exactly 10 (same n, sigma ratio 10)
    assert got["wide"]["weight"] == 10 * got["narrow"]["weight"]
    assert got["wide"]["alloc"] == 909 and got["narrow"]["alloc"] == 91


def test_cuped_kills_preperiod_variance(spark, tmp_path):
    """Crafted experiment where post = pre (perfect predictor): theta
    = 1.0 (ppm), correlation^2 = 1.0, and the adjusted mean equals the
    pooled grand mean in BOTH arms — the between-user variance x
    predicts is fully removed — while raw means differ by arm."""
    from datetime import datetime

    from ocr_spark.operators.relational import cuped_adjusted_metric

    pre, post = datetime(2024, 1, 10), datetime(2024, 1, 20)
    rows = []
    eid = 0
    for u in range(40):
        spend = 1.0 + (u % 7)  # heavy between-user variance
        rows.append((eid, pre, u, "view", spend, "{}")); eid += 1
        rows.append((eid, post, u, "view", spend, "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["arm"]: r for r in cuped_adjusted_metric(spark, d).collect()}
    assert set(got) == {0, 1}
    r0, r1 = got[0], got[1]
    assert r0["theta_ppm"] == 1_000_000
    assert r0["var_reduction_ppm"] == 1_000_000
    # arms see different user residues -> raw means differ
    assert r0["raw_mean_micro"] != r1["raw_mean_micro"]
    # adjusted means collapse to the grand mean (equal across arms)
    assert r0["adj_mean_micro"] == r1["adj_mean_micro"]


def test_srm_check_alarm_boundary(spark, tmp_path):
    """Balanced split: no alarm; a 70/30 corruption: alarm fires and
    chi2 matches the hand value (a-b)^2/n."""
    from datetime import datetime

    from ocr_spark.operators.relational import srm_check

    t0 = datetime(2024, 1, 1)

    def write(users, path):
        rows = [(i, t0, u, "view", 1.0, "{}") for i, u in enumerate(users)]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{path}/events.parquet")

    ok = str(tmp_path / "ok")
    write(list(range(100)), ok)  # 50/50
    r = srm_check(spark, ok).collect()[0]
    assert r["arm0"] == r["arm1"] == 50
    assert r["chi2_milli"] == 0 and r["srm_alarm"] == 0
    bad = str(tmp_path / "bad")
    # 70 even users, 30 odd users
    write([2 * i for i in range(70)] + [2 * i + 1 for i in range(30)], bad)
    r = srm_check(spark, bad).collect()[0]
    assert (r["arm0"], r["arm1"]) == (70, 30)
    assert r["chi2_milli"] == 16_000  # (40^2)/100 = 16.0
    assert r["srm_alarm"] == 1


def test_poisson_bootstrap_replay(spark, sf_dir):
    """Exact Python replay of the hash-weighted replica means and the
    floor-div/isqrt CI protocol from the raw parquet."""
    import hashlib
    import math

    import duckdb

    from ocr_spark.operators.relational import (
        _POIS1_CDF_PPM, BOOT_B, poisson_bootstrap_ci,
    )

    pu = duckdb.sql(
        "select user_id, sum(cast(round(value * 100) as bigint)) as y "
        f"from read_parquet('{sf_dir}/events.parquet') group by 1"
    ).fetchall()
    means = []
    for b in range(BOOT_B):
        s = wsum = 0
        for uid, y in pu:
            u = int(
                hashlib.md5(f"{uid}:{b}".encode()).hexdigest()[:8], 16
            ) % 1_000_000
            w = sum(1 for t in _POIS1_CDF_PPM if u >= t)
            s += w * int(y)
            wsum += w
        if wsum > 0:
            means.append((2 * 1_000_000 * s + wsum) // (2 * wsum))
    B = len(means)
    M = sum(means)
    var_num = B * sum(m * m for m in means) - M * M
    samp_var = max(var_num, 0) // (B * (B - 1))
    std = math.isqrt(samp_var)
    n = len(pu)
    sy = sum(int(y) for _, y in pu)
    r = poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r["n_users"] == n and r["b_replicas"] == B
    assert r["point_mean_micro"] == (2 * 1_000_000 * sy + n) // (2 * n)
    assert r["boot_std_micro"] == std
    assert r["ci95_halfwidth_micro"] == (196 * std + 50) // 100
    assert std > 0


def test_did_cancels_shared_shock(spark, tmp_path):
    """Both arms gain a +300-cent temporal shock; treatment adds +500
    on top: DiD recovers exactly 500 cents (5e8 micro) while the naive
    post-difference would read 500 plus arm-level baseline noise."""
    from datetime import datetime

    from ocr_spark.operators.relational import diff_in_differences

    pre, post = datetime(2024, 1, 10), datetime(2024, 1, 20)
    rows = []
    eid = 0
    for u in range(40):
        base = 10.0 + (u % 2) * 2.0  # arms have DIFFERENT baselines
        rows.append((eid, pre, u, "view", base, "{}")); eid += 1
        lift = 3.0 + (5.0 if u % 2 == 1 else 0.0)  # shock +3, treat +5
        rows.append((eid, post, u, "view", base + lift, "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = diff_in_differences(spark, d).collect()[0]
    assert r["n_control"] == r["n_treat"] == 20
    assert r["post_control_micro"] - r["pre_control_micro"] == 300_000_000
    assert r["post_treat_micro"] - r["pre_treat_micro"] == 800_000_000
    assert r["did_micro"] == 500_000_000


def test_ab_mde_power_hand_case(spark, tmp_path):
    """100 users alternating 0/20 dollars: sigma = 1000 cents exactly,
    MDE = 2.8016 * 1000 * sqrt(2/100) cents = 396.2 cents (exact
    integer protocol), relative ~ 39.6% of the 1000-cent mean."""
    from datetime import datetime

    from ocr_spark.operators.relational import ab_mde_power

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0, i, "view", 0.0 if i % 2 == 0 else 20.0, "{}")
            for i in range(100)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = ab_mde_power(spark, d).collect()[0]
    assert r["n_users"] == 100
    assert r["mean_micro"] == 1_000_000_000  # 1000 cents
    assert r["sigma_micro"] == 1_000_000_000  # sigma exactly 1000c
    # isqrt((2*var_n*1e12)//n^3): var_n = 100*1e8*100... replay:
    import math

    var_n = 100 * (50 * 2000 ** 2) - (50 * 2000) ** 2
    s = math.isqrt((2 * var_n * 10 ** 12) // 100 ** 3)
    assert r["mde_micro"] == (28016 * s + 5000) // 10000
    assert abs(r["mde_micro"] - 396_200_000) < 1_000_000
    assert abs(r["relative_mde_ppm"] - 396_200) < 1_000


def test_holt_winters_constant_and_linear_series(spark, tmp_path):
    """Constant series: level locks to the value, trend stays 0,
    forecast is flat.  Linear series: the trend estimate approaches
    the true daily increment and the forecast continues the line."""
    from datetime import datetime, timedelta

    from ocr_spark.operators.relational import (
        HW_HORIZON,
        holt_winters_forecast,
    )

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # constant: 100.00/day for 10 days
    const = [(i, t0 + timedelta(days=i), 1, "view", 100.0, "{}")
             for i in range(10)]
    d1 = str(tmp_path / "const")
    spark.createDataFrame(
        const,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d1}/events.parquet")
    rows = holt_winters_forecast(spark, d1).collect()
    obs = [r for r in rows if r["is_forecast"] == 0]
    fc = [r for r in rows if r["is_forecast"] == 1]
    assert len(fc) == HW_HORIZON
    assert all(r["level_milli"] == 10_000_000 for r in obs)  # 10000c
    assert all(r["trend_milli"] == 0 for r in obs)
    assert all(r["level_milli"] == 10_000_000 for r in fc)
    # linear: value grows 100c/day
    lin = [(i, t0 + timedelta(days=i), 1, "view", 1.0 * (i + 1), "{}")
           for i in range(30)]
    d2 = str(tmp_path / "lin")
    spark.createDataFrame(
        lin,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d2}/events.parquet")
    rows = holt_winters_forecast(spark, d2).collect()
    obs = [r for r in rows if r["is_forecast"] == 0]
    fc = sorted((r for r in rows if r["is_forecast"] == 1),
                key=lambda r: r["day"])
    # trend converges near the true 100c/day = 100_000 milli
    assert abs(obs[-1]["trend_milli"] - 100_000) < 30_000
    # forecasts continue linearly with the final trend
    t_final = obs[-1]["trend_milli"]
    for h in range(1, HW_HORIZON):
        assert fc[h]["level_milli"] - fc[h - 1]["level_milli"] == t_final


def test_winsorized_mean_clamps_whales(spark, tmp_path):
    """103 users (non-divisible n pins the ceil-rank protocol): one
    whale and one zero get clamped to the exact P1/P99 order stats;
    raw mean moves, winsorized mean matches the hand computation."""
    from datetime import datetime

    from ocr_spark.operators.relational import winsorized_mean

    t0 = datetime(2024, 1, 1)
    # users 1..101 spend 10.00; user 0 spends 0.01; user 102 is a whale
    rows = [(i, t0, i, "view", 10.0, "{}") for i in range(1, 102)]
    rows.append((200, t0, 0, "view", 0.01, "{}"))
    rows.append((201, t0, 102, "view", 100000.0, "{}"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = winsorized_mean(spark, d).collect()[0]
    assert r["n_users"] == 103
    # ranks: ceil(1*103/100)=2 -> second smallest = 1000c;
    # ceil(99*103/100)=102 -> second largest = 1000c
    assert r["lo_cut_cents"] == 1000 and r["hi_cut_cents"] == 1000
    assert r["n_clamped_lo"] == 1 and r["n_clamped_hi"] == 1
    # winsorized: all 103 at 1000c
    assert r["winsorized_mean_micro"] == 1_000_000_000
    assert r["raw_mean_micro"] > r["winsorized_mean_micro"]


def test_ips_recovers_true_policy_value(spark, tmp_path):
    """Crafted logs where rewards depend only on the action (r=1 iff
    a==0): IPS from uniformly-logged actions recovers the constant-a0
    policy's true value 1.0 and the logged policy's 1/3."""
    from datetime import datetime

    from ocr_spark.operators.relational import ips_offline_eval

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        a = i % 3  # uniform logging via event_id % 3
        rows.append(
            (i, t0, i, "purchase" if a == 0 else "view", 1.0, "{}")
        )
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["policy"]: r for r in ips_offline_eval(spark, d).collect()}
    assert got["0_logged"]["est_reward_ppm"] == 333_333  # 1/3
    # constant-a0: matches exactly the a=0 third, all rewarded:
    # 3 * (100/300) = 1.0
    assert got["2_constant_a0"]["matched"] == 100
    assert got["2_constant_a0"]["est_reward_ppm"] == 1_000_000
    # personalized (user_id%3 == event_id%3 here): matches everything
    assert got["1_personalized"]["matched"] == 300
    assert got["1_personalized"]["est_reward_ppm"] == 1_000_000


def test_doubly_robust_perfect_model_case(spark, tmp_path):
    """Action-determined rewards (r=1 iff a==0): the direct model is
    perfect, so DM == DR == the true personalized-policy value, and
    both equal IPS when the policy matches all logs."""
    from datetime import datetime

    from ocr_spark.operators.relational import doubly_robust_eval

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        a = i % 3
        rows.append((i, t0, i, "purchase" if a == 0 else "view", 1.0, "{}"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = doubly_robust_eval(spark, d).collect()[0]
    # pi1 = user_id%3 = event_id%3 = a -> matches all; true value 1/3
    assert r["dm_ppm"] == 333_333
    assert r["ips_ppm"] == 1_000_000  # 3 * (100/300)
    # perfect model + full match: DR = DM + 3*(match_r - model on
    # matches) = 1/3 + 3*(100 - 100)/300... model on matched rows
    # equals realized rewards -> correction cancels to IPS-DM gap:
    # DR = DM + (IPS - 3*sum q(a)*match_a/n) = exact replay value
    assert r["dr_ppm"] == r["dm_ppm"] + r["ips_ppm"] - 1_000_000


def test_qte_detects_uniform_shift(spark, tmp_path):
    """Treatment = control distribution shifted by exactly 7.77: QTE
    is 777 cents at every quantile, and the per-arm order stats match
    the hand-computed ceil ranks (n=101 per arm pins the protocol)."""
    from datetime import datetime

    from ocr_spark.operators.relational import quantile_treatment_effect

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for j in range(101):
        v = 1.0 * (j + 1)
        rows.append((eid, t0, 2 * j, "view", v, "{}")); eid += 1
        rows.append((eid, t0, 2 * j + 1, "view", v + 7.77, "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["q_pct"]: r
           for r in quantile_treatment_effect(spark, d).collect()}
    assert set(got) == {25, 50, 75}
    for q, r in got.items():
        assert r["n_control"] == r["n_treat"] == 101
        k = (q * 101 + 99) // 100
        assert r["control_cents"] == k * 100
        assert r["qte_cents"] == 777


def test_stratified_srm_finds_hidden_segment_bug(spark, tmp_path):
    """Two segments with OPPOSITE imbalances (global SRM sees perfect
    balance): the per-segment check alarms on both at the k=2
    Bonferroni threshold while the global check stays silent."""
    from datetime import datetime

    from ocr_spark.operators.relational import srm_check, stratified_srm

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # segment 'web': 80 even users, 20 odd
    for u in [2 * i for i in range(80)] + [2 * i + 1 for i in range(20)]:
        rows.append((eid, t0, u, "web", 1.0, "{}")); eid += 1
    # segment 'app': 20 even, 80 odd (disjoint user range)
    for u in [1000 + 2 * i for i in range(20)] + [
        1001 + 2 * i for i in range(80)
    ]:
        rows.append((eid, t0, u, "app", 1.0, "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    g = srm_check(spark, d).collect()[0]
    assert g["srm_alarm"] == 0  # globally balanced 100/100
    s = {r["event_type"]: r for r in stratified_srm(spark, d).collect()}
    assert s["web"]["crit_milli"] == 5024  # k=2 Bonferroni
    assert s["web"]["srm_alarm"] == 1 and s["app"]["srm_alarm"] == 1
    assert s["web"]["chi2_milli"] == 36_000  # (60^2)/100


def test_sensitivity_ladder_orders_methods(spark, tmp_path):
    """Corpus where post == pre (perfect CUPED predictor) plus one
    whale: CUPED's relative variance collapses to ~0, winsorization
    lands strictly between, raw is the 1.0 baseline."""
    from datetime import datetime

    from ocr_spark.operators.relational import metric_sensitivity_ladder

    pre, post = datetime(2024, 1, 10), datetime(2024, 1, 20)
    rows = []
    eid = 0
    for u in range(200):
        spend = 1.0 + (u % 9)
        rows.append((eid, pre, u, "view", spend, "{}")); eid += 1
        rows.append((eid, post, u, "view", spend, "{}")); eid += 1
    # whale: huge post AND pre (still predicted; winsor clamps it)
    rows.append((eid, pre, 999, "view", 5000.0, "{}")); eid += 1
    rows.append((eid, post, 999, "view", 5000.0, "{}")); eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["method"]: r["relative_var_ppm"]
           for r in metric_sensitivity_ladder(spark, d).collect()}
    assert got["1_raw"] == 1_000_000
    assert got["3_cuped"] <= 5  # perfect predictor -> ~0 (ppm rounding)
    assert 0 < got["2_winsorized"] < 1_000_000


# ---------------------------------------------------------------------------
# Always-valid sequential sign test (SPRT / e-process)
# ---------------------------------------------------------------------------


def _daily_stream(spark, wins):
    """Crafted per-day arm sums: win=True => treatment mean 2.0 vs 1.0,
    win=False => 1.0 vs 2.0 (10 users/arm)."""
    import datetime

    rows = [
        (
            datetime.date(2024, 3, 1) + datetime.timedelta(days=i),
            10,
            (100 if w else 200) * 10,
            10,
            (200 if w else 100) * 10,
        )
        for i, w in enumerate(wins)
    ]
    return spark.createDataFrame(
        rows, "day date, n0 long, s0 long, n1 long, s1 long"
    )


def test_sprt_early_stopping_day(spark):
    """All-wins stream: 3^w first beats 16*2^t at t=7 (2187 > 2048;
    729 < 1024 at t=6) — the always-valid monitor must fire reject_h0
    exactly there, once."""
    from ocr_spark.operators.relational import sequential_sign_test_df

    out = sequential_sign_test_df(_daily_stream(spark, [True] * 10)).collect()
    by_t = {r["t"]: r for r in out}
    assert by_t[6]["decision"] == "continue"
    assert by_t[7]["decision"] == "reject_h0"
    assert [r["t"] for r in out if r["first_decision"] == 1] == [7]
    assert by_t[7]["lr_num"] == 3**7


def test_sprt_null_stream_accepts(spark):
    """Alternating wins/losses drift to the futility boundary:
    19*3^6 = 13851 <= 4*2^12 = 16384 first holds at t=12."""
    from ocr_spark.operators.relational import sequential_sign_test_df

    wins = [i % 2 == 0 for i in range(14)]
    out = sequential_sign_test_df(_daily_stream(spark, wins)).collect()
    by_t = {r["t"]: r for r in out}
    assert by_t[11]["decision"] == "continue"
    assert by_t[12]["decision"] == "accept_h0"
    assert [r["t"] for r in out if r["first_decision"] == 1] == [12]


def test_sprt_horizon_guard_raises(spark):
    """Past SPRT_MAX_DAYS the exact-integer boundaries stop holding
    (3^wins leaves double exactness, 16*2^t heads for bigint overflow),
    so a 40-day stream must raise instead of deciding on rounded
    numbers — wins stay at 20 here, so nothing overflows on its own."""
    from ocr_spark.operators.relational import sequential_sign_test_df

    wins = [i % 2 == 0 for i in range(40)]
    with pytest.raises(Exception, match="SPRT_MAX_DAYS = 33"):
        sequential_sign_test_df(_daily_stream(spark, wins)).collect()


def test_sprt_tie_counts_against_treatment(spark):
    """Exact-tie day (equal means) must count as a loss — the strict
    integer cross-comparison, no float epsilon."""
    from ocr_spark.operators.relational import sequential_sign_test_df
    import datetime

    rows = [
        (datetime.date(2024, 3, 1), 10, 1000, 10, 1000),
        # unbalanced arms, equal means: 3*200 vs 6*400 cents
        (datetime.date(2024, 3, 2), 3, 600, 6, 1200),
    ]
    df = spark.createDataFrame(
        rows, "day date, n0 long, s0 long, n1 long, s1 long"
    )
    out = sequential_sign_test_df(df).collect()
    assert [r["wins"] for r in out] == [0, 0]
