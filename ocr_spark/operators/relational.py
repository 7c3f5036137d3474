"""Relational operator breadth (SURVEY.md §2.7 checklist): aggregation,
broadcast join, window top-n, gap sessionization — each with a DuckDB
oracle.  These prove the engine's general query surface beyond the
extraction pipeline and document the intended physical plans.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: map-side partial agg -> single shuffle on a
    low-cardinality key; every aggregate aliased for the oracle compare."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .repartition(1).sortWithinPartitions("l_returnflag", "l_linestatus")
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) table on ``key``.

    The 100 TB lever: when two fact tables are recurrently joined or
    aggregated on the same key (orders x lineitem on orderkey; the span
    sidecar x the document table on doc_id), bucketing BOTH sides with
    the same bucket count at write time makes every downstream equi-join
    and groupBy on that key shuffle-free — the scan is already hash-
    partitioned, so SortMergeJoin runs with zero Exchange (and zero Sort,
    when sortBy matches).  One shuffle paid once at ingest replaces one
    shuffle per query forever after.  Pinned by
    tests/test_plans.py::test_bucketed_join_no_exchange.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A managed-table location can outlive its catalog entry (prior JVM
    # wrote the files, this session's in-memory catalog never heard of
    # the table) — saveAsTable then fails LOCATION_ALREADY_EXISTS, so
    # clear any orphaned directory first.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, key
    )
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)


def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join (customer is the small dim) + per-group top-n via
    row_number window — the broadcast is explicit so the plan holds at
    scale where orders is 1000x customer."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "c_mktsegment",
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
        .repartition(1).sortWithinPartitions("c_mktsegment", "rn")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity) — the same lag+sum
    window pattern as the row clustering in operators/spans.py, on time."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lag("ts", 1).over(w))
    ) >= 1800
    sessions = (
        ev.withColumn(
            "new_sess", F.coalesce(F.when(gap, F.lit(1)), F.lit(0))
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .repartition(1).sortWithinPartitions("user_id", "session_id")
    )


def qr_stock_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock QR payload parse (reference util/tool.py:339-350): space-split
    k:v pairs; bare 11/12-digit tokens route to invoice_number vs code by
    length; '/' in values becomes '、'."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    payload = F.concat_ws(
        " ",
        F.concat(F.lit("dh:D"), (k * 7 % 10**6).cast("string")),
        F.lpad((k * 11 % 10**11).cast("string"),
               F.when(k % 2 == 0, 11).otherwise(12), "0"),
        F.concat(F.lit("way:a/b"), (k % 9).cast("string")),
    )
    df = sup.select("s_suppkey", payload.alias("qr"))
    toks = F.split(F.col("qr"), " ")
    kv = F.filter(toks, lambda t: F.instr(t, ":") > 0)
    bare = F.filter(toks, lambda t: F.instr(t, ":") == 0)
    digits = F.filter(bare, lambda t: t.rlike("^[0-9]+$"))
    eleven = F.try_element_at(
        F.filter(digits, lambda t: F.length(t) == 11), F.lit(1)
    )
    twelve = F.try_element_at(
        F.filter(digits, lambda t: F.length(t) == 12), F.lit(1)
    )
    def val_of(key: str):
        m = F.try_element_at(
            F.filter(kv, lambda t: t.startswith(key + ":")), F.lit(1)
        )
        return F.replace(
            F.substring(m, len(key) + 2, 2147483640), F.lit("/"), F.lit("、")
        )
    return df.select(
        "s_suppkey",
        F.coalesce(val_of("dh"), F.lit("")).alias("doc_number"),
        F.coalesce(eleven, F.lit("")).alias("invoice_number"),
        F.coalesce(twelve, F.lit("")).alias("invoice_code"),
        F.coalesce(val_of("way"), F.lit("")).alias("rk_way"),
    ).repartition(1).sortWithinPartitions("s_suppkey")


def qr_payload_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAT QR payload parse (reference util/tool.py:321-336) as pure SQL
    over payload strings synthesized from orders: CSV split + slot routing
    by invoice type (slot 4 -> total vs amount_with_tax for types 31/32)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    typ = F.when(F.col("o_orderkey") % 3 == 0, F.lit("31")).when(
        F.col("o_orderkey") % 3 == 1, F.lit("32")
    ).otherwise(F.lit("04"))
    payload = F.concat_ws(
        ",",
        F.lit("01"),
        typ,
        F.lpad((F.col("o_orderkey") % 10**12).cast("string"), 12, "0"),
        F.lpad((F.col("o_custkey") % 10**8).cast("string"), 8, "0"),
        F.format_string("%.2f", F.round("o_totalprice", 2)),
        F.date_format("o_orderdate", "yyyyMMdd"),
        (F.col("o_orderkey") % 10**5).cast("string"),
    )
    df = orders.select("o_orderkey", payload.alias("qr"))
    parts = F.split(F.col("qr"), ",")
    slot = lambda i: F.element_at(parts, i)  # noqa: E731
    amount = F.format_string(
        "¥ %.2f", slot(5).try_cast("double")
    )
    is_elec = slot(2).isin("31", "32")
    return df.select(
        "o_orderkey",
        slot(2).alias("invoice_type"),
        slot(3).alias("invoice_code"),
        slot(4).alias("invoice_number"),
        F.when(is_elec, amount).otherwise(F.lit("¥ 0.00")).alias(
            "amount_with_tax"
        ),
        F.when(~is_elec, amount).otherwise(F.lit("¥ 0.00")).alias(
            "total_amount"
        ),
        F.date_format(
            F.to_date(slot(6), "yyyyMMdd"), "yyyy年MM月dd日"
        ).alias("billing_date"),
        F.when(slot(2).isin("04", "10"), slot(7)).otherwise(F.lit("")).alias(
            "check_code"
        ),
    ).repartition(1).sortWithinPartitions("o_orderkey")


# ---------------------------------------------------------------------------
# ANALYZE-style table profiling
# ---------------------------------------------------------------------------


def _canon_minmax(c: Column, dtype: str) -> Column:
    """Engine-exact string canonicalization for min/max values.

    Doubles become fixed-point cents via floor(x*100) — double-to-string
    and double rounding both diverge between engines in the last digit,
    but multiply+floor on the identical binary value does not.
    Timestamps become epoch seconds for the same reason (fractional-
    second printing differs)."""
    if dtype in ("double", "float"):
        return F.floor(c * 100).cast("bigint").cast("string")
    if dtype.startswith("timestamp"):
        return F.unix_timestamp(c).cast("string")
    return c.cast("string")


def table_profile(df: DataFrame, table_name: str) -> DataFrame:
    """Per-column profiling stats (the ANALYZE / data-quality sweep every
    ingest pipeline runs): row count, null count, exact distinct count,
    canonicalized min/max — one row per column.

    Scale shape: ONE aggregation pass over the table; nulls and min/max
    are plain partial aggs.  The exact count(distinct) per column makes
    Catalyst expand the input ``n_cols`` ways before the shuffle — the
    honest cost of exactness, kept here because the DuckDB oracle needs
    exact values; at 10^12 rows swap in approx_count_distinct (HLL
    sketches merge map-side, no expand) and the rest of the plan is
    unchanged."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for f in df.schema.fields:
        c, d = F.col(f.name), f.dataType.simpleString()
        aggs += [
            F.count(c).alias(f"nn_{f.name}"),
            F.countDistinct(c).alias(f"nd_{f.name}"),
            F.min(_canon_minmax(c, d)).alias(f"mn_{f.name}")
            if d == "string"
            else _canon_minmax(F.min(c), d).alias(f"mn_{f.name}"),
            F.max(_canon_minmax(c, d)).alias(f"mx_{f.name}")
            if d == "string"
            else _canon_minmax(F.max(c), d).alias(f"mx_{f.name}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("column_name"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"nn_{f.name}")).alias("n_null"),
                F.col(f"nd_{f.name}").alias("n_distinct"),
                F.col(f"mn_{f.name}").alias("min_val"),
                F.col(f"mx_{f.name}").alias("max_val"),
            )
            for f in df.schema.fields
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        F.lit(table_name).alias("table_name"), "r.*"
    )


def profile_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: profile the orders and events tables in one
    result (two independent single-pass aggregations)."""
    orders = table_profile(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "orders"
    )
    events = table_profile(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "events"
    )
    return (
        orders.unionAll(events)
        .repartition(1)
        .sortWithinPartitions("table_name", "column_name")
    )


def asof_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most-recent-prior) join: for every order, the latest event
    by the same user at or before the order timestamp.

    Spark has no native ASOF JOIN; the naive encoding (non-equi range
    join + per-order max) is a cartesian-within-key explosion.  This is
    the scale-safe union-window encoding instead: tag both tables, union
    on (key, time), and carry the last non-null event attribute forward
    with ``last(..., ignorenulls=True)`` over a rows-frame window.  Cost
    is ONE shuffle on the key and a linear pass per key — O(n log n)
    total, no pair blow-up, works unchanged at 10^12 rows.

    Determinism: ties sort by (t, tag, event_id, o_orderkey) with events
    (tag 0) before orders (tag 1) so an event at exactly the order
    timestamp is matched; equal-timestamp events resolve to the max
    event_id.  Timestamps are canonicalized to epoch seconds for the
    oracle compare.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("tag"),
        "event_id",
        "event_type",
        F.col("value").alias("ev_value"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("ev_value"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "tag", "event_id", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = ev.unionByName(orders)
    return (
        u.withColumn(
            "last_event_id", F.last("event_id", ignorenulls=True).over(w)
        )
        .withColumn(
            "last_event_type",
            F.last("event_type", ignorenulls=True).over(w),
        )
        .withColumn(
            "last_event_ts",
            F.last(
                F.when(F.col("tag") == 0, F.unix_timestamp("t")),
                ignorenulls=True,
            ).over(w),
        )
        .withColumn(
            "last_event_value",
            F.round(F.last("ev_value", ignorenulls=True).over(w), 6),
        )
        .filter(F.col("tag") == 1)
        .select(
            "o_orderkey",
            F.col("k").alias("user_id"),
            F.unix_timestamp("t").alias("order_epoch"),
            "last_event_id",
            "last_event_type",
            "last_event_ts",
            "last_event_value",
        )
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )


ROLLING_WINDOW_SECONDS = 7 * 86400


def rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 7-day rolling sum/count over each user's event
    stream — the time-decayed feature shape (user activity velocity)
    that feeds quality/abuse models at ingest time.

    Uses a RANGE frame over epoch seconds, so equal-timestamp peers are
    all in-frame in both engines (ties are frame-inclusive, not
    order-dependent).  Scale shape: one shuffle on user_id, then a
    linear sliding-frame pass per user — Spark's window evaluator keeps
    the running frame incrementally, no per-row rescan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ROLLING_WINDOW_SECONDS, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("epoch"),
            F.round(F.sum("value").over(w), 6).alias("roll_value_7d"),
            F.count(F.lit(1)).over(w).alias("roll_events_7d"),
        )
        .repartition(1)
        .sortWithinPartitions("event_id")
    )


PCT_POINTS = [0.25, 0.5, 0.75, 0.9, 0.99]


def percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of price and quantity per
    return flag — the distribution profile a curation pipeline computes
    before choosing length/quality cut thresholds.

    EXACT percentile is a per-group sort: fine as a profiling pass, and
    it is the verifier twin.  At 100 TB the production variant swaps in
    ``approx_percentile`` (t-digest-style sketch, one pass, mergeable
    map-side partials) with identical call shape — the docstring IS the
    scale note; the oracle pins the exact semantics."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = ", ".join(f"{p}D" for p in PCT_POINTS)
    price = F.expr(f"percentile(l_extendedprice, array({pts}))")
    qty = F.expr(f"percentile(l_quantity, array({pts}))")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        price.alias("_price"),
        qty.alias("_qty"),
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for i, p in enumerate(PCT_POINTS):
        tag = f"p{int(round(p * 100)):02d}"
        cols.append(F.round(F.col("_price")[i], 6).alias(f"price_{tag}"))
        cols.append(F.round(F.col("_qty")[i], 6).alias(f"qty_{tag}"))
    return (
        agg.select(*cols)
        .repartition(1)
        .sortWithinPartitions("l_returnflag")
    )


N_SALT = 8


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted fact-to-dim join: revenue per part brand.

    The manual skew pattern (README scale playbook): the fact side gets
    a salt column, the dim side is replicated once per salt value, and
    the join key becomes (p_partkey, salt) — a single hot part key now
    spreads over N_SALT reducers instead of one straggler.  The join is
    hinted ``shuffle_hash`` so the demo is honest (a broadcast would
    hide the salt; at real scale the dim is too big to broadcast but
    small enough to replicate 8x).  The aggregate result is EXACTLY the
    unsalted join's — salting is a physical rewrite, not a semantic one
    — which is what the oracle pins.  Plan pinned by
    tests/test_plans.py::test_salted_join_shuffle_hash_no_broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    fact = li.withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(N_SALT))
    )
    dim = part.crossJoin(
        spark.range(N_SALT).select(F.col("id").cast("int").alias("salt"))
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (fact.l_partkey == dim.p_partkey) & (fact.salt == dim.salt),
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .repartition(1)
        .sortWithinPartitions("p_brand")
    )


HH_TOP_K = 20


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: the top-K hottest join keys with their exact
    frequency and corpus share — the first query anyone runs when a
    shuffle stage straggles (README scale playbook: hot keys get salted
    or AQE-skew-split; this is how you find them).

    Share is integer parts-per-million (count * 1e6 div total) — exact
    in both engines.  Scale shape: one partial-agg groupBy on the key,
    then the top-K rides ``orderBy().limit()`` — Spark's distributed
    TakeOrderedAndProject heap (per-partition top-K, K-row merge on
    the driver) — so the key-count table is NEVER globally sorted even
    at 10^9 distinct users; the rank window runs on the K survivors."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    total = ev.count()
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window

    top = counts.orderBy(F.desc("n"), "user_id").limit(HH_TOP_K)
    # tiny-window: ≤ HH_TOP_K rows survive the TakeOrdered heap
    w = Window.orderBy(F.desc("n"), "user_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "user_id",
            "n",
            F.expr(f"(n * 1000000) div {total}").alias("share_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("rank")
    )


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD type-2 dimension from a change log: each customer's
    order stream becomes validity intervals [valid_from, valid_to) with
    the open interval flagged current — the standard warehouse pattern
    for ingesting CDC/event feeds into a point-in-time-queryable table.

    One shuffle on the business key, then a lead() window per key; ties
    (same-day orders) break on o_orderkey so the intervals are
    deterministic.  Epoch-second canonicalization for the oracle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    epoch = F.unix_timestamp("o_orderdate")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            epoch.alias("valid_from"),
            F.lead(epoch).over(w).alias("valid_to"),
        )
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
        .repartition(1)
        .sortWithinPartitions("o_custkey", "valid_from", "o_orderkey")
    )


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest: parse the events table's JSON ``props``
    column with a declared schema (``from_json`` — JVM-side Jackson, no
    Python) and aggregate on the extracted field.  The schema-on-read
    path every log pipeline needs; at scale the parse is a map-side
    projection and the only shuffle is the final low-cardinality
    rollup."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_type", "value", k.alias("k"))
        .withColumn("k_bucket", (F.col("k") / 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .repartition(1)
        .sortWithinPartitions("event_type", "k_bucket")
    )


def zvalue(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative ints (bit i of
    ``a`` -> bit 2i, bit i of ``b`` -> bit 2i+1) — native bit ops only,
    no UDF; the 2*bits-term sum folds into one codegen expression."""
    acc: Column = F.lit(0).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return acc


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Persist ``df`` Z-ordered on two columns — the multi-dimensional
    data-layout lever (Delta OPTIMIZE ZORDER / Iceberg sort orders).

    A single-column sort makes parquet min/max pruning perfect on that
    column and useless on every other; interleaving the bits of two
    keys gives every output file a small RECTANGLE of the (a, b) space,
    so range predicates on EITHER column skip most files at scan time
    (PushedFilters + footer stats — no index needed).  At 100 TB this
    is the difference between reading a partition and reading a file:
    layout is decided once at write, every later query benefits.
    Pinned by tests/test_plans.py::test_zorder_skips_files_on_the_second_dimension.

    Keys must fit in ``bits`` bits: silent truncation would interleave
    only the low bits and quietly destroy the rectangle property, so
    out-of-range keys fail fast here (one cheap agg — at a real 100 TB
    ingest the key bounds come from table stats instead).
    """
    lim = 1 << bits
    mx = df.agg(
        F.max(col_a).alias("ma"),
        F.max(col_b).alias("mb"),
        F.min(col_a).alias("na"),
        F.min(col_b).alias("nb"),
    ).collect()[0]
    if mx["na"] < 0 or mx["nb"] < 0 or mx["ma"] >= lim or mx["mb"] >= lim:
        raise ValueError(
            f"write_zordered: keys out of [0, 2^{bits}) — "
            f"{col_a} in [{mx['na']}, {mx['ma']}], "
            f"{col_b} in [{mx['nb']}, {mx['mb']}]; raise `bits`"
        )
    z = zvalue(F.col(col_a), F.col(col_b), bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the star schema: for each
    child->parent relationship, the child row count, distinct child
    keys, and orphan rows (keys with no parent) via LEFT ANTI joins.

    The ingest-gate query every warehouse runs before publishing a
    snapshot.  Scale shape: parents are dimension-sized -> broadcast
    anti-joins, the fact tables are never shuffled; each relation is an
    independent single-pass aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def rel(name, child, key, parent, pkey):
        orphans = child.join(
            F.broadcast(parent.select(pkey)),
            child[key] == parent[pkey],
            "left_anti",
        )
        return (
            child.agg(
                F.count("*").alias("n_rows"),
                F.countDistinct(key).alias("n_keys"),
            )
            .crossJoin(
                orphans.agg(
                    F.count("*").alias("n_orphan_rows"),
                    F.countDistinct(key).alias("n_orphan_keys"),
                )
            )
            .select(
                F.lit(name).alias("relation"),
                "n_rows",
                "n_keys",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )

    out = (
        rel("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionAll(rel("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionAll(
            rel("lineitem->supplier", li, "l_suppkey", sup, "s_suppkey")
        )
        .unionAll(
            rel("orders->customer", orders, "o_custkey", cust, "c_custkey")
        )
        .unionAll(rel("events->customer", ev, "user_id", cust, "c_custkey"))
    )
    return out.repartition(1).sortWithinPartitions("relation")


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: per-(returnflag, linestatus) revenue plus
    per-flag subtotals plus the grand total in ONE pass — Spark expands
    grouping sets map-side, so the input is scanned once and each
    grouping level is a partial aggregate, not a separate query.
    grouping_id() disambiguates subtotal rows from real NULL keys;
    NULL keys are rendered as 'ALL' for the oracle compare."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    g = li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
        F.grouping_id().alias("gid"),
    )
    return (
        g.select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n_items",
            "gid",
        )
        .repartition(1)
        .sortWithinPartitions("gid", "flag", "status")
    )


def priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts and mean price by priority, one column per
    order status — the wide-format report shape.  The pivot values are
    DECLARED (not discovered), so the plan is a single groupBy with
    conditional aggregates — one shuffle, no second pass to enumerate
    statuses, which is what keeps it scannable at 10^12 rows."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    statuses = ["F", "O", "P"]
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        # an absent (priority, status) cell pivots to NULL; the oracle's
        # conditional count yields 0 — normalize counts to 0 (avgs stay
        # NULL in both engines)
        .select(
            "o_orderpriority",
            *[
                F.coalesce(f"{s}_n", F.lit(0)).alias(f"{s}_n")
                for s in statuses
            ],
            *[F.col(f"{s}_avg_price") for s in statuses],
        )
        .repartition(1)
        .sortWithinPartitions("o_orderpriority")
    )


FUNNEL_STAGES = ["click", "view", "purchase"]


def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: how many users completed click -> view
    -> purchase IN ORDER (each later stage strictly after the user's FIRST
    occurrence of the previous one).

    Shape: one groupBy per user computing the first qualifying
    timestamp of each stage as a chained conditional min — no joins, no
    per-stage passes, one shuffle on user_id.  The chain needs the
    previous stage's first-ts, so stage k filters on min-so-far via a
    two-level aggregate (min of ts where type = stage AND ts > prior
    min), computed with nested aggregation in SQL; counts per funnel
    depth come out of one final tiny aggregate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s1, s2, s3 = FUNNEL_STAGES
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts"))).alias("t1"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("event_type") == s2,
                    F.struct(F.col("ts"), F.col("event_id")),
                )
            )
        ).alias("l2"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("event_type") == s3,
                    F.struct(F.col("ts"), F.col("event_id")),
                )
            )
        ).alias("l3"),
    )
    first_after = (
        lambda lst, t: F.try_element_at(
            F.filter(lst, lambda s: s["ts"] > t), F.lit(1)
        )["ts"]
    )
    staged = per_user.select(
        "user_id",
        "t1",
        first_after(F.col("l2"), F.col("t1")).alias("t2"),
        F.col("l3"),
    ).select(
        "user_id",
        "t1",
        "t2",
        # the funnel stops at a missing stage: t3 only exists after t2
        F.when(
            F.col("t2").isNotNull(),
            first_after(F.col("l3"), F.col("t2")),
        ).alias("t3"),
    )
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
    )
    return (
        staged.select(depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
        .repartition(1)
        .sortWithinPartitions("funnel_depth")
    )


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: every user's DAILY event count/value over
    the corpus's full date range, missing days zero-filled — the
    regularization step before any windowed model or charting layer
    (absent rows are not zero rows until you make them so).

    Shape: the date bounds are one tiny agg broadcast into a
    users x days grid (sequence + explode — generated, not shuffled),
    the real counts are one groupBy, and the grid LEFT-joins them.
    Grid cardinality is users x days — at 10^12-event scale the grid is
    still tiny next to the events table, which is touched exactly
    once."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"),
        F.to_date(F.max("ts")).alias("d1"),
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("v"),
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("day_value"),
        )
        .repartition(1)
        .sortWithinPartitions("user_id", "day")
    )


HIST_BUCKETS = 20


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the profiling pass behind
    any distribution chart or coarse anomaly gate.  Two-pass broadcast
    shape (global min/max, then a map-side bucket assignment + one
    low-cardinality rollup); bucket arithmetic is integer cents with
    truncating division, so bucket edges are engine-exact — no float
    boundary can flip a row's bucket between engines."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    bounds = orders.agg(
        F.min(cents).alias("lo"), F.max(cents).alias("hi")
    )
    n = HIST_BUCKETS
    return (
        orders.select(cents.alias("c"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(n - 1),
                F.expr(f"((c - lo) * {n}) div greatest(hi - lo + 1, 1)"),
            ).cast("int").alias("bucket"),
            "lo",
            "hi",
        )
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n_orders"))
        .select(
            "bucket",
            (F.col("lo")
             + F.expr(f"(bucket * (hi - lo + 1)) div {n}")).alias(
                "bucket_lo_cents"
            ),
            "n_orders",
        )
        .repartition(1)
        .sortWithinPartitions("bucket")
    )


def window_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window aggregation (6-hour buckets per event
    type) via ``F.window`` — the same time-bucketing the streaming path
    uses, on the batch API.  Map-side partial agg, one shuffle on
    (window, type)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.window("ts", "6 hours")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.unix_timestamp("w.start").alias("w_start_s"),
            "event_type",
            "n",
            "total",
        )
        .repartition(1)
        .sortWithinPartitions("w_start_s", "event_type")
    )


def window_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SLIDING-window aggregation (6-hour window, 3-hour slide):
    every event lands in exactly window/slide = 2 windows — Spark
    expands the windows map-side (no join), then one shuffle on
    (window, type).  The oracle reproduces the expansion as a 2-way
    offset-bucket union."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.window("ts", "6 hours", "3 hours")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.unix_timestamp("w.start").alias("w_start_s"),
            "event_type",
            "n",
            "total",
        )
        .repartition(1)
        .sortWithinPartitions("w_start_s", "event_type")
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): 3-table join with filters on
    every side, revenue agg, global top-10.

    Scale notes: each filter is pushed into its parquet scan (segment on
    customer, date on orders and lineitem — PushedFilters pinned by
    tests/test_plans.py::test_shipping_priority_pushdown_no_nlj), so the
    join inputs are pre-shrunk before any shuffle; Catalyst orders the
    joins and AQE picks broadcast for the filtered customer side when it
    fits.  Revenue is per-row integer cents (round(x*100) is one IEEE
    double op on identical inputs in both engines) so the top-10 cut
    can never flip on accumulation-order noise.  The global top-10 is
    TakeOrderedAndProject — no full sort is materialized.
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1998-06-30")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1998-06-30")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(cents).alias("revenue_cents"))
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
            "revenue_cents",
        )
        .orderBy(F.col("revenue_cents").desc(), "order_epoch", "o_orderkey")
        .limit(10)
    )


LATE_SHIP_DAYS = 20


def late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking via a LEFT SEMI join —
    count orders per priority that have AT LEAST ONE lineitem shipped
    more than LATE_SHIP_DAYS days after the order date.

    The semi join is the point: EXISTS never materializes the (order x
    matching-lineitem) blow-up — each probe row emits at most once, so
    the shuffle and the agg input stay O(orders) regardless of how many
    late lineitems an order has.  Plan pinned by
    tests/test_plans.py::test_late_order_priority_semi_join.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.date_add(orders.o_orderdate, LATE_SHIP_DAYS)
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_late_orders"))
        .repartition(1)
        .sortWithinPartitions("o_orderpriority")
    )


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT orders (none since 2000-01-01) — a scalar subquery
    feeding a LEFT ANTI join over a filtered probe side, grouped by
    nation.

    Scale notes: the scalar average is a one-row aggregate broadcast
    into the filter (no collect, no driver round-trip); NOT EXISTS is a
    LEFT ANTI join on custkey — one shuffle, emits each customer at most
    once, never builds the pair set.  Balance sums are per-row integer
    cents so the group totals are accumulation-order-proof.  Plan pinned
    by tests/test_plans.py::test_idle_rich_customers_anti_join.
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    # Integer-cents threshold: exact bigint sum, ONE double division,
    # floor — bit-identical in both engines, so no customer can sit
    # within an ulp of the cut (a double avg() would accumulate in
    # engine-specific order).
    thr = (
        cust.filter(cents > 0)
        .agg(F.floor(F.sum(cents) / F.count(F.lit(1))).alias("thr_cents"))
    )
    rich = cust.withColumn("bal_cents_row", cents).join(
        F.broadcast(thr)
    ).filter(F.col("bal_cents_row") > F.col("thr_cents"))
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal_cents_row").alias("bal_cents"),
        )
        .repartition(1)
        .sortWithinPartitions("c_nationkey")
    )


DEMAND_WINDOW_DAYS = 7


def interval_ship_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join at scale, the bin-and-equi-join rewrite:
    for each order priority, how many lineitems (any order) shipped
    within DEMAND_WINDOW_DAYS days of one of its orders.

    A naive interval join (l_shipdate BETWEEN o_orderdate AND
    o_orderdate+6) between two fact tables is a nested-loop — O(orders x
    lineitems) comparisons and an un-shuffleable predicate.  The scale
    rewrite here does BOTH classic tricks:

    * aggregate-before-join — lineitem collapses to per-day (count,
      quantity) first: ~2.4k rows at any SF, since the day domain grows
      with calendar time, not data volume;
    * bin-explode the interval side — each order emits its 7 covered
      days (posexplode of a sequence), turning the range predicate into
      an exact equi-join on the day key.

    Join cost becomes O(orders x 7) hashed rows against a tiny build
    side — AQE broadcasts it — and NO row ever pairs with more than its
    own day bucket.  Quantities ride as per-row integer units.  Plan
    pinned by tests/test_plans.py::test_interval_ship_demand_no_nlj.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.count("*").alias("n_ship"),
        F.sum(F.round("l_quantity").cast("bigint")).alias("qty_units"),
    )
    days = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(
            F.sequence(
                F.to_date("o_orderdate"),
                F.date_add(F.to_date("o_orderdate"), DEMAND_WINDOW_DAYS - 1),
            )
        ).alias("day"),
    )
    return (
        days.join(daily, "day")
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_ship").alias("shipped_nearby"),
            F.sum("qty_units").alias("qty_nearby"),
        )
        .repartition(1)
        .sortWithinPartitions("o_orderpriority")
    )


def revenue_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue with week-over-week delta via lag().

    The series axis (ISO weeks) has calendar cardinality — a few hundred
    rows no matter the SF — so the single-partition lag window over the
    AGGREGATED series is safe by construction at any scale; the heavy
    lifting (the weekly rollup) is a normal partial-agg shuffle.
    Revenue is per-row integer cents; the delta is integer-exact.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    weekly = orders.groupBy(
        F.date_trunc("week", "o_orderdate").alias("week")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(cents).alias("rev_cents"),
    )
    # tiny-window: calendar-sized series (ISO weeks), never the table
    w = Window.orderBy("week")
    return (
        weekly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .select(
            F.unix_timestamp("week").alias("week_epoch"),
            "n_orders",
            "rev_cents",
            "prev_cents",
            (F.col("rev_cents") - F.col("prev_cents")).alias("wow_delta_cents"),
        )
        .repartition(1)
        .sortWithinPartitions("week_epoch")
    )


# Portable multiplicative hash (Knuth): both engines compute
# (x * A) mod 2^32 with exact bigint arithmetic, so sketch contents are
# bit-identical cross-engine — unlike HLL/xxhash whose implementations
# differ per engine and can never be value-oracled.
KMV_HASH_A = 2654435761
KMV_HASH_M = 2**32
KMV_K = 64


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCH done portably: a k-minimum-values (KMV)
    estimator of distinct users per event type, with the exact count
    alongside as the verification baseline.

    Why KMV and not approx_count_distinct: the sketch state is just the
    k smallest hash values — order-insensitive, mergeable (union = merge
    k-min sets), and *deterministic given the hash*, so a DuckDB oracle
    can reproduce the ESTIMATE itself bit-for-bit.  Estimator: with
    U = kth smallest hash / 2^32, est = (k-1)/U; groups with fewer than
    k distinct hashes report their exact hash count (the standard KMV
    small-range rule; rel. error ~1/sqrt(k-2) above it).

    Scale shape: the only heavy step is the (event_type, hash) distinct
    — a partial-agg shuffle of the deduplicated pairs; the per-group
    k-smallest is a window over at most the distinct set, and everything
    after is sketch-sized.  At 100 TB the exact twin column is dropped
    and ONLY the k-row-per-group state moves.  Plan pinned by
    tests/test_plans.py::test_kmv_partial_dedup_before_shuffle.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = F.pmod(F.col("user_id") * F.lit(KMV_HASH_A), F.lit(KMV_HASH_M))
    hashes = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sketch = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("rn").alias("n_seen"), F.max("h").alias("kth_hash"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    est = F.when(
        F.col("n_seen") < KMV_K, F.col("n_seen").cast("double")
    ).otherwise(
        F.round(F.lit(float((KMV_K - 1) * KMV_HASH_M)) / F.col("kth_hash"), 3)
    )
    return (
        sketch.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_seen",
            est.alias("kmv_estimate"),
            "true_distinct",
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


# Count-min sketch geometry: CMS_DEPTH independent hash rows of
# CMS_WIDTH counters.  Hash family j: ((x + j*9973) * A) mod 2^32
# mod WIDTH — same portable arithmetic as the KMV sketch, so the
# ESTIMATES are reproducible in the DuckDB oracle.
CMS_DEPTH = 4
CMS_WIDTH = 128


def cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-estimation SKETCH, portably: a count-min sketch of
    per-user event counts, reported next to the exact count.

    The sketch is CMS_DEPTH x CMS_WIDTH counters — constant-size,
    mergeable (cell-wise sum), built with ONE map-side explode (each
    event emits its CMS_DEPTH (row, bucket) cells) and one shuffle of at
    most DEPTH*WIDTH = 512 groups regardless of data volume.  The
    estimate for a key is min over rows of its cell — always >= the
    true count (one-sided error; overestimate bounded by collisions,
    pinned in tests).  At 100 TB this is how you answer "how often does
    key X appear" without a data-sized groupBy state; the exact twin
    column here is the verification baseline the oracle also checks.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cells = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            F.pmod(
                                (F.col("user_id") + F.lit(j * 9973))
                                * F.lit(KMV_HASH_A),
                                F.lit(KMV_HASH_M),
                            ),
                            F.lit(CMS_WIDTH),
                        ).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("user_id", "c.row", "c.bucket")
    sketch = cells.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))
    keys = ev.groupBy("user_id").agg(F.count("*").alias("true_events"))
    key_cells = keys.select(
        "user_id",
        "true_events",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            F.pmod(
                                (F.col("user_id") + F.lit(j * 9973))
                                * F.lit(KMV_HASH_A),
                                F.lit(KMV_HASH_M),
                            ),
                            F.lit(CMS_WIDTH),
                        ).alias("bucket"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("user_id", "true_events", "c.row", "c.bucket")
    return (
        key_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("user_id", "true_events")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select("user_id", "cms_estimate", "true_events")
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


BLOOM_BITS = 4096
BLOOM_K = 4


def _bloom_positions(key: Column) -> "list[Column]":
    """The BLOOM_K bit positions of ``key`` under the portable hash
    family (same arithmetic as the KMV/CMS sketches)."""
    return [
        F.pmod(
            F.pmod(
                (key + F.lit(j * 9973)) * F.lit(KMV_HASH_A),
                F.lit(KMV_HASH_M),
            ),
            F.lit(BLOOM_BITS),
        )
        for j in range(BLOOM_K)
    ]


def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime Bloom-filter join pruning: build a BLOOM_BITS-bit
    filter over the keys of a SELECTIVE dim side (customers with an
    order since 2001-06-01), probe every fact-side row map-side, and
    report the bloom verdict next to the exact semi-join truth.

    This is the rewrite Spark's runtime bloom injection performs
    internally, built portably: the filter is 64 bigint words (bit_or
    aggregate over shifted bits — mergeable, broadcastable at any dim
    size), the probe is k AND-mask tests against a broadcast 64-row
    map — so the expensive side is pruned BEFORE its shuffle, which at
    100 TB is the difference between shuffling the whole fact table and
    shuffling the ~match fraction.  Bloom guarantees pinned in tests:
    ZERO false negatives (every true match passes), false positives
    bounded by the (k, m/n) design point.  The oracle replays the
    semantics via the position-set equivalence (a bit is set iff some
    dim key hashes to that position) without needing engine-identical
    64-bit wraparound.
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= F.lit("2001-06-01"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    dim_pos = dim.select(
        F.explode(F.array(*_bloom_positions(F.col("k")))).alias("p")
    )
    bloom = dim_pos.groupBy((F.col("p") / 64).cast("int").alias("word")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(p, 64) as int)))").alias("wv")
    )
    probe = cust.select(
        "c_custkey",
        F.explode(F.array(*_bloom_positions(F.col("c_custkey")))).alias("p"),
    ).withColumn("word", (F.col("p") / 64).cast("int"))
    checked = (
        probe.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            (
                F.coalesce(F.col("wv"), F.lit(0)).bitwiseAND(
                    F.expr("shiftleft(1L, cast(pmod(p, 64) as int))")
                )
                != 0
            ).cast("int"),
        )
        .groupBy("c_custkey")
        .agg((F.sum("hit") == BLOOM_K).cast("int").alias("bloom_pass"))
    )
    truth = cust.select("c_custkey").join(
        dim.withColumn("m", F.lit(1)),
        cust.c_custkey == dim.k,
        "left",
    ).select("c_custkey", F.coalesce("m", F.lit(0)).alias("true_match"))
    return (
        checked.join(truth, "c_custkey")
        .select("c_custkey", "bloom_pass", "true_match")
        .repartition(1)
        .sortWithinPartitions("c_custkey")
    )


RANK_BUCKETS = 64


def global_rank_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbers WITHOUT a single-partition sort —
    the scale-correct zipWithIndex.  A naive
    ``row_number() over (order by k)`` collapses the whole table into
    one window partition (one task sorts 100 TB); ``repartitionByRange``
    fixes the sort but samples, so ranks can shift between runs.

    Two deterministic passes instead:
      1. bucket = k's position in a FIXED equal-width grid over the
         hash domain (uniform because the portable multiplicative hash
         is uniform; no sampling, so the partitioning is reproducible);
         a tiny per-bucket count aggregate (O(RANK_BUCKETS) rows) is
         cumulated into per-bucket start offsets — the only "global"
         sort touches RANK_BUCKETS rows, not the table.
      2. offsets broadcast back; global_rank = bucket offset +
         row_number within the bucket (each window partition is one
         bucket, ~N/RANK_BUCKETS rows — at 100 TB raise RANK_BUCKETS so
         a bucket fits a task).

    The big table shuffles exactly once (on bucket); the hash is
    injective on o_orderkey < 2^32, so ranks are total and tie-free."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bucket_width = KMV_HASH_M // RANK_BUCKETS
    keyed = orders.select("o_orderkey").withColumn(
        "h", F.pmod(F.col("o_orderkey") * F.lit(KMV_HASH_A), F.lit(KMV_HASH_M))
    ).withColumn("bucket", (F.col("h") / F.lit(bucket_width)).cast("int"))
    offsets = (
        keyed.groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    # tiny-window: O(RANK_BUCKETS) offset rows, never the table
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    w = Window.partitionBy("bucket").orderBy("h")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "global_rank",
            (F.col("offset") + F.row_number().over(w)).cast("bigint"),
        )
        .select("o_orderkey", "global_rank")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )


def _grid_buckets(df: DataFrame, value_col: str, n_buckets: int) -> DataFrame:
    """Pass 1 of the two-pass rank/cumsum family: tag each row with its
    position in a FIXED equal-width grid over [min, max] of the integral
    column ``value_col``.  The min/max pair is a tiny driver-read
    aggregate (the repo's tiny-stats policy — same as
    ``exact_quantile_refine``'s histogram); no sampling, so the
    bucketing is reproducible across runs and cluster sizes, unlike
    ``repartitionByRange``.  Equal values ALWAYS share a bucket, which
    is what makes within-bucket ranking + per-bucket offsets reproduce
    a global (value, tie) order exactly."""
    row = df.agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
    ).first()
    lo = 0 if row["lo"] is None else int(row["lo"])
    hi = lo if row["hi"] is None else int(row["hi"])
    width = max((hi - lo) // n_buckets + 1, 1)
    return df.withColumn(
        "_rb", F.expr(f"cast((({value_col}) - ({lo})) div {width} as int)")
    )


def bucketed_global_rank(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    descending: bool = False,
    n_buckets: int = RANK_BUCKETS,
    rank_col: str = "rk",
) -> DataFrame:
    """``row_number() over (order by value [desc], tie)`` WITHOUT a
    single-partition sort — the value-ordered sibling of
    ``global_rank_two_pass`` (which ranks by a hash): grid-bucket the
    value domain, cumulate per-bucket counts into start offsets (the
    only unpartitioned window touches O(n_buckets) rows, never the
    table), broadcast the offsets back, and rank WITHIN each bucket.
    The big table shuffles exactly once (on the bucket key); at 100 TB
    raise ``n_buckets`` so a bucket fits one task.  Ties never straddle
    buckets (equal values share a bucket by construction), so the
    result is bit-equal to the naive global window at any scale."""
    keyed = _grid_buckets(df, value_col, n_buckets)
    border = F.desc("_rb") if descending else F.asc("_rb")
    offs = (
        keyed.groupBy("_rb")
        .agg(F.count("*").alias("_rc"))
        .withColumn(
            "_ro",
            F.coalesce(
                F.sum("_rc").over(
                    # tiny-window: O(n_buckets) offset rows, never the table
                    Window.orderBy(border).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_rb", "_ro")
    )
    w = Window.partitionBy("_rb").orderBy(
        F.desc(value_col) if descending else F.asc(value_col),
        F.asc(tie_col),
    )
    return (
        keyed.join(F.broadcast(offs), "_rb")
        .withColumn(
            rank_col, (F.col("_ro") + F.row_number().over(w)).cast("bigint")
        )
        .drop("_rb", "_ro")
    )


def bucketed_exclusive_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    n_buckets: int = RANK_BUCKETS,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in ``order_col`` order
    (``sum(value) over (order by k rows unbounded preceding to -1)``)
    without a single-partition sort — same two-pass shape as
    ``bucketed_global_rank``: per-bucket sums cumulate into bucket
    offsets (tiny), the within-bucket running sum is a window
    partitioned BY bucket.  ``order_col`` must be unique (it is the
    sort key); at 10^12 rows this is the sequence_pack offset shape."""
    keyed = _grid_buckets(df, order_col, n_buckets)
    offs = (
        keyed.groupBy("_rb")
        .agg(F.sum(value_col).alias("_rc"))
        .withColumn(
            "_ro",
            F.coalesce(
                F.sum("_rc").over(
                    # tiny-window: O(n_buckets) offset rows, never the table
                    Window.orderBy("_rb").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_rb", "_ro")
    )
    w = (
        Window.partitionBy("_rb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        keyed.join(F.broadcast(offs), "_rb")
        .withColumn(
            out_col,
            (
                F.col("_ro")
                + F.coalesce(F.sum(value_col).over(w), F.lit(0))
            ).cast("bigint"),
        )
        .drop("_rb", "_ro")
    )


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the classic star-schema multi-way join: revenue
    per nation for ASIA-region suppliers whose customer sits in the
    SAME nation, over one order-date year.

    Join strategy, which is the whole point at 100 TB:
      * region -> nation -> supplier collapse into ONE broadcast dim
        (filter first, broadcast the survivors: 1 region x its nations
        x their suppliers — tiny after the region gate);
      * lineitem joins orders on l_orderkey = o_orderkey, the two
        genuinely large tables co-keyed on the SAME key so one shuffle
        pair serves the join, with the date filter pushed to the orders
        scan BEFORE its shuffle;
      * customer joins on o_custkey (big at web scale: shuffle join,
        AQE free to demote it to broadcast at small sf);
      * the c_nationkey = s_nationkey equality rides the supplier
        broadcast join as a second condition — never a separate join.
    Revenue is integer hundredths-of-a-cent (price-cents x
    (100 - discount-cents)) so accumulation order cannot flip the hash.
    """
    rg = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    dim = su.join(
        F.broadcast(na.join(F.broadcast(rg), na.n_regionkey == rg.r_regionkey)),
        su.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("2000-01-01"))
            & (F.col("o_orderdate") < F.lit("2001-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_c2"),
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(dim),
            (li.l_suppkey == dim.s_suppkey)
            & (cust.c_nationkey == dim.s_nationkey),
        )
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum("rev_c2").alias("revenue_c2"))
        .repartition(1)
        .sortWithinPartitions("n_name")
    )


QUANTILE_BUCKETS = 256


def exact_quantile_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p75 of o_totalprice (cents) without ever sorting
    the table globally — the histogram-refinement answer to "exact
    quantiles of 100 TB": approx_percentile is approximate and a global
    sort is a RangePartitioner pass over everything, but two cheap
    passes give the exact order statistic:

      pass 1: min/max agg, then a fixed-grid histogram (map-side
        partial agg -> QUANTILE_BUCKETS rows); cumulating the tiny
        histogram locates, for each target rank k = ceil(q*N), the
        bucket holding the k-th value and the residual rank within it;
      pass 2: scan again filtered to ONE bucket (~N/QUANTILE_BUCKETS
        rows — the filter is pushed to the parquet scan), take the
        residual-rank-th smallest via sort-limit on the tiny survivor
        set.  At extreme scale the same step recurses; one refinement
        suffices here and the recursion depth is log_B(N).

    The histogram (O(QUANTILE_BUCKETS) rows) is collected as a
    plan-manifest read — same tiny-stats policy as the checkpoint
    manifests.  Order statistics are tie-insensitive, so no tiebreak
    column is needed for value equality with the oracle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    lo, hi, n = orders.agg(
        F.min("cents"), F.max("cents"), F.count("*")
    ).first()
    width = max((hi - lo) // QUANTILE_BUCKETS + 1, 1)
    hist = (
        orders.groupBy(((F.col("cents") - lo) / width).cast("int").alias("b"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    counts = {r["b"]: r["cnt"] for r in hist}
    out = None
    for qname, qpct in [("p25", 25), ("p50", 50), ("p75", 75)]:
        k = max(1, -(-(qpct * n) // 100))  # ceil(q*N), 1-indexed, int-exact
        below, bucket = 0, 0
        for b in sorted(counts):
            if below + counts[b] >= k:
                bucket = b
                break
            below += counts[b]
        residual = k - below
        one = (
            orders.filter(
                ((F.col("cents") - lo) / width).cast("int") == bucket
            )
            .orderBy("cents")
            .limit(residual)
            .agg(F.max("cents").alias("value_cents"))
            .select(F.lit(qname).alias("quantile"), "value_cents")
        )
        out = one if out is None else out.union(one)
    return out.repartition(1).sortWithinPartitions("quantile")


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving value over each user's
    last 10 events (alpha = 1/2) — the decay-weighted signal a
    freshness-sensitive feature store keeps, engine-exact: weights are
    POWERS OF TWO on integer cents (lag j weighted 2^(9-j)), so the
    weighted sum is pure bigint arithmetic — no float accumulation
    order to disagree on, unlike a textbook alpha*x + (1-alpha)*ewma
    recurrence (which is also inherently sequential; the windowed form
    is embarrassingly parallel).

    One shuffle on user_id; the 10 lag() calls share a single window
    frame (one sort, one pass).  Reported at each user's latest event."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    weighted = sum(
        (
            F.coalesce(F.lag("cents", j).over(w), F.lit(0))
            * F.lit(1 << (9 - j))
        )
        for j in range(10)
    )
    latest = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("ewma_scaled", weighted.cast("bigint"))
        .withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .select("user_id", "ewma_scaled")
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


AGG_MERGE_CUTOFF = "2024-01-20"


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the production shape for a
    daily pipeline that must NOT recompute history: a per-user state
    aggregate over everything before the cutoff (in production: the
    stored state table from yesterday's run), a delta aggregate over
    only the new slice, and an algebraic MERGE (counts add, sums add,
    maxes take greatest).  History is touched once, ever; each day's
    cost is O(delta) + a state-sized merge join.

    Works because count/sum/max are commutative monoids — the same
    property that lets Spark combine map-side partially.  At 100 TB the
    state table is bucketed on user_id so the merge join is
    shuffle-free on the state side; the delta (one day) is tiny by
    comparison.  Oracle: full recompute over the union — merge and
    recompute must agree EXACTLY (integer cents)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cut = F.lit(AGG_MERGE_CUTOFF).cast("timestamp")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("ts").alias("last_ts"),
        )

    state = agg(ev.filter(F.col("ts") < cut))
    delta = agg(ev.filter(F.col("ts") >= cut))
    s = state.select(
        "user_id",
        F.col("n_events").alias("s_n"),
        F.col("sum_cents").alias("s_sum"),
        F.col("last_ts").alias("s_ts"),
    )
    d = delta.select(
        "user_id",
        F.col("n_events").alias("d_n"),
        F.col("sum_cents").alias("d_sum"),
        F.col("last_ts").alias("d_ts"),
    )
    return (
        s.join(d, "user_id", "full_outer")
        .select(
            "user_id",
            (
                F.coalesce("s_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce("s_sum", F.lit(0)) + F.coalesce("d_sum", F.lit(0))
            ).alias("sum_cents"),
            F.greatest(
                F.coalesce("s_ts", "d_ts"), F.coalesce("d_ts", "s_ts")
            ).alias("last_ts"),
        )
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


CC_GROUPS = 8  # disjoint node groups -> guaranteed >= 8 components


def _synth_grouped_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic edge list whose nodes split into CC_GROUPS disjoint
    residue classes (edges never cross groups), so the component
    structure is non-trivial by construction.  The y endpoint is a
    portable multiplicative hash of event_id (no rand()), so x and y are
    decorrelated identically in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    g = F.col("event_id") % CC_GROUPS
    x = (F.col("event_id") % 25) * CC_GROUPS + g
    y = (
        ((F.col("event_id") * 2654435761) % 4294967296) % 25
    ) * CC_GROUPS + g
    pairs = ev.select(x.alias("x"), y.alias("y")).filter(
        F.col("x") != F.col("y")
    )
    return pairs.select(
        F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
    ).distinct()


def connected_components_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a first-class query: every node labeled
    with its component's minimum node id plus the component size —
    via the alternating large-star / small-star rounds of Kiveris et
    al. (SoCC'14) in ocr_spark.operators.dedup.connected_components.

    Why not min-label propagation: propagation needs O(diameter)
    rounds (a duplicate CHAIN makes that O(n)); star contraction
    converges in O(log^2 n) rounds regardless of diameter, each round
    two key shuffles with intermediate size O(E).  The oracle is the
    ground-truth transitive closure (DuckDB recursive CTE) — feasible
    only because the test graph is small; the Spark side is the form
    that survives 10^12 edges."""
    from ocr_spark.operators.dedup import connected_components

    edges = _synth_grouped_edges(spark, sf_dir)
    labels = connected_components(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    ).select(F.col("doc_id").alias("node"), "cluster_id")
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    out = nodes.join(labels, "node", "left").select(
        "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
    )
    out = out.withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
    )
    return out.repartition(1).sortWithinPartitions("node")


def two_hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 2-hop neighborhood size per node (GNN receptive-field /
    friend-of-friend feature): |{w : w≠v, w∉N(v), ∃u: v~u~w}|.

    Scale shape: the wedge join is keyed on the middle node u, so its
    fan-out is sum_u deg(u)^2 — the same hub-quadratic axis as triangle
    counting, and the same levers apply (degree-cap sampling for
    approximate features, or the degree-orientation split for exact).
    Here: symmetric edges, one self-join on u, DISTINCT (v, w) pairs,
    anti-join against direct neighbors, then one count per node.  The
    fixture graph caps degrees by construction, so the exact form is
    the right one to pin."""
    edges = _synth_grouped_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    hop1 = sym.select(F.col("u").alias("v"), F.col("v").alias("w"))
    wedge = (
        sym.select(F.col("v").alias("v0"), F.col("u").alias("mid"))
        .join(
            sym.select(F.col("u").alias("mid"), F.col("v").alias("w")),
            "mid",
        )
        .filter(F.col("v0") != F.col("w"))
        .select(F.col("v0").alias("v"), "w")
        .distinct()
    )
    two_hop = wedge.join(hop1, ["v", "w"], "left_anti")
    return (
        two_hop.groupBy(F.col("v").alias("node"))
        .agg(F.count("*").alias("n_two_hop"))
        .repartition(1)
        .sortWithinPartitions("node")
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week (the cohort), counted in each later week they return — the
    table behind every retention curve, in exact integer arithmetic
    (epoch-week = epoch_days div 7; retention as ppm of cohort size).

    Scale shape: first-activity week is one user-keyed min-agg; the
    (user, week) activity set is one distinct agg on the same key
    (co-partitioned — AQE reuses the exchange); the cohort matrix agg is
    keyed on (cohort_week, week_offset), whose cardinality is weeks² —
    tiny forever.  No window over the raw event stream, no skew axis
    beyond the busiest user."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr(
            "cast(datediff(cast(ts as date), date'1970-01-01') as bigint)"
            " div 7"
        ).alias("week"),
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    joined = active.join(first, "user_id").select(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("offset")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    matrix = joined.groupBy("cohort_week", "offset").agg(
        F.count("*").alias("n_active")
    )
    return (
        matrix.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "offset",
            "n_active",
            "cohort_users",
            F.expr("(n_active * 1000000) div cohort_users").alias(
                "retention_ppm"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("cohort_week", "offset")
    )


CDC_CUTOFF = "2024-01-20"


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a lakehouse format: apply a
    changelog of upserts and deletes to a base snapshot — the inverse of
    snapshot_diff (which DERIVES the changelog).  Base = latest value
    per user before the cutoff; changelog = events at/after it, each
    deterministically an upsert or a delete (event_id % 10 == 0).
    Last-writer-wins within the changelog by (ts, event_id); a final
    delete removes the key, a final upsert sets its value, untouched
    base keys survive.

    Scale shape: the changelog collapses to ONE row per touched key
    (max_by on the key shuffle) BEFORE the merge, so the full-outer
    join is state-size × touched-size — with the state table bucketed
    on user_id the merge is shuffle-free on the big side, same layout
    argument as incremental_agg_merge.  Deletes must flow through the
    join (not be pre-filtered): a delete of an absent key is a no-op,
    a delete of a present key is a tombstone."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("event_id") % 10 == 0).alias("is_delete"),
    )
    cut = F.lit(CDC_CUTOFF).cast("timestamp")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    base = latest(ev.filter(F.col("ts") < cut)).select(
        "user_id",
        F.col("cents").alias("b_cents"),
        F.col("ts").alias("b_ts"),
    )
    delta = latest(ev.filter(F.col("ts") >= cut)).select(
        "user_id",
        F.col("cents").alias("d_cents"),
        F.col("ts").alias("d_ts"),
        "is_delete",
    )
    merged = base.join(delta, "user_id", "full_outer")
    return (
        merged.filter(
            F.col("is_delete").isNull() | (~F.col("is_delete"))
        )
        .select(
            "user_id",
            F.coalesce("d_cents", "b_cents").alias("cents"),
            F.coalesce("d_ts", "b_ts").alias("ts"),
            F.when(F.col("d_ts").isNotNull(), "updated")
            .otherwise("base")
            .alias("src"),
        )
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


PRUNE_BUCKET_ROWS = 50
PRUNE_LO, PRUNE_HI = 400, 500  # n_chars predicate window


def pruning_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-effectiveness audit: how many row groups a min/max-stats
    reader (parquet/Iceberg) could SKIP for the predicate
    n_chars BETWEEN 400 AND 500, under (a) arrival order (bucket =
    doc_id div B) vs (b) n_chars-sorted order (bucket = rank div B) —
    the number that justifies paying for a sorted/Z-ordered rewrite:
    arrival buckets all straddle the predicate (skip ≈ 0), sorted
    buckets localize it (skip ≈ all but the matching stripe).

    Exact integer output: per layout, bucket count, skippable count
    (bucket max < lo OR bucket min > hi — the reader's stats test
    verbatim), and skip ppm.  One agg per layout; the rank for the
    sorted layout is a window on the aggregated (value-sorted) stream —
    at production scale the rank comes from the write-time sort itself,
    so the audit is metadata-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    arrival = docs.select(
        F.expr(f"doc_id div {PRUNE_BUCKET_ROWS}").alias("bucket"),
        "n_chars",
    )
    by_len = docs.select(
        F.expr(
            f"(row_number() over (order by n_chars, doc_id) - 1)"
            f" div {PRUNE_BUCKET_ROWS}"
        ).alias("bucket"),
        "n_chars",
    )

    def audit(df: DataFrame, layout: str) -> DataFrame:
        stats = df.groupBy("bucket").agg(
            F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
        )
        skippable = (F.col("hi") < PRUNE_LO) | (F.col("lo") > PRUNE_HI)
        return stats.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_buckets"),
            F.sum(skippable.cast("bigint")).alias("n_skippable"),
            F.expr(
                f"(sum(cast((hi < {PRUNE_LO} or lo > {PRUNE_HI}) as bigint))"
                " * 1000000) div count(*)"
            ).alias("skip_ppm"),
        )

    return (
        audit(arrival, "arrival")
        .unionAll(audit(by_len, "sorted"))
        .repartition(1)
        .sortWithinPartitions("layout")
    )


HALF_LIFE_CAP_DAYS = 30


def half_life_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock half-life decayed engagement per user: an event's
    weight halves per day of age at the corpus max date, ages capped at
    HALF_LIFE_CAP_DAYS.  Carried as EXACT integers — weight 2^(cap-age)
    on integer cents — so the sum is associative bigint arithmetic (no
    float decay, no accumulation-order hazard); a consumer divides by
    2^cap once for the human-readable score.

    Complements ewma_user_value (event-INDEX decay): this is clock-time
    decay, the form feed-ranking and abuse counters actually use.
    Shape: ages computed against a broadcast 1-row max-date, one
    user-keyed sum — map-side partial agg does the heavy lifting."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    mx = ev.agg(F.max("d").alias("mxd"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "cents",
        F.least(
            F.datediff("mxd", "d"), F.lit(HALF_LIFE_CAP_DAYS)
        ).alias("age"),
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    "cents * shiftleft(cast(1 as bigint),"
                    f" {HALF_LIFE_CAP_DAYS} - age)"
                )
            ).alias("decayed_cents_x2c"),
            F.count("*").alias("n_events"),
        )
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


KMV_JOIN_K = 64


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from mergeable KMV sketches — what a
    cost-based planner does before choosing a join strategy: estimate
    |users(view) ∩ users(purchase)| from two K-minimum-values sketches
    WITHOUT scanning the join, then report the exact truth and the
    estimation error side by side.

    KMV algebra (portable hash, all integer): each side keeps its K
    smallest hashes; the union sketch is the K smallest of the merged
    set with threshold h_K, |A∪B| ≈ (K-1)·M/h_K; intersection counts
    common hashes below the union threshold: |A∩B| ≈ (c/K)·|A∪B|.
    Sketches are tiny (K values), merge is associative — exactly the
    property that lets 1000 executors sketch 100 TB map-side and merge
    on the driver.  Output is one row: exact, estimate, error ppm."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type"
    )
    h = F.pmod(F.col("user_id") * 2654435761, F.lit(4294967296))

    def sketch(etype: str):
        return (
            ev.filter(F.col("event_type") == etype)
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(KMV_JOIN_K)
        )

    a = sketch("view").select(F.col("h").alias("ha"))
    b = sketch("purchase").select(F.col("h").alias("hb"))
    union_k = (
        a.select(F.col("ha").alias("h"))
        .union(b.select(F.col("hb").alias("h")))
        .distinct()
        .orderBy("h")
        .limit(KMV_JOIN_K)
    )
    thr = union_k.agg(F.max("h").alias("hk"), F.count("*").alias("k"))
    common = (
        a.join(b, F.col("ha") == F.col("hb"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("ha") <= F.col("hk"))
        .agg(F.count("*").alias("c"))
    )
    exact = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").alias("exact_n"))
    )
    est = (
        thr.crossJoin(common)
        .select(
            "k",
            "c",
            "hk",
            F.expr(
                "(cast(c as bigint) * ((cast(k as bigint) - 1)"
                " * 4294967296 div hk)) div k"
            ).alias("est_n"),
        )
    )
    return (
        est.crossJoin(exact)
        .select(
            "k",
            "c",
            "exact_n",
            "est_n",
            F.expr(
                "(abs(est_n - exact_n) * 1000000)"
                " div greatest(exact_n, 1)"
            ).alias("err_ppm"),
        )
    )


SLIDE_WINDOW_DAYS = 7


def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sliding 7-day distinct active users per day — the DAU/WAU
    family metric that resists naive windowing because COUNT(DISTINCT)
    doesn't decompose over sliding frames.  The scale-correct exact
    form: collapse the raw stream to distinct (user, day) first (the
    big shuffle, heavily map-side combined), then explode each activity
    day into the <=7 window-end days it covers, distinct again, count
    per day.  Blowup is bounded by window/stride = 7x on the ALREADY
    deduplicated activity table, not on the raw events.  Only days with
    a full 7-day lookback inside the data range are emitted (partial
    leading windows would disagree with any fixed-window consumer).

    At larger windows (W/stride >> 10) the exact form gives way to
    per-day KMV/HLL sketch unions — kmv_distinct_users holds that end
    of the spectrum; this op pins the exact end."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day"),
    )
    activity = ev.distinct()
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    covered = activity.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + (SLIDE_WINDOW_DAYS - 1)
            )
        ).alias("win_end"),
    ).distinct()
    counted = covered.groupBy("win_end").agg(
        F.count("*").alias("n_distinct_users")
    )
    return (
        counted.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("win_end") >= F.col("d0") + (SLIDE_WINDOW_DAYS - 1))
            & (F.col("win_end") <= F.col("d1"))
        )
        .select("win_end", "n_distinct_users")
        .repartition(1)
        .sortWithinPartitions("win_end")
    )


def dwell_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell time per event type: for each event, the gap to
    the SAME USER's next event (lead window keyed on user — the
    sessionization shuffle, reused); aggregated per the type the user
    was dwelling on.  Integer-exact: gaps in whole seconds, average as
    bigint div, plus min/max — the engagement numbers a product team
    reads next to the funnel.

    Shape: one user-keyed window (sorted within partitions by ts), one
    small agg keyed by event_type; nothing corpus-sized after the
    window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    gapped = ev.withColumn(
        "gap_s", F.lead("s").over(w) - F.col("s")
    ).filter(F.col("gap_s").isNotNull())
    return (
        gapped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.expr("sum(gap_s) div count(*)").alias("avg_gap_s"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over the orders fact —
    the Great-Expectations/dbt-test shape: each expectation evaluates in
    the SAME single scan as conditional aggregates (not one job per
    rule), plus one distinct-count for uniqueness; output is the tall
    (expectation, n_checked, n_failed, pass) table a quality gate
    asserts on before publishing a partition.

    Expectations: o_orderkey not-null and unique; o_custkey not-null;
    o_totalprice positive; o_orderstatus within the accepted set;
    o_orderdate within the loaded horizon.  All counts are exact
    integers; 'pass' is n_failed == 0."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = F.count("*")

    def fails(cond) -> object:
        return F.sum(F.when(~cond, 1).otherwise(0))

    row_checks = o.agg(
        n.alias("n"),
        fails(F.col("o_orderkey").isNotNull()).alias("f_key_null"),
        fails(F.col("o_custkey").isNotNull()).alias("f_cust_null"),
        fails(F.col("o_totalprice") > 0).alias("f_price_pos"),
        fails(F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "f_status_set"
        ),
        fails(
            (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2030-01-01").cast("timestamp"))
        ).alias("f_date_range"),
        (n - F.countDistinct("o_orderkey")).alias("f_key_dupes"),
    )
    tall = []
    for name, col in [
        ("orderkey_not_null", "f_key_null"),
        ("orderkey_unique", "f_key_dupes"),
        ("custkey_not_null", "f_cust_null"),
        ("totalprice_positive", "f_price_pos"),
        ("orderstatus_accepted", "f_status_set"),
        ("orderdate_in_horizon", "f_date_range"),
    ]:
        tall.append(
            row_checks.select(
                F.lit(name).alias("expectation"),
                F.col("n").alias("n_checked"),
                F.col(col).cast("bigint").alias("n_failed"),
                (F.col(col) == 0).cast("int").alias("pass"),
            )
        )
    out = tall[0]
    for t in tall[1:]:
        out = out.unionAll(t)
    return out.repartition(1).sortWithinPartitions("expectation")


ANOMALY_TRAIL_DAYS = 7
ANOMALY_THRESH_PPM = 1_500_000  # flag days > 1.5x the trailing mean


def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly gate on the daily event count: each day compares
    against the mean of the PRECEDING 7 days (strictly before it — the
    day must not feed its own baseline) as an exact ppm ratio; days over
    1.5x are flagged.  The ingest-monitoring query that catches a
    double-delivery or a dead producer before it poisons downstream
    aggregates.

    Integer-exact: ratio_ppm = (n * 7 * 1e6) div trailing_sum — the
    trailing MEAN never materializes as a float.  Days without a full
    7-day baseline emit ratio null, flag 0.  Shape: one day-keyed count
    (map-side partials), then a lag-7 window over the day-count table —
    days-sized, never corpus-sized."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day")
    )
    daily = ev.groupBy("day").agg(F.count("*").alias("n"))
    w = (
        # tiny-window: calendar-sized daily series, never the table
        Window.orderBy("day")
        .rowsBetween(-ANOMALY_TRAIL_DAYS, -1)
    )
    trailed = daily.withColumn("trail_n", F.count("n").over(w)).withColumn(
        "trail_sum", F.sum("n").over(w)
    )
    ratio = F.when(
        F.col("trail_n") == ANOMALY_TRAIL_DAYS,
        F.expr(
            f"(n * {ANOMALY_TRAIL_DAYS} * 1000000) div trail_sum"
        ),
    )
    return (
        trailed.select(
            "day",
            "n",
            ratio.alias("ratio_ppm"),
            F.coalesce(
                (ratio > ANOMALY_THRESH_PPM).cast("int"), F.lit(0)
            ).alias("is_anomaly"),
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )


LTV_DECILES = 10


def ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile profile: users ranked by lifetime value
    (integer cents), cut into 10 equal-count buckets, each reporting its
    population, value floor/ceiling, total, and share of all value in
    exact ppm — the RFM-style table behind 'the top decile is 40% of
    revenue'.

    Shape: the heavy work is ONE user-keyed sum over events; the decile
    rank is the two-pass bucketed rank (``bucketed_global_rank``) over
    the aggregated user table — bit-equal to a global window but never
    a single-partition sort, so the plan survives 10^9 users — and the
    decile rollup is 10 rows."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ltv = ev.groupBy("user_id").agg(F.sum("cents").alias("ltv_cents"))
    n_total = ltv.count()
    ranked = bucketed_global_rank(
        ltv, "ltv_cents", "user_id", descending=True
    ).withColumn(
        "decile",
        F.expr(f"((rk - 1) * {LTV_DECILES}) div {n_total}"),
    )
    tot = ltv.agg(F.sum("ltv_cents").alias("tot"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.min("ltv_cents").alias("min_cents"),
            F.max("ltv_cents").alias("max_cents"),
            F.sum("ltv_cents").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "min_cents",
            "max_cents",
            "sum_cents",
            F.expr("(sum_cents * 1000000) div tot").alias("value_share_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("decile")
    )


BASKET_TOP = 40


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket support counting):
    pairs of parts appearing in the SAME order, support = number of
    orders containing both, plus each part's own order frequency so a
    consumer can derive confidence/lift without rescanning.

    Scale shape: the pair generator self-joins the (order, part) table
    on the ORDER key — fan-out is sum over orders of basket_size², and
    baskets are small by nature (single-digit lines per order), so the
    quadratic term is bounded per key; a pathological mega-basket is the
    skew axis and gets the same cap-or-salt treatment as hub nodes in
    triangle counting.  Distinct (order, part) first so quantity
    repeats don't inflate support."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
    )
    freq = li.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    fa = freq.select(
        F.col("l_partkey").alias("pa"), F.col("n_orders").alias("n_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("pb"), F.col("n_orders").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(fa), "pa")
        .join(F.broadcast(fb), "pb")
        .select("pa", "pb", "support", "n_a", "n_b")
        .orderBy(F.desc("support"), "pa", "pb")
        .limit(BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# KMV sketch rollup: daily partials merged to weekly — sketch mergeability
# ---------------------------------------------------------------------------


def kmv_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAGGREGATION story for distinct-count sketches: per-DAY KMV
    partials (k smallest user hashes per day) merged into per-WEEK
    estimates without touching the raw events again — the pattern that
    makes pre-aggregated dashboards possible (daily sketch partitions
    roll up to week/month/quarter; an exact distinct count cannot be
    re-aggregated, a KMV/HLL sketch can: merge = union, re-take k-min).

    Same portable hash + estimator as ``kmv_distinct_users``
    (est = (k-1)*2^32 / kth-smallest, exact below k), so the merged
    ESTIMATE itself is engine-exact and the DuckDB oracle verifies the
    whole rollup, not just the baseline.

    Scale shape: raw events are touched ONCE to build the daily
    partials (a (day, hash) distinct partial-agg shuffle); the weekly
    merge then runs over at most ``365 * k`` sketch rows per year —
    sketch-sized, not data-sized.  The exact per-week twin column here
    is the verification baseline; at 100 TB it is dropped and ONLY the
    k-row partials move."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = F.to_date("ts")
    h = F.pmod(F.col("user_id") * F.lit(KMV_HASH_A), F.lit(KMV_HASH_M))
    daily = ev.select(day.alias("day"), h.alias("h")).distinct()
    wd = Window.partitionBy("day").orderBy("h")
    daily_sk = (
        daily.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= KMV_K)
        .select("day", "h")
    )
    week = F.expr("datediff(day, date'2024-01-01') div 7")
    merged = daily_sk.select(week.alias("week"), "h").distinct()
    ww = Window.partitionBy("week").orderBy("h")
    week_sk = (
        merged.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("week")
        .agg(F.max("rn").alias("n_seen"), F.max("h").alias("kth_hash"))
    )
    exact = (
        ev.select(
            F.expr("datediff(to_date(ts), date'2024-01-01') div 7").alias(
                "week"
            ),
            "user_id",
        )
        .distinct()
        .groupBy("week")
        .agg(F.count("*").alias("true_distinct"))
    )
    est = F.when(
        F.col("n_seen") < KMV_K, F.col("n_seen").cast("double")
    ).otherwise(
        F.round(F.lit(float((KMV_K - 1) * KMV_HASH_M)) / F.col("kth_hash"), 3)
    )
    return (
        week_sk.join(F.broadcast(exact), "week")
        .select(
            "week",
            "n_seen",
            est.alias("kmv_estimate"),
            "true_distinct",
        )
        .repartition(1)
        .sortWithinPartitions("week")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt
# ---------------------------------------------------------------------------


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the lineitem measure columns turned into
    (measure, value) rows and profiled per measure — the inverse of
    ``priority_pivot`` and the standard reshape before a generic
    per-metric quality dashboard.

    ``stack(4, ...)`` is a map-side 1-row -> 4-row expansion inside the
    project node — no join, no python; the only shuffle is the 4-group
    partial aggregation.  Sums are exact integer cents.

    Scale shape: identical to a groupBy over a corpus 4x the row count,
    with map-side combine collapsing each partition to 4 rows before
    the exchange — the plan a hand-written UNION ALL of four aggregates
    would need four scans for."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    long = li.select(
        F.expr(
            "stack(4,"
            " 'quantity', l_quantity,"
            " 'extendedprice', l_extendedprice,"
            " 'discount', l_discount,"
            " 'tax', l_tax) as (measure, val)"
        )
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("val") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
            F.max(F.round(F.col("val") * 100).cast("bigint")).alias(
                "max_cents"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("measure")
    )


# ---------------------------------------------------------------------------
# Theta-sketch set algebra: union / intersection estimates from k-min sketches
# ---------------------------------------------------------------------------

THETA_PERIOD_DAYS = 15  # period 0 = days [0,15), period 1 = [15,30)


def theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET ALGEBRA on distinct-count sketches (the theta-sketch
    union/intersection rules): per event type, the users active in the
    month's FIRST half vs SECOND half are sketched independently
    (k-min over the portable hash), and the retention overlap —
    |P1 ∪ P2| and |P1 ∩ P2| — is estimated purely from the two
    k-row sketches: θ = min(θ_a, θ_b) (each θ = kth smallest hash,
    or the full space when the set is under k), sample = sketch rows
    below θ, est = |sample| · M / θ.  This is how audience-overlap
    questions are answered at 100 TB without ever joining the raw
    sets; exact twins ride along as the verification baseline.

    Deterministic given the hash (no random seeds), so the ESTIMATES
    are value-checked by the DuckDB oracle, not just the exacts.

    Scale shape: one (type, period, hash) distinct partial-agg over the
    events scan, per-group k-min windows over the deduplicated hash
    sets, then ALL set algebra happens on ≤ 2k rows per type —
    sketch-sized. The exact columns are dropped at scale."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    period = F.expr(
        f"datediff(to_date(ts), date'2024-01-01') div {THETA_PERIOD_DAYS}"
    )
    h = F.pmod(F.col("user_id") * F.lit(KMV_HASH_A), F.lit(KMV_HASH_M))
    hashes = (
        ev.filter(period <= 1)
        .select("event_type", period.alias("p"), h.alias("h"), "user_id")
    )
    dist = hashes.select("event_type", "p", "h").distinct()
    w = Window.partitionBy("event_type", "p").orderBy("h")
    sk = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
    )
    theta = sk.groupBy("event_type", "p").agg(
        F.max("rn").alias("n_seen"), F.max("h").alias("kth")
    ).select(
        "event_type",
        "p",
        F.when(F.col("n_seen") < KMV_K, F.lit(KMV_HASH_M))
        .otherwise(F.col("kth"))
        .alias("theta_p"),
    )
    th = theta.groupBy("event_type").agg(
        F.min("theta_p").alias("theta")
    )
    rows = sk.select("event_type", "p", "h").join(
        F.broadcast(th), "event_type"
    ).filter(F.col("h") < F.col("theta"))
    counts = rows.groupBy("event_type", "theta").agg(
        F.countDistinct("h").alias("u"),
        (
            F.countDistinct(F.when(F.col("p") == 0, F.col("h")))
            + F.countDistinct(F.when(F.col("p") == 1, F.col("h")))
            - F.countDistinct("h")
        ).alias("c"),
    )
    exact = hashes.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_union"),
        (
            F.countDistinct(F.when(F.col("p") == 0, F.col("user_id")))
            + F.countDistinct(F.when(F.col("p") == 1, F.col("user_id")))
            - F.countDistinct("user_id")
        ).alias("true_inter"),
    )
    est = lambda c: F.round(  # noqa: E731
        c.cast("double") * KMV_HASH_M / F.col("theta"), 3
    )
    return (
        counts.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            est(F.col("u")).alias("union_est"),
            est(F.col("c")).alias("inter_est"),
            F.col("true_union").cast("bigint").alias("true_union"),
            F.col("true_inter").cast("bigint").alias("true_inter"),
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# PPS systematic sampling (probability proportional to size, deterministic)
# ---------------------------------------------------------------------------

PPS_SAMPLE_N = 50
PPS_BUCKETS = 64


def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling done DETERMINISTICALLY: classic systematic
    PPS (probability-proportional-to-size) selection over the document
    length weights — lay every document's weight on a line in doc_id
    order, walk the line in strides of ``step = W div n``, and take the
    document under each stride point.  Heavy documents (w > step) are
    hit multiple times and carry ``n_hits`` as their replication count
    — exactly how curation pipelines oversample long/valuable sources
    with zero randomness (retry- and engine-stable; the customary
    random start offset is pinned to ``step`` and documented).

    All integer arithmetic: a doc is selected iff
    ``floor(cum/step) > floor((cum-w)/step)``.

    Scale shape: the cumulative position uses the same two-pass scheme
    as ``global_rank_two_pass`` — per-bucket weight sums (tiny
    aggregate) cumulated into bucket offsets, broadcast back, plus a
    within-bucket running sum (window over ~N/buckets rows, doc_id
    order) — so the ONLY global sort touches ``PPS_BUCKETS`` rows and
    the corpus shuffles exactly once, on the order-aligned bucket."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").alias("w")
    )
    n_docs = docs.count()
    bwidth = max(1, (n_docs + PPS_BUCKETS - 1) // PPS_BUCKETS)
    keyed = docs.withColumn(
        "bucket", (F.col("doc_id") / F.lit(bwidth)).cast("int")
    )
    per_bucket = keyed.groupBy("bucket").agg(F.sum("w").alias("bw"))
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(
            F.sum("bw").over(
                # tiny-window: O(QUANTILE_BUCKETS) histogram rows
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    total = per_bucket.agg(F.sum("bw").alias("tw"))
    cum = (
        keyed.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "cum",
            F.col("offset")
            + F.sum("w").over(
                Window.partitionBy("bucket")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .crossJoin(F.broadcast(total))
        # Degenerate regime: total weight below the sample size would
        # give step 0 (integer div) and a null hit count — clamp to 1,
        # which selects EVERY document (stride hits every unit).
        .withColumn(
            "step", F.expr(f"greatest(tw div {PPS_SAMPLE_N}, 1)")
        )
    )
    hits = F.expr("(cum div step) - ((cum - w) div step)")
    return (
        cum.withColumn("n_hits", hits.cast("bigint"))
        .filter(F.col("n_hits") >= 1)
        .select("doc_id", F.col("w").cast("bigint").alias("w"),
                F.col("cum").cast("bigint").alias("cum_end"), "n_hits")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy gate over quasi-identifiers)
# ---------------------------------------------------------------------------

KANON_K = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate for publishable training data: group the customer
    table by its quasi-identifier tuple (nation, market segment,
    account-balance sign) and flag every equivalence class smaller than
    ``KANON_K`` — records in those classes are re-identifiable by the
    quasi-identifiers alone (Sweeney'02 k-anonymity), and a release
    pipeline must suppress or generalize them.  Reports per-class size
    and the violation flag; the suppression cost of dropping sub-k
    classes is ``sum(class_size) where violates_k`` over this output.

    Scale shape: ONE partial-agg groupBy over the quasi-identifier key
    (map-side combine; class count is bounded by the QI domain, not the
    table) — the audit is a single scan at any scale."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    qi = [
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") >= 0).alias("bal_nonneg"),
    ]
    classes = (
        c.select(*qi)
        .groupBy("nation", "segment", "bal_nonneg")
        .agg(F.count("*").alias("class_size"))
    )
    return (
        classes.select(
            "nation",
            "segment",
            "bal_nonneg",
            "class_size",
            (F.col("class_size") < KANON_K).alias("violates_k"),
        )
        .repartition(1)
        .sortWithinPartitions("nation", "segment", "bal_nonneg")
    )


LDIV_L = 3  # minimum distinct sensitive values per equivalence class


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion privacy gate to ``k_anonymity_audit``: k-anonymity
    alone is defeated by a HOMOGENEOUS class (everyone in the class
    shares the sensitive value, so membership discloses it).
    l-diversity (Machanavajjhala et al., ICDE'06) additionally requires
    every quasi-identifier equivalence class to contain at least ``l``
    DISTINCT sensitive values.  Same QI tuple as the k-audit (nation,
    segment, balance sign); the sensitive attribute is the
    1000-unit account-balance band — ``floor(bal / 1000)``, identical
    IEEE double floor in both engines.

    Reports per-class size, distinct-sensitive count, and the
    violates_l flag; a release pipeline generalizes or suppresses the
    flagged classes before publishing.

    Scale shape: ONE groupBy over the QI key with a distinct-count —
    Spark plans count(distinct) as the standard two-phase expand
    (partial per sensitive value, then merge), so no row set larger
    than (QI domain x sensitive domain) ever shuffles; the audit stays
    a single scan at any table size."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    classes = (
        c.select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            (F.col("c_acctbal") >= 0).alias("bal_nonneg"),
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("bigint")
            .alias("bal_band"),
        )
        .groupBy("nation", "segment", "bal_nonneg")
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct("bal_band").alias("distinct_sensitive"),
        )
    )
    return (
        classes.select(
            "nation",
            "segment",
            "bal_nonneg",
            "class_size",
            "distinct_sensitive",
            (F.col("distinct_sensitive") < LDIV_L).alias("violates_l"),
        )
        .repartition(1)
        .sortWithinPartitions("nation", "segment", "bal_nonneg")
    )


TCLOSE_T_PPB = 250_000_000  # t = 0.25 in parts-per-billion


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third privacy gate: l-diversity is defeated by a class whose
    sensitive values are distinct but SKEWED relative to the population
    (e.g. a class where 90% of balances sit in the top band still leaks
    "this member is probably rich").  t-closeness (Li et al., ICDE'07)
    requires the Earth Mover's Distance between each equivalence
    class's sensitive-value distribution and the GLOBAL distribution to
    stay <= t.  Same QI tuple as the k/l audits (nation, segment,
    balance sign); sensitive attribute is the ordered 1000-unit balance
    band, so EMD under the equal-step ground metric has the closed form
    ``sum_i |cumsum_i(p - q)| / (m - 1)`` over the m ordered bands.

    Exactness: the cumulative deviation is kept as the INTEGER
    ``sum(cnt_band*N_total - tot_band*class_size)`` (decimal(38,0) —
    products reach table^2 cardinality and overflow int64 at scale),
    and emd_ppb = round-half-away(1e9 * sum|cum| / (Nc*N*(m-1))) is the
    exact rational ``(2*numer + denom) div (2*denom)`` — the quotient
    (<= 1e9) fits the bigint that Spark's decimal ``div`` returns, and
    DuckDB mirrors it with hugeint floor division.

    Scale shape: two partial-agg groupBys (QI key; QI x band key) plus
    a band-domain global aggregate; the scored grid is |QI domain| x
    |band domain| — bounded by attribute domains, NOT table
    cardinality — so the per-class cumsum window is tiny and the whole
    audit is one scan at any scale."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sens = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") >= 0).alias("bal_nonneg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    )
    bands = sens.groupBy("bal_band").agg(F.count("*").alias("tot"))
    totals = bands.agg(
        F.sum("tot").alias("n_total"), F.count("*").alias("m_bands")
    )
    class_sizes = sens.groupBy("nation", "segment", "bal_nonneg").agg(
        F.count("*").alias("class_size")
    )
    class_bands = sens.groupBy(
        "nation", "segment", "bal_nonneg", "bal_band"
    ).agg(F.count("*").alias("cnt"))
    grid = (
        class_sizes.crossJoin(F.broadcast(bands))
        .join(
            class_bands,
            ["nation", "segment", "bal_nonneg", "bal_band"],
            "left",
        )
        .na.fill({"cnt": 0})
        .crossJoin(F.broadcast(totals))
    )
    cum = grid.withColumn(
        "cum_diff",
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("n_total")
            - F.col("tot").cast("decimal(38,0)") * F.col("class_size")
        ).over(
            # tiny-window: band-domain-sized slice per QI class
            Window.partitionBy("nation", "segment", "bal_nonneg")
            .orderBy("bal_band")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    emd = (
        cum.groupBy(
            "nation", "segment", "bal_nonneg", "class_size",
            "n_total", "m_bands",
        )
        .agg(F.sum(F.abs(F.col("cum_diff"))).alias("abs_sum"))
        .withColumn(
            "emd_ppb",
            F.when(F.col("m_bands") <= 1, F.lit(0).cast("bigint")).otherwise(
                F.expr(
                    "(2 * abs_sum * 1000000000 +"
                    " cast(class_size as decimal(38,0)) * n_total * (m_bands - 1))"
                    " div (2 * cast(class_size as decimal(38,0)) * n_total"
                    " * (m_bands - 1))"
                )
            ),
        )
    )
    return (
        emd.select(
            "nation",
            "segment",
            "bal_nonneg",
            "class_size",
            "emd_ppb",
            (F.col("emd_ppb") > TCLOSE_T_PPB).alias("violates_t"),
        )
        .repartition(1)
        .sortWithinPartitions("nation", "segment", "bal_nonneg")
    )


DP_ALPHA = (368, 1000)  # rational stand-in for e^-eps at eps = 1
DP_KMAX = 32  # alpha^33 < 2^-47: both tails are far below one u-tick
DP_UBITS = 40  # uniform driver: top 40 bits of md5(release key)


def _dp_noise_intervals() -> list:
    """(noise, lo, hi) rows partitioning [0, 2^40): the EXACT integer
    inverse-CDF of the two-sided geometric (discrete Laplace)
    distribution pmf(k) = (1-a)/(1+a) * a^|k| (Ghosh-Roughgarden-
    Sundararajan's universally-optimal geometric mechanism for
    counting queries).  Thresholds are floor(CDF(k) * 2^40) computed
    with Fraction arithmetic — pure integers, so the Spark job and the
    DuckDB oracle share the literal table and can never diverge on a
    libm ulp.  The sub--KMAX and super-+KMAX tails (each < 2^-47) are
    absorbed into the extreme intervals."""
    from fractions import Fraction

    a = Fraction(*DP_ALPHA)
    scale = (1 - a) / (1 + a)
    m = 1 << DP_UBITS
    cum = scale * a ** (DP_KMAX + 1) / (1 - a)  # lower tail
    out = []
    lo = 0
    for k in range(-DP_KMAX, DP_KMAX + 1):
        cum += scale * a ** abs(k)
        hi = m if k == DP_KMAX else int(cum * m)
        if hi > lo:
            out.append((k, lo, hi))
        lo = hi
    return out


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the per-(nation, segment)
    customer counts via the geometric mechanism (sensitivity-1
    counting query, eps = -ln(alpha) ~ 1): each released count gets
    two-sided geometric noise drawn DETERMINISTICALLY by inverting the
    exact integer CDF at a 40-bit md5 hash of the release key — the
    fleet-reproducibility requirement (re-running the release job must
    publish the same table) that a `rand()` draw cannot meet.  The
    exact_count column is emitted for the audit/oracle only; a real
    release drops it and publishes released_count = max(0, exact +
    noise) (post-processing clamp, DP-safe).

    Scale shape: ONE partial-agg groupBy over the release key (output
    is release-domain-sized), then a broadcast interval join against
    the 65-row noise table (BroadcastNestedLoopJoin over a constant —
    O(1) comparisons per released row at any scale)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    counts = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").alias("exact_count"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("dpn"), F.col("nation"), F.col("segment")
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    iv = spark.createDataFrame(
        _dp_noise_intervals(), "noise int, lo bigint, hi bigint"
    )
    return (
        counts.withColumn("u", u)
        .join(
            F.broadcast(iv),
            (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")),
        )
        .select(
            "nation",
            "segment",
            "exact_count",
            F.col("noise").cast("bigint").alias("noise"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("exact_count") + F.col("noise"),
            ).alias("released_count"),
        )
        .repartition(1)
        .sortWithinPartitions("nation", "segment")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection on the daily event series
# ---------------------------------------------------------------------------


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection on the ingest volume series — the CUSUM
    statistic (Page'54): per day, the running sum of
    ``n_events − overall daily mean`` (floor-divided integer mean, so
    every value is an exact integer); the day with the maximum
    |cusum| is the most likely level-shift point, the monitoring
    primitive behind "did the crawler change behavior on day X".

    Scale shape: one date-bucket aggregate (365 rows/year regardless of
    volume), the mean is a one-row broadcast, and the running sum is a
    window over the TINY daily table — all post-aggregate work is
    calendar-sized."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.agg(
        F.expr("sum(n) div count(*)").alias("mean_n")
    )
    cus = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "cusum",
            F.sum(F.col("n") - F.col("mean_n")).over(
                # tiny-window: calendar-sized daily series
                Window.orderBy("day").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .withColumn(
            "is_peak",
            F.abs("cusum")
            == F.max(F.abs("cusum")).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    return (
        cus.select(
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("cusum").cast("bigint").alias("cusum"),
            "is_peak",
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD-2 dimension (as-of encoding)
# ---------------------------------------------------------------------------


def pit_join_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME enrichment — the query half of the SCD-2 pattern
    (`scd2_intervals` is the build half): every event picks the
    dimension VERSION that was valid at its event time (max
    valid_from ≤ ts; interval semantics [valid_from, valid_to)), the
    lookup every feature-store and audit pipeline needs to avoid
    temporal leakage.

    NOT an interval join: the naive ``ts between valid_from and
    valid_to`` range join explodes at scale.  The same union-window
    as-of encoding as ``asof_join_order_events``: tag version rows
    before event rows at equal timestamps (events AT valid_from see the
    new version), one shuffle on the business key, and
    ``last(ignorenulls)`` carries the in-force version forward —
    O(n log n), zero pair blow-up.  Version ties at one timestamp
    resolve to max o_orderkey (the SCD2 build's own tie rule),
    deterministic in both engines.

    Events whose key has no version yet (or no dimension rows at all)
    survive with a null version — pinned semantics, not an accident."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("tag"),
        "o_orderkey",
        "o_orderstatus",
        F.lit(None).cast("bigint").alias("event_id"),
    )
    evu = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        "event_id",
    )
    win = (
        Window.partitionBy("k")
        .orderBy("t", "tag", "o_orderkey", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = dim.unionByName(evu).select(
        "*",
        F.last("o_orderkey", ignorenulls=True).over(win).alias(
            "version_key"
        ),
        F.last("o_orderstatus", ignorenulls=True).over(win).alias(
            "version_status"
        ),
    )
    return (
        u.filter(F.col("tag") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.unix_timestamp("t").cast("bigint").alias("event_epoch"),
            "version_key",
            "version_status",
        )
        .repartition(1)
        .sortWithinPartitions("event_id")
    )


# ---------------------------------------------------------------------------
# Robust outliers: median absolute deviation (MAD), all-integer
# ---------------------------------------------------------------------------

# 3 * 1.4826 (the normal-consistency constant) as the exact rational
# 44478/10000, folded into the integer comparison below.
MAD_NUM = 22239  # = 44478 / 2, see derivation in mad_outliers
MAD_DEN = 10000


def _median2x(df: DataFrame, col: str, order_tiebreak: str) -> DataFrame:
    """2x the exact per-event_type median of ``col`` via doubled order
    statistics: the two middle rank positions summed, with the single
    middle doubled when n is odd — shared by the two mad_outliers
    passes so the median rule cannot drift between them."""
    wr = Window.partitionBy("event_type").orderBy(col, order_tiebreak)
    wn = Window.partitionBy("event_type")
    ranked = df.select(
        "*",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("event_type").agg(
        (
            F.sum(col)
            * F.when(F.max("n") % 2 == 1, F.lit(2)).otherwise(F.lit(1))
        ).alias(f"{col}_med2")
    )


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection — median absolute deviation instead of
    mean/stddev (a single whale corrupts the mean AND inflates sigma,
    hiding itself; the median/MAD breakdown point is 50%).  Flags
    events where ``|x − median| > 3 · 1.4826 · MAD`` per event type.

    All-integer: cents; ``med2`` = 2x the exact median (sum of the two
    middle order statistics, doubling the single middle when n is odd);
    ``dev = |2·cents − med2|`` (= 2|x−med|); ``mad4`` = 2x the median
    of dev (= 4·MAD).  The flag compares
    ``dev · 10000 > mad4 · 22239`` — both sides exact bigints, derived
    from D > (44478/10000)·M with D = dev/2, M = mad4/4 — so the
    decision is engine-exact with no float anywhere.

    Scale shape: two ranked passes per group (median of x, median of
    dev) — windows within the event-type key; at 100 TB the documented
    swap is ``approx_percentile`` for both medians (same call shape as
    percentile_profile's swap), keeping the flag rule unchanged."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    med = _median2x(ev, "cents", "event_id").withColumnRenamed(
        "cents_med2", "med2"
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "cents",
        "med2",
        F.abs(F.col("cents") * 2 - F.col("med2")).alias("dev"),
    )
    mad = _median2x(dev, "dev", "event_id").withColumnRenamed(
        "dev_med2", "mad4"
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "cents",
            F.col("med2").cast("bigint").alias("med2"),
            F.col("mad4").cast("bigint").alias("mad4"),
            (
                F.col("dev") * MAD_DEN > F.col("mad4") * MAD_NUM
            ).alias("is_outlier"),
        )
        .filter(F.col("is_outlier"))
        .repartition(1)
        .sortWithinPartitions("event_id")
    )


# ---------------------------------------------------------------------------
# Path-to-purchase: frequent event paths of converting users
# ---------------------------------------------------------------------------

PATH_TOP = 10


def purchase_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining lite — the conversion-path report: for
    every user who purchased, the ordered event-type path UP TO their
    first purchase (inclusive), and the most common paths ranked with
    exact user counts.  The "what journeys end in a purchase" question
    every growth team asks; full PrefixSpan generalizes this, but the
    exact-path frequency table is the production report.

    Determinism: events order by (ts, event_id) — total and identical
    in both engines; the first-purchase cutoff is the min (ts, event_id)
    purchase row per user.

    Scale shape: one user-key shuffle; the path build is an ordered
    collect_list WITHIN each user's partition slice (bounded by that
    user's pre-purchase history); the frequency rollup collapses to one
    row per distinct path — a partial-agg groupBy — and top-k runs on
    the collapsed table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .over(w)
        .alias("n_purch_so_far"),
    )
    # keep rows up to and including the FIRST purchase
    pre = marked.filter(
        (F.col("n_purch_so_far") == 0)
        | (
            (F.col("n_purch_so_far") == 1)
            & (F.col("event_type") == "purchase")
        )
    )
    converting = marked.filter(
        F.col("event_type") == "purchase"
    ).select("user_id").distinct()
    paths = (
        pre.join(converting, "user_id")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    freq = paths.groupBy("path").agg(F.count("*").alias("n_users"))
    top = freq.orderBy(F.desc("n_users"), "path").limit(PATH_TOP)
    # tiny-window: ≤ PATH_TOP rows survive the TakeOrdered heap
    wtop = Window.orderBy(F.desc("n_users"), "path")
    return (
        top.withColumn("rank", F.row_number().over(wtop))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "path",
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        .repartition(1)
        .sortWithinPartitions("rank")
    )


# ---------------------------------------------------------------------------
# PSI distribution drift (population stability index)
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift, the ML-monitoring standard: the POPULATION
    STABILITY INDEX of the event-value distribution between the month's
    first and second half — decile edges fit on the REFERENCE period
    (exact order statistics, engine-exact ints), both periods bucketed
    by those edges, ``PSI = Σ (p−q)·ln(p/q)`` with add-one smoothing
    (no ln(0) on empty buckets).  Read: <0.1 stable, 0.1–0.25 shifting,
    >0.25 drifted — the gate that catches a crawler/source change
    CUSUM's volume series can't see (same volume, different values).

    Scale shape: edge RANKS come from the two-pass bucketed rank over
    the reference period (``bucketed_global_rank`` — one grid-bucket
    shuffle, never a single-partition sort of the reference events),
    then collapse to a 9-number broadcast row; bucketing is a map-side
    fold over that literal-sized array; per-bucket counts are one
    partial-agg groupBy of ≤ 2·PSI_BUCKETS groups.  ln contributions
    round to 6 (ln-based oracle precedent: bm25/lm_perplexity)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr(
            f"datediff(to_date(ts), date'2024-01-01')"
            f" div {THETA_PERIOD_DAYS}"
        ).alias("p"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    ).filter(F.col("p") <= 1)
    ref = ev.filter(F.col("p") == 0)
    pc = {
        r["p"]: r["count"]
        for r in ev.groupBy("p").count().collect()
    }
    n0 = int(pc.get(0, 0))
    n1 = int(pc.get(1, 0))
    edge_ranks = [
        (n0 * k + PSI_BUCKETS - 1) // PSI_BUCKETS
        for k in range(1, PSI_BUCKETS)
    ]
    edges_row = (
        bucketed_global_rank(ref, "cents", "event_id", rank_col="rn")
        .filter(F.col("rn").isin(edge_ranks))
        .agg(F.sort_array(F.collect_list("cents")).alias("edges"))
    )
    bucketed = ev.crossJoin(F.broadcast(edges_row)).select(
        "p",
        F.expr(
            "aggregate(edges, 0, (acc, e) ->"
            " acc + if(e < cents, 1, 0))"
        ).alias("bucket"),
    )
    counts = (
        bucketed.groupBy("bucket")
        .agg(
            F.sum((F.col("p") == 0).cast("bigint")).alias("n_ref"),
            F.sum((F.col("p") == 1).cast("bigint")).alias("n_cur"),
        )
    )
    d0 = float(n0 + PSI_BUCKETS)
    d1 = float(n1 + PSI_BUCKETS)
    pcol = (F.col("n_ref") + 1) / F.lit(d0)
    qcol = (F.col("n_cur") + 1) / F.lit(d1)
    return (
        counts.select(
            "bucket",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.round((pcol - qcol) * F.log(pcol / qcol), 6).alias(
                "psi_contrib"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("bucket")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift (exact integer ECDF deviation)
# ---------------------------------------------------------------------------


def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between the month's first
    and second half of event values — the NONPARAMETRIC sibling of
    ``psi_drift``: where PSI needs reference-fit decile edges and an
    add-one smoothing choice, KS is edge-free (D = sup |F_ref − F_cur|
    over the merged support), so it catches drift concentrated between
    any pair of deciles that PSI's 10 fixed buckets dilute.

    Exactness: values lift to integer cents; the supremum is taken on
    the INTEGER cross-multiplied deviation |cum_ref·n_cur −
    cum_cur·n_ref| (no division until the final ppm report), computed
    in decimal(38,0) so the products stay exact even at 10^12 events
    per period (bigint would wrap past ~3·10^9); ties break on the
    lowest attaining value.  d_ppm = D·10^6 (trunc div, both engines).

    Scale shape: one partial-agg groupBy collapses events to
    per-distinct-value (c_ref, c_cur) counts; BOTH cumulative ECDFs
    ride a single two-pass bucketed cumsum (the ``bucketed_global_rank``
    grid — per-bucket sums cumulate into O(n_buckets) broadcast
    offsets, the big table shuffles once on the bucket key, no
    single-partition sort); the argmax is ``orderBy().limit(1)``
    (TakeOrderedAndProject — per-partition top-1, 1-row driver merge)."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.expr(
                f"datediff(to_date(ts), date'2024-01-01')"
                f" div {THETA_PERIOD_DAYS}"
            ).alias("p"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .filter(F.col("p") <= 1)
    )
    pc = {r["p"]: r["count"] for r in ev.groupBy("p").count().collect()}
    n0, n1 = int(pc.get(0, 0)), int(pc.get(1, 0))
    if n0 == 0 or n1 == 0:  # KS undefined without both samples
        return spark.createDataFrame(
            [],
            "at_cents bigint, cum_ref bigint, cum_cur bigint,"
            " n_ref bigint, n_cur bigint, d_ppm bigint",
        )
    counts = ev.groupBy("cents").agg(
        F.sum((F.col("p") == 0).cast("bigint")).alias("c_ref"),
        F.sum((F.col("p") == 1).cast("bigint")).alias("c_cur"),
    )
    # two-pass inclusive cumsum of BOTH sides through ONE grid shuffle
    keyed = _grid_buckets(counts, "cents", RANK_BUCKETS)
    # tiny-window: O(n_buckets) offset rows, never the table
    tiny = Window.orderBy("_rb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        keyed.groupBy("_rb")
        .agg(F.sum("c_ref").alias("_sr"), F.sum("c_cur").alias("_sc"))
        .withColumn("_or", F.coalesce(F.sum("_sr").over(tiny), F.lit(0)))
        .withColumn("_oc", F.coalesce(F.sum("_sc").over(tiny), F.lit(0)))
        .select("_rb", "_or", "_oc")
    )
    w = (
        Window.partitionBy("_rb")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = keyed.join(F.broadcast(offs), "_rb").select(
        "cents",
        (F.col("_or") + F.sum("c_ref").over(w)).cast("bigint").alias(
            "cum_ref"
        ),
        (F.col("_oc") + F.sum("c_cur").over(w)).cast("bigint").alias(
            "cum_cur"
        ),
    )
    d = cum.withColumn(
        "d_num",
        F.expr(
            f"abs(cast(cum_ref as decimal(38,0)) * {n1}"
            f" - cast(cum_cur as decimal(38,0)) * {n0})"
        ),
    )
    return (
        d.orderBy(F.desc("d_num"), F.asc("cents"))
        .limit(1)
        .select(
            F.col("cents").alias("at_cents"),
            "cum_ref",
            "cum_cur",
            F.lit(n0).cast("bigint").alias("n_ref"),
            F.lit(n1).cast("bigint").alias("n_cur"),
            F.expr(
                f"cast((d_num * 1000000) div"
                f" (cast({n0} as decimal(38,0)) * {n1}) as bigint)"
            ).alias("d_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier churn survival curve
# ---------------------------------------------------------------------------


def km_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn SURVIVAL analysis — the Kaplan-Meier estimator over user
    lifetimes: a user's churn day is their last event day; users whose
    last day is the corpus's final day are CENSORED (still alive when
    observation ended — the distinction naive churn rates get wrong:
    counting the censored as churned biases retention down).  At each
    churn day t: d = churns, n = users still at risk (last_day ≥ t);
    ``S(t) = Π_{s≤t} (1 − d_s/n_s)``.

    The cumulative product is computed as exp(Σ ln(1 − d/n)) in BOTH
    engines (identical float path), rounded to 6 — the ln-based-oracle
    precedent (bm25, lm_perplexity).

    Scale shape: ONE user-key shuffle collapses events to per-user
    lifetimes; everything after (churn counts per day, at-risk counts
    via a cumulative sum, the KM product) runs on the calendar-sized
    daily table — at 10^12 events the curve costs one aggregate more
    than a daily count."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    last = ev.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day")
    )
    max_day = last.agg(F.max("last_day").alias("mx"))
    lifetimes = last.crossJoin(F.broadcast(max_day)).select(
        "user_id",
        "last_day",
        (F.col("last_day") < F.col("mx")).cast("int").alias("churned"),
    )
    per_day = lifetimes.groupBy("last_day").agg(
        F.count("*").alias("n_leaving"),
        F.sum("churned").alias("d_churned"),
    )
    total = lifetimes.count()
    # tiny-window: calendar-sized daily table (one row per churn day)
    wcum = Window.orderBy("last_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = per_day.withColumn(
        "n_at_risk",
        F.lit(total) - F.coalesce(F.sum("n_leaving").over(wcum), F.lit(0)),
    )
    steps = risk.filter(F.col("d_churned") > 0)
    # tiny-window: calendar-sized daily table (one row per churn day)
    wkm = Window.orderBy("last_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        steps.select(
            F.col("last_day").alias("day"),
            F.col("d_churned").cast("bigint").alias("d_churned"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            1.0
                            - F.col("d_churned") / F.col("n_at_risk")
                        )
                    ).over(wkm)
                ),
                6,
            ).alias("survival"),
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# Benford expectation log10(1 + 1/d) in exact ppm literals — shared with
# the oracle so no engine computes a log.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud / data-quality screening via BENFORD'S LAW: naturally
    occurring amounts lead with digit 1 ~30.1% of the time; fabricated
    or truncated feeds don't.  Per first digit of the order total:
    observed share vs the Benford expectation (both exact ppm) and the
    absolute deviation — the audit row a finance/ingest QA dashboard
    ranks by.  Expectations are plan-time integer literals, so the
    whole audit is integer arithmetic end to end.

    Scale shape: first-digit extraction is a map-side string op; the
    rollup is a ≤9-group partial-agg groupBy — single scan at any
    volume."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # explicit floor: a bare double->bigint cast TRUNCATES in Spark but
    # ROUNDS in DuckDB — floor first makes both exact.
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    bexp = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.expr("(n * 1000000) div tot").alias("obs_ppm"),
            bexp[F.col("digit")].cast("bigint").alias("benford_ppm"),
        )
        .withColumn(
            "abs_dev_ppm",
            F.abs(F.col("obs_ppm") - F.col("benford_ppm")),
        )
        .repartition(1)
        .sortWithinPartitions("digit")
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------


def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: per weekday, event volume and value
    with each day's share of the week in exact ppm — the baseline
    pattern every anomaly/capacity system subtracts before judging a
    day (CUSUM and the volume gate flag level shifts; this is the
    expected SHAPE they compare against).

    Scale shape: a 7-group partial-agg rollup — one scan, map-side
    combine, constant-size result at any volume."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = (
        ev.select(
            F.dayofweek("ts").alias("weekday"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("weekday")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )
    tot = per.agg(
        F.sum("n_events").alias("tn"), F.sum("sum_cents").alias("tc")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "weekday",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
            F.expr("(n_events * 1000000) div tn").alias("volume_ppm"),
            F.expr("(sum_cents * 1000000) div tc").alias("value_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("weekday")
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer value
# ---------------------------------------------------------------------------


def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration measurement — the GINI coefficient of
    per-user event value (0 = perfectly even, →1 = one whale is the
    business): ``G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n`` over users sorted
    ascending by value.  Reported in exact ppm via integer floor
    division (the metric DEFINITION here is the floor-div form, so the
    number is engine- and partition-order-exact); the whale-share
    columns (top-1% and top-10% value share) ride along because that's
    what the Gini gets acted on.

    Scale shape: one user-key shuffle collapses events to per-user
    totals; ranks use the two-pass bucketed rank
    (``bucketed_global_rank`` — bit-equal to a global window, no
    single-partition sort at 10^12 users) and the final sums are a
    single aggregate row."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    ranked = bucketed_global_rank(users, "cents", "user_id")
    base = ranked.crossJoin(
        F.broadcast(
            ranked.agg(
                F.count("*").alias("n"), F.sum("cents").alias("s0")
            )
        )
    )
    shares = base.agg(
        F.max("n").alias("n"),
        F.max("s0").alias("s0"),
        F.sum(F.col("rk") * F.col("cents")).alias("s1"),
        F.sum(
            F.when(
                F.col("rk") > F.col("n") - F.greatest(
                    F.expr("n div 100"), F.lit(1)
                ),
                F.col("cents"),
            ).otherwise(F.lit(0))
        ).alias("top1_cents"),
        F.sum(
            F.when(
                F.col("rk") > F.col("n") - F.greatest(
                    F.expr("n div 10"), F.lit(1)
                ),
                F.col("cents"),
            ).otherwise(F.lit(0))
        ).alias("top10_cents"),
    )
    return shares.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("s0").cast("bigint").alias("total_cents"),
        # decimal(38,0): 2*s1*1e6 overflows int64 ~10x past the bench
        # corpus (s1 grows ~n^2); DuckDB sums already promote to
        # HUGEINT, so widening Spark keeps both engines exact
        F.expr(
            "(2 * cast(s1 as decimal(38,0)) * 1000000)"
            " div (cast(n as decimal(38,0)) * cast(s0 as decimal(38,0)))"
            " - ((n + 1) * 1000000) div n"
        )
        .cast("bigint")
        .alias("gini_ppm"),
        F.expr("(top1_cents * 1000000) div s0").alias("top1_share_ppm"),
        F.expr("(top10_cents * 1000000) div s0").alias(
            "top10_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

AES_K = 50  # sample size
AES_UBITS = 40


def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis, IPL'06 algorithm A-ES): each document gets
    key = u^(1/w) for a uniform u and weight w, and the sample is the
    top-K keys — provably equivalent to sequential weighted draws, yet
    embarrassingly parallel: one map-side key computation and ONE
    TakeOrderedAndProject.  Weights here are n_chars (content-mass
    sampling: long docs proportionally more likely).

    Determinism + exactness: u = ((md5-40bit('aes:'||doc_id)) + 1) /
    2^40 in (0, 1], and the ORDER key is the monotone transform
    ln(u)/w, scaled to integer e12 via SQL round — ln is evaluated by
    the same libm double in both engines (the lm_perplexity precedent)
    and the round-half-away kills ulp sensitivity; ties break on
    doc_id.  Top-K by key DESC (ln(u)/w is negative; maximizing
    u^(1/w) == maximizing ln(u)/w).

    Scale shape: map-side key projection, then orderBy().limit(K) —
    Spark plans TakeOrderedAndProject (per-partition heaps + K-row
    driver merge), never a global sort; the final rank window runs
    over the K-row result."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))),
                1,
                10,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(float(1 << AES_UBITS))
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        F.round(F.log(u) / F.col("n_chars") * 1e12, 0)
        .cast("bigint")
        .alias("key_e12"),
    )
    top = keyed.orderBy(F.desc("key_e12"), "doc_id").limit(AES_K)
    return top.select(
        F.row_number()
        .over(
            # tiny-window: AES_K-row sample
            Window.orderBy(F.desc("key_e12"), "doc_id")
        )
        .alias("rank"),
        "doc_id",
        "weight",
        "key_e12",
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional layout
# ---------------------------------------------------------------------------

ZORDER_BITS = 16  # per-dimension grid resolution (range-normalized)
ZORDER_BUCKETS = 64  # target file/bucket count of the layout


def _morton_terms(col: str, offset: int, div: str) -> str:
    """Portable bit-interleave as PURE ARITHMETIC — ``(x div 2^i) % 2``
    selects bit i, ``* 2^(2i+offset)`` spreads it to interleaved
    position — so Spark (``div``) and DuckDB (``//``) evaluate the
    LITERALLY same generated formula with no engine bit-op dialect."""
    return " + ".join(
        f"((({col}) {div} {1 << i}) % 2) * {1 << (2 * i + offset)}"
        for i in range(ZORDER_BITS)
    )


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering of the orders table on
    (customer, order-day) — the standard multi-dimensional layout for
    data skipping at 100 TB (Delta/Iceberg OPTIMIZE ZORDER): a linear
    sort on either key lets min/max file stats prune only THAT key's
    predicates, while Z-ordering bounds EVERY populated bucket in BOTH
    dimensions, so a scan filtered on either (or both) keys skips most
    buckets.  The emitted per-bucket stats table IS the skipping
    manifest: (bucket, row count, min/max of each dimension).

    Scale shape: the Morton code is one map-side arithmetic projection
    (32 integer terms, whole-stage-codegen'd — no UDF); the manifest is
    one partial-aggregable groupBy on the bucket key.  The bucket id is
    a fixed Z-range split (top bits of the code), so the layout is
    deterministic across engines and cluster sizes — in production the
    write path would ``repartitionByRange(zcode)`` into files using the
    same code."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").cast("bigint").alias("cust"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day"),
    )
    # range-normalize each dimension onto the 2^ZORDER_BITS grid (what
    # OPTIMIZE ZORDER does): the min/max pair is a broadcast 1-row
    # aggregate, the same tiny-stats policy as _grid_buckets
    stats = orders.agg(
        F.min("cust").alias("lo_c"),
        F.max("cust").alias("hi_c"),
        F.min("day").alias("lo_d"),
        F.max("day").alias("hi_d"),
    )
    grid = 1 << ZORDER_BITS
    gx = f"(((cust - lo_c) * {grid}) div (hi_c - lo_c + 1))"
    gy = f"(((day - lo_d) * {grid}) div (hi_d - lo_d + 1))"
    zx = _morton_terms(gx, 0, "div")
    zy = _morton_terms(gy, 1, "div")
    width = (1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS
    coded = orders.crossJoin(F.broadcast(stats)).withColumn(
        "bucket_id", F.expr(f"(({zx}) + ({zy})) div {width}")
    )
    return (
        coded.groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cust").alias("min_cust"),
            F.max("cust").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
        .repartition(1)
        .sortWithinPartitions("bucket_id")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (bounded-state frequency estimation)
# ---------------------------------------------------------------------------

CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 64  # cells per row (undersized vs the key domain ON PURPOSE:
# the graded overcount must be nonzero for the meta-eval to measure
# anything; production sizes w ~ e/eps for the tolerated overcount)
CM_PRIME = 2_147_483_647
# fixed pairwise-independent hash coefficients (one (a, b) per row)
CM_HASH_A = (2_654_435_761, 40_503, 2_246_822_519, 3_266_489_917)
CM_HASH_B = (97, 1_013, 30_011, 999_983)


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation graded against exact truth — the
    bounded-state alternative to a full per-key count when the key
    domain itself does not fit anywhere (10^9+ users): the sketch is a
    CM_DEPTH x CM_WIDTH integer matrix built in ONE partial-aggregable
    pass, the estimate for any key is the min over its CM_DEPTH cells
    (Cormode & Muthukrishnan '05; always >= truth, over by at most the
    collision mass).  Emitted per exact-top-K key: exact count, sketch
    estimate, and the overcount — the meta-eval that tells an operator
    whether the configured width absorbs the corpus's collision mass
    (the dedup_sketch_eval pattern applied to counting).

    Scale shape: the sketch build maps each event to CM_DEPTH (row,
    cell) pairs and partial-aggregates to <= CM_DEPTH*CM_WIDTH rows —
    broadcast state, corpus shuffled once at O(events) -> O(d*w); the
    exact side rides the heavy_hitters TakeOrdered plan and exists only
    to grade the sketch."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            (
                                F.col("user_id") * CM_HASH_A[j]
                                + CM_HASH_B[j]
                            )
                            % CM_PRIME
                            % CM_WIDTH
                        ).alias("cell"),
                    )
                    for j in range(CM_DEPTH)
                ]
            )
        ).alias("s")
    ).select("s.j", "s.cell")
    sketch = cells.groupBy("j", "cell").agg(F.count("*").alias("c"))
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(HH_TOP_K)
    )
    probes = top.select(
        "user_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            (
                                F.col("user_id") * CM_HASH_A[j]
                                + CM_HASH_B[j]
                            )
                            % CM_PRIME
                            % CM_WIDTH
                        ).alias("cell"),
                    )
                    for j in range(CM_DEPTH)
                ]
            ).alias("s")
        ).alias("s"),
    ).select("user_id", "n", "s.j", "s.cell")
    est = (
        probes.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("est"))
    )
    # tiny-window: <= HH_TOP_K graded rows
    w = Window.orderBy(F.desc("n"), "user_id")
    return (
        est.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "user_id",
            "n",
            "est",
            (F.col("est") - F.col("n")).alias("overcount"),
        )
        .repartition(1)
        .sortWithinPartitions("rank")
    )


# ---------------------------------------------------------------------------
# Exact integer Pearson correlation between behavioral features
# ---------------------------------------------------------------------------

CORR_FEATURES = ("n_events", "value_units", "n_types", "n_days")


def _corr_expr(a: str, b: str, div: str) -> str:
    """Pearson corr in exact integer parts-per-million, as a portable
    generated formula (the ``_morton_terms`` pattern): numerator and
    the two variance terms are exact int64 sums; each variance takes
    the EXACT integer sqrt (floor-sqrt with the ±1 correction, no libm
    dependence), and the final division is sign-decomposed because
    Spark ``div`` truncates toward zero while DuckDB ``//`` floors —
    on a negative numerator they would differ by one ulp otherwise."""
    num = f"(n * sxy_{a}_{b} - sx_{a} * sx_{b})"
    isq = (
        "(cast(floor(sqrt(cast({d} as double))) as bigint)"
        " + (case when (cast(floor(sqrt(cast({d} as double))) as bigint) + 1)"
        "         * (cast(floor(sqrt(cast({d} as double))) as bigint) + 1)"
        "         <= {d} then 1 else 0 end)"
        " - (case when cast(floor(sqrt(cast({d} as double))) as bigint)"
        "         * cast(floor(sqrt(cast({d} as double))) as bigint)"
        "         > {d} then 1 else 0 end))"
    )
    dv1 = f"(n * sxx_{a} - sx_{a} * sx_{a})"
    dv2 = f"(n * sxx_{b} - sx_{b} * sx_{b})"
    d1 = isq.format(d=dv1)
    d2 = isq.format(d=dv2)
    # zero-variance feature (constant column): corr undefined -> 0,
    # guarded identically in both dialects (Spark ANSI x/0 throws,
    # DuckDB yields NULL — neither is wanted)
    return (
        f"(case when {dv1} <= 0 or {dv2} <= 0 then 0 else "
        f"(case when {num} < 0 then -1 else 1 end)"
        f" * ((1000000 * abs({num})) {div} ({d1} * {d2})) end)"
    )


def feature_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between per-user behavioral
    features (event count, value volume, event-type breadth, active
    days) — the redundancy screen a curation pipeline runs before
    treating signals as independent quality features (two signals at
    corr ~1 are one signal counted twice).  All six pairs, exact
    integer ppm via ``_corr_expr``.

    Scale shape: one per-user aggregate (the only corpus shuffle), one
    global 1-row sum aggregate (map-side partial) carrying the 4 sums,
    4 squares, and 6 cross products, then the six output rows are a
    map-side explode of literal expressions over that single row.  At
    10^12 events the int64 sums lift to decimal(38,0) — the bound is
    documented, not hidden (n * sum(x^2) must stay under 2^63)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    uf = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("cast(floor(value) as bigint)")).alias(
            "value_units"
        ),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.expr("cast(ts as date)")).alias("n_days"),
    )
    aggs = [F.count("*").alias("n")]
    for f in CORR_FEATURES:
        aggs.append(F.sum(f).alias(f"sx_{f}"))
        aggs.append(F.sum(F.expr(f"{f} * {f}")).alias(f"sxx_{f}"))
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_FEATURES)
        for b in CORR_FEATURES[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.expr(f"{a} * {b}")).alias(f"sxy_{a}_{b}"))
    stats = uf.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.expr(_corr_expr(a, b, "div"))
                .cast("bigint")
                .alias("corr_ppm"),
            )
            for a, b in pairs
        ]
    )
    return (
        stats.filter(F.col("n") > 0)  # empty-input invariant: no users,
        # no correlation rows (the global agg still emits its 1 row)
        .select("n", F.explode(rows).alias("r"))
        .select("r.feat_a", "r.feat_b", F.col("n").alias("n_users"), "r.corr_ppm")
        .repartition(1)
        .sortWithinPartitions("feat_a", "feat_b")
    )

# ---------------------------------------------------------------------------
# Snapshot diff (CDC detect between two table versions)
# ---------------------------------------------------------------------------

DIFF_MISS_A = 7  # doc_id % 7 == 0 absent from snapshot A
DIFF_MISS_B = 11  # doc_id % 11 == 0 absent from snapshot B
DIFF_EDIT_B = 5  # doc_id % 5 == 0 edited in snapshot B


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture DETECTION between two table snapshots — the
    diff a lakehouse runs when upstream republishes a full dump with no
    changelog: rows present only in the new snapshot are ``added``,
    rows that vanished are ``removed``, rows whose content digest moved
    are ``changed``, the rest ``unchanged``.  (``scd2_intervals``
    consumes such a change set downstream — this operator PRODUCES it.)
    The two versions derive deterministically from the documents table:
    snapshot A drops every ``DIFF_MISS_A``-th id, snapshot B drops
    every ``DIFF_MISS_B``-th and rewrites every ``DIFF_EDIT_B``-th
    text.

    Scale shape: one full-outer equi-join on the primary key — both
    sides shuffle once on the same key — with the md5 content digest
    computed map-side BEFORE the join, so wide rows never move twice;
    the verdict is a pure projection.  At 100 TB the digest column is
    what a pipeline persists per snapshot to diff without re-reading
    content."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    snap_a = docs.filter(
        F.col("doc_id") % DIFF_MISS_A != 0
    ).select("doc_id", F.md5("text").alias("dig_a"))
    new_text = F.when(
        F.col("doc_id") % DIFF_EDIT_B == 0,
        F.concat(F.col("text"), F.lit(" v2")),
    ).otherwise(F.col("text"))
    snap_b = docs.filter(
        F.col("doc_id") % DIFF_MISS_B != 0
    ).select("doc_id", F.md5(new_text).alias("dig_b"))
    verdict = (
        F.when(F.col("dig_a").isNull(), F.lit("added"))
        .when(F.col("dig_b").isNull(), F.lit("removed"))
        .when(F.col("dig_a") != F.col("dig_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        snap_a.join(snap_b, "doc_id", "full_outer")
        .select("doc_id", verdict.alias("status"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al., AofA'07)
# ---------------------------------------------------------------------------

HLL_P = 5  # 2^P = 32 registers; relative error ~ 1.04/sqrt(32) ~ 18%
HLL_M = 1 << HLL_P
HLL_Q = 32 - HLL_P + 1  # max register rank (leading-zero count + 1)
HLL_ALPHA_PPM = 697_000  # published alpha_32 bias constant, exact in ppm


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type PLUS the
    register-max merged 'ALL' row (Flajolet, Fusy, Gandouet & Meunier,
    AofA'07) — the third sketch family next to KMV (order statistics)
    and theta (sampled set): HLL keeps only 2^P max-leading-zero-rank
    registers, and two sketches MERGE by elementwise register max,
    which is the entire 100 TB story — per-partition register partials
    combine associatively, so a 10^12-row union costs one tiny shuffle
    of (group, bucket, rank) rows and the merged estimate never
    re-touches raw data.  Each group emits the estimate, the exact
    distinct count (the fixture-scale meta-eval, dedup_sketch_eval
    pattern), and err_ppm.

    Engine-exactness: the hash is the portable md5-32 (repo
    convention); bucket = top P bits, rank = leading zeros of the
    remaining 27 bits + 1 via integer bit-length (no log2 floats); the
    raw-estimate sum(2^-M_j) is held as the INTEGER sum of 2^(Q-M_j)
    over all M registers (empty register => 2^Q), so the estimate
    alpha_m * m^2 * 2^Q / S is one exact half-away integer division
    with the published alpha_32 fixed in ppm.  Group cardinalities here
    exceed 2.5*m, the validity floor of the raw estimate, so the
    small-range linear-counting branch (which needs libm ln) is
    documented out of the contract rather than approximated.

    Scale shape: one map-side pass computes (bucket, rank); registers
    are two partial-agg groupBys (per-group, then the ALL merge on the
    32-row-per-group register table — NOT on raw events); the exact
    side is one distinct agg kept only as the fixture-scale truth."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    h = (
        "cast(conv(substring(md5(cast(user_id as string)), 1, 8),"
        " 16, 10) as bigint)"
    )
    br = ev.select(
        "event_type",
        F.expr(f"{h} div {1 << (32 - HLL_P)}").alias("bucket"),
        F.expr(
            f"case when {h} % {1 << (32 - HLL_P)} = 0 then {HLL_Q}"
            f" else {HLL_Q} - length(bin({h} % {1 << (32 - HLL_P)})) end"
        ).alias("rank"),
    )
    reg = br.groupBy("event_type", "bucket").agg(F.max("rank").alias("m"))
    reg_all = (
        reg.groupBy("bucket")
        .agg(F.max("m").alias("m"))
        .select(F.lit("ALL").alias("event_type"), "bucket", "m")
    )
    regs = reg.unionByName(reg_all)
    est = regs.groupBy("event_type").agg(
        F.count("*").alias("registers_set"),
        F.expr(
            f"sum(shiftleft(cast(1 as bigint), {HLL_Q} - m))"
            f" + ({HLL_M} - count(*))"
            f" * shiftleft(cast(1 as bigint), {HLL_Q})"
        ).alias("s_inv"),
    )
    est = est.select(
        "event_type",
        "registers_set",
        F.expr(
            f"(2 * cast({HLL_ALPHA_PPM} as bigint) * {HLL_M * HLL_M}"
            f" * shiftleft(cast(1 as bigint), {HLL_Q}) + s_inv * 1000000)"
            f" div (2 * s_inv * 1000000)"
        ).alias("hll_estimate"),
    )
    ex_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    ex_all = ev.agg(
        F.countDistinct("user_id").alias("exact_users")
    ).select(F.lit("ALL").alias("event_type"), "exact_users")
    exact = ex_t.unionByName(ex_all)
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "registers_set",
            "hll_estimate",
            "exact_users",
            F.expr(
                "(2 * abs(hll_estimate - exact_users) * 1000000"
                " + exact_users) div (2 * exact_users)"
            ).alias("err_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (JASA 1969)
# ---------------------------------------------------------------------------

# Per-field agreement / disagreement weights in integer CENTIBITS,
# precomputed from fixed published-style (m, u) probabilities so the
# runtime is pure integer addition (no libm log anywhere):
#   name: m=.90, u=.01  -> wa = 100*log2(.90/.01) = 649, wd = 100*log2(.10/.99) = -331
#   seg:  m=.80, u=.20  -> wa = 100*log2(4)       = 200, wd = 100*log2(.20/.80) = -200
#   bal:  m=.85, u=.01  -> wa = 100*log2(85)      = 641, wd = 100*log2(.15/.99) = -272
# The integer constants ARE the contract; the float derivation above is
# documentation.
FS_NAME_WA, FS_NAME_WD = 649, -331
FS_SEG_WA, FS_SEG_WD = 200, -200
FS_BAL_WA, FS_BAL_WD = 641, -272
FS_LINK_T = 800  # score >= T      -> link
FS_NON_T = -200  # score <  NON_T  -> non-link (dropped from output)


def record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 64:1183,
    1969) between the customer table and a deterministically DIRTIED
    copy of itself (the bleu_eval degradation pattern — key i gets a
    name typo when i%3==0, a wrong segment when i%5==0, an off-by-one
    balance when i%7==0): candidate pairs come from BLOCKING on the
    assumed-clean nationkey, each pair scores the sum of per-field
    agreement/disagreement log-likelihood weights (integer centibits,
    constants above), and the decision rule is the classic two
    thresholds — link / possible / non-link, non-links dropped.
    The textbook dedup/linkage machinery for entity resolution where
    no field alone is trustworthy; fuzzy_name_match is the
    single-field edit-distance cousin.

    Note the honest failure modes the fixture exercises: a key hit by
    all three perturbations scores below the link threshold (a missed
    match surfaced as 'possible'), while name-agreeing pairs with two
    disagreements land between the thresholds — exactly the clerical
    review band the 1969 paper defines.

    Scale shape: the dirty side is a map-side projection (no second
    scan at 10^12 rows — linkage inputs arrive as two tables keyed the
    same way); candidate generation is ONE equi-join on the blocking
    key (block skew is an AQE skew-split, and the blocking key bounds
    pair work to sum of block^2, never corpus^2); scoring is pure
    map-side integer arithmetic and the verdict filter prunes before
    any output shuffle."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    clean = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_a"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_nationkey").alias("nk"),
        F.expr(
            "case when c_custkey % 3 = 0"
            " then concat('Custmoer', substring(c_name, 9))"
            " else c_name end"
        ).alias("name_b"),
        F.expr(
            "case when c_custkey % 5 = 0 then concat(c_mktsegment, 'X')"
            " else c_mktsegment end"
        ).alias("seg_b"),
        F.expr(
            "case when c_custkey % 7 = 0"
            " then cast(round(c_acctbal * 100) as bigint) + 1"
            " else cast(round(c_acctbal * 100) as bigint) end"
        ).alias("bal_b"),
    )
    pairs = clean.join(dirty, "nk")
    scored = pairs.select(
        "key_a",
        "key_b",
        (F.col("name_a") == F.col("name_b")).cast("int").alias("name_agree"),
        (F.col("seg_a") == F.col("seg_b")).cast("int").alias("seg_agree"),
        (F.col("bal_a") == F.col("bal_b")).cast("int").alias("bal_agree"),
    ).withColumn(
        "score_cbits",
        F.expr(
            f"cast(case when name_agree = 1 then {FS_NAME_WA}"
            f" else {FS_NAME_WD} end"
            f" + case when seg_agree = 1 then {FS_SEG_WA}"
            f" else {FS_SEG_WD} end"
            f" + case when bal_agree = 1 then {FS_BAL_WA}"
            f" else {FS_BAL_WD} end as bigint)"
        ),
    )
    return (
        scored.where(F.col("score_cbits") >= FS_NON_T)
        .withColumn(
            "verdict",
            F.when(F.col("score_cbits") >= FS_LINK_T, F.lit("link"))
            .otherwise(F.lit("possible")),
        )
        .repartition(1)
        .sortWithinPartitions("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# Rank-based ROC AUC (Mann-Whitney U with tie credit)
# ---------------------------------------------------------------------------


def auc_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a score against a binary label via the
    Mann-Whitney U identity (AUC = P(score_pos > score_neg) + 0.5 *
    P(tie) — Hanley & McNeil, Radiology 1982): here the event value
    (in exact cents) scoring whether the event is a purchase — the
    threshold-free companion to quality_calibration's binned
    reliability table, and the standard acceptance gate for any
    quality / spam / toxicity scorer before it filters a corpus.

    Tie-exact integer formulation: group rows by DISTINCT score s with
    per-score positive/negative counts (n1_s, n0_s); then
    U2 = sum_s n1_s * (2 * N0_below(s) + n0_s) counts concordant pairs
    double and tied pairs once, and AUC = U2 / (2 * n1 * n0) exactly —
    no per-row midranks, no floats, half-away ppm at the end.

    Scale shape: one partial-agg groupBy collapses the corpus to its
    distinct-score table; N0_below is an EXCLUSIVE CUMSUM in score
    order computed by bucketed_exclusive_cumsum (two-pass grid — the
    only unpartitioned window touches O(n_buckets) offset rows, never
    the table); the rollup after that is a scalar aggregate.  The same
    shape survives 10^12 events because the heavy table shuffles once,
    on the grid key."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_score = (
        ev.select(
            F.expr("cast(round(value * 100) as bigint)").alias("score"),
            F.expr(
                "case when event_type = 'purchase' then 1 else 0 end"
            ).alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").alias("n1_s"),
            F.sum(F.expr("1 - pos")).alias("n0_s"),
        )
    )
    with_below = bucketed_exclusive_cumsum(
        per_score, "score", "n0_s", "n0_below"
    )
    agg = with_below.agg(
        F.sum("n1_s").alias("n_pos"),
        F.sum("n0_s").alias("n_neg"),
        F.sum(
            F.col("n1_s") * (2 * F.col("n0_below") + F.col("n0_s"))
        ).alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr(
            "case when n_pos * n_neg = 0 then 0 else"
            " (2 * u2 * cast(1000000 as bigint) + 2 * n_pos * n_neg)"
            " div (2 * 2 * n_pos * n_neg) end"
        ).alias("auc_ppm"),
    ).where(F.col("n_pos").isNotNull())  # empty input -> zero rows


# ---------------------------------------------------------------------------
# Small-file compaction planner (Iceberg binPack-style, deterministic)
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 4096  # output-file target (fixture scale; prod: 512MB)


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the maintenance job every
    streaming-ingested lakehouse table needs (Iceberg's
    ``rewrite_data_files`` binPack strategy): within each table
    partition (``source``), pack consecutive files into output bins of
    ~COMPACT_TARGET_BYTES and emit one row per planned output file
    with its member count, byte total, and id range — the manifest a
    rewrite job executes verbatim.

    Packing rule: a file joins the bin its EXCLUSIVE cumulative offset
    falls in (``offset div target``) — deterministic, order-preserving
    (no size re-sort, so time-clustered files stay clustered for
    partition pruning), and every bin is bounded by target +
    max_file_size.  The documents table stands in as the file
    manifest (doc_id=file, n_chars=bytes); a real manifest is
    FILE-cardinality (~10^6 rows at 100 TB), not row-cardinality.

    Scale shape: one shuffle on the partition key; the running offset
    is a window partitioned BY source (per-partition file counts are
    bounded in a maintained table — a partition with 10^9 files is
    already an operational failure the planner should refuse); the
    per-bin rollup reuses the same partitioning, and all arithmetic is
    exact bigint."""
    files = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.col("n_chars").alias("bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "_off", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    ).withColumn(
        # integer div, not float division — offsets at 100 TB exceed
        # 2^53 and a double quotient would misplace boundary files
        "bin_id",
        F.expr(f"_off div {COMPACT_TARGET_BYTES}").cast("bigint"),
    )
    return (
        planned.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .repartition(1)
        .sortWithinPartitions("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 / Q21 shapes: market share and sole-late-supplier
# ---------------------------------------------------------------------------


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of all PROMO-part revenue
    sold to EUROPE-region customers per order year, what ppm came from
    NATION_3 suppliers?

    Join strategy (the Q8 lesson at 100 TB is that EVERY dimension is
    broadcast-able after its filter, so the fact table is touched by
    exactly ONE shuffle pair):
      * part filtered to one p_type THEN broadcast — the filter cuts it
        ~6x before it ships, and it prunes lineitem rows at the map
        side before the orders shuffle;
      * supplier x nation collapse into one broadcast dim carrying the
        supplier's nation name (no join for it later);
      * nation x region (EUROPE) collapse into a broadcast gate on the
        CUSTOMER side; customer itself joins o_custkey as a shuffle
        join that AQE may demote to broadcast at small sf;
      * lineitem x orders is the only big-x-big join, co-keyed on
        orderkey.
    Share arithmetic is exact: revenue in integer hundredths-of-a-cent
    (the regional_revenue convention), numerator x 1e6 in decimal(38,0)
    (a bigint would overflow past ~9e18 at corpus sums), trunc-div by
    the denominator — both sides non-negative so trunc == floor and the
    engines agree bit-for-bit."""
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(na.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rg = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "EUROPE"
    )
    cust_gate = na.join(
        F.broadcast(rg), na.n_regionkey == rg.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(
            F.broadcast(cust_gate), F.col("c_nationkey") == F.col("cn_key")
        )
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("2001-01-01"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").alias("o_year"),
        )
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_c2"),
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    )
    d38 = "decimal(38,0)"
    agg = j.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("rev_c2"))
            .otherwise(F.lit(0))
            .cast(d38)
        ).alias("nat_rev"),
        F.sum(F.col("rev_c2").cast(d38)).alias("tot_rev"),
    )
    return (
        agg.select(
            "o_year",
            F.expr(
                "case when tot_rev = 0 then null else"
                " cast((nat_rev * 1000000) div tot_rev as bigint) end"
            ).alias("share_ppm"),
            F.col("tot_rev").cast("bigint").alias("total_rev_c2"),
        )
        .repartition(1)
        .sortWithinPartitions("o_year")
    )


LATE_DAYS = 90


def late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late shipper on a
    multi-supplier order ("late" = any of their lines shipped more than
    ``LATE_DAYS`` days after the order date; the synthetic lineitem has
    no commit/receipt dates, so shipdate-vs-orderdate lateness stands in
    for the reference's receipt-vs-commit).

    Q21's textbook form is an EXISTS self-join plus a NOT-EXISTS
    self-join — at 100 TB that is three passes over lineitem meeting in
    two orderkey shuffles of the full fact.  This plan replaces both
    quantified self-joins with two keyed aggregations:
      * pass 1 collapses lineitem x orders (co-keyed, one shuffle pair)
        to DISTINCT (orderkey, suppkey, was_late) rows — the largest
        intermediate shrinks from lines to supplier-order pairs;
      * pass 2 groups by orderkey: n_sup suppliers, n_late of them
        late, and (when exactly one) THE late supplier via a
        conditional max — the EXISTS ("another supplier exists") and
        NOT-EXISTS ("no OTHER late supplier") both become predicates on
        two counters, no self-join at all;
      * the surviving one-row-per-order set groups by supplier (tiny),
        then a broadcast name join.
    Output: per qualifying supplier, how many orders they alone held
    up — TakeOrdered-style by numwait desc, name asc."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    sup_ord = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"interval {LATE_DAYS} days")
            )
            .cast("int")
            .alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    per_order = sup_ord.groupBy("l_orderkey").agg(
        F.count("*").alias("n_sup"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    waits = (
        per_order.filter((F.col("n_sup") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        waits.join(F.broadcast(sup), waits.late_supp == sup.s_suppkey)
        .select("s_name", "numwait")
        .repartition(1)
        .sortWithinPartitions(F.desc("numwait"), F.asc("s_name"))
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (first / last / linear, exact ppm credit)
# ---------------------------------------------------------------------------

ATTR_LOOKBACK_DAYS = 7


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream: every purchase
    distributes credit across the user's click/view touchpoints in the
    ``ATTR_LOOKBACK_DAYS``-day lookback, under the three standard
    models side by side — first-touch, last-touch, and linear — plus a
    ``(none)`` row for conversions with no preceding touch (which
    inner-join formulations silently drop).

    Exact credit: linear credit is integer ppm — each touch gets
    1e6 div n and the LAST touch absorbs the remainder, so every
    conversion's credit sums to exactly 1,000,000 and channel totals
    are order-independent integers; attributed value rides the same
    ppm against integer cents.

    Scale shape: ONE user-keyed equi-join (conversions x touches both
    shuffle on user_id — co-partitionable with every other per-user op
    in the repo) with the time-range predicate riding the join; the
    rank/count windows partition by conversion id, whose group size is
    a user's touches in one week — bounded, never corpus-cardinality.
    The (none) row is a left anti-join on the same keys."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("tu"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
    )
    j = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts")
            - F.expr(f"interval {ATTR_LOOKBACK_DAYS} days")
        ),
    )
    win = Window.partitionBy("conv_id")
    ordered = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    per_touch = (
        j.withColumn("n", F.count("*").over(win))
        .withColumn("rn", F.row_number().over(ordered))
        .withColumn(
            "credit_ppm",
            F.expr(
                "1000000 div n"
                " + case when rn = n then 1000000 % n else 0 end"
            ),
        )
    )
    attributed = per_touch.groupBy("channel").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias(
            "first_touch_convs"
        ),
        F.sum(F.when(F.col("rn") == F.col("n"), 1).otherwise(0)).alias(
            "last_touch_convs"
        ),
        F.sum("credit_ppm").alias("linear_credit_ppm"),
        F.sum(F.col("credit_ppm") * F.col("cents")).alias("value_c_ppm"),
    )
    orphan = (
        conv.join(
            touch,
            (F.col("cu") == F.col("tu"))
            & (F.col("touch_ts") < F.col("conv_ts"))
            & (
                F.col("touch_ts")
                >= F.col("conv_ts")
                - F.expr(f"interval {ATTR_LOOKBACK_DAYS} days")
            ),
            "left_anti",
        )
        .agg(
            F.count("*").alias("first_touch_convs"),
            F.count("*").alias("last_touch_convs"),
            (F.count("*") * F.lit(1000000)).alias("linear_credit_ppm"),
            (
                F.coalesce(F.sum("cents"), F.lit(0)) * F.lit(1000000)
            ).alias("value_c_ppm"),
        )
        .select(F.lit("(none)").alias("channel"), "*")
    )
    return (
        attributed.unionByName(orphan)
        .select(
            "channel",
            F.col("first_touch_convs").cast("bigint").alias(
                "first_touch_convs"
            ),
            F.col("last_touch_convs").cast("bigint").alias(
                "last_touch_convs"
            ),
            F.col("linear_credit_ppm").cast("bigint").alias(
                "linear_credit_ppm"
            ),
            F.col("value_c_ppm").cast("bigint").alias("value_c_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("channel")
    )


# ---------------------------------------------------------------------------
# Single-source supply risk (TPC-H Q20's agg-vs-agg join shape)
# ---------------------------------------------------------------------------


def single_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration: suppliers carrying more than TWICE
    the fair (average) share of a multi-supplier part's shipped volume
    — the TPC-H Q20 shape (a correlated "compare my quantity against
    my group's aggregate" predicate) decorrelated into an
    aggregate-vs-aggregate equi-join.  The fair-share form is
    scale-free: an absolute cut (say >50%) empties as the supplier
    count per part grows with corpus size.

    Scale shape: lineitem aggregates ONCE by (partkey, suppkey)
    (map-side partials); the per-part total and supplier count come
    from a window over the pair table PARTITIONED BY partkey — a
    bounded group (suppliers of one part), never corpus-cardinality —
    so the whole comparison is one scan + one agg + one keyed window,
    with names via broadcast dims.  Quantities are integer centi-units
    so the 2x-fair-share comparison is exact.

    The correlated-subquery form Spark plans from the naive SQL scans
    lineitem twice (each reference to the pair aggregate re-derives
    it); the window form is the hand-decorrelated SINGLE-scan plan
    (plan-pinned)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
    )
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty_c").alias("supp_qty_c")
    )
    per_part = Window.partitionBy("l_partkey")
    risky = (
        pair.withColumn("part_qty_c", F.sum("supp_qty_c").over(per_part))
        .withColumn("n_suppliers", F.count("*").over(per_part))
        .filter(
            (F.col("n_suppliers") > 1)
            & (
                F.col("supp_qty_c") * F.col("n_suppliers")
                > F.col("part_qty_c") * 2
            )
        )
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_name", "p_brand"
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        risky.join(F.broadcast(part), risky.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), risky.l_suppkey == sup.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "supp_qty_c",
            "part_qty_c",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.expr(
                "cast((supp_qty_c * cast(1000 as bigint))"
                " div part_qty_c as bigint)"
            ).alias("share_milli"),
        )
        .repartition(1)
        .sortWithinPartitions("p_partkey", "s_name")
    )


BASKET_MINSUP = 2


def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent THREE-part itemsets by real Apriori (Agrawal & Srikant
    VLDB'94): frequent items gate the baskets, frequent pairs gate the
    pair stream, and a candidate triple is counted only if ALL THREE of
    its 2-subsets are frequent — the downward-closure prune is what
    keeps k=3 from being a basket-cubed blowup at corpus scale.

    Scale shape: every expansion is an ORDER-keyed equi-join (the same
    bounded-basket fan-out argument as market_basket_pairs, one key
    reused end to end so the shuffles co-locate), and the three prune
    gates are semi-joins against the L1/L2 frequency tables — Apriori
    is lossless, so the DuckDB oracle deliberately computes triples the
    DIRECT way (no prune) and agreement proves the prune dropped
    nothing."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    l1 = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= BASKET_MINSUP)
        .select("l_partkey")
    )
    li1 = li.join(l1, "l_partkey", "left_semi").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    a = li1.select("ok", F.col("p").alias("pa"))
    b = li1.select("ok", F.col("p").alias("pb"))
    basket_pairs = a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
    l2 = (
        basket_pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= BASKET_MINSUP)
        .select("pa", "pb")
    )
    surviving = basket_pairs.join(l2, ["pa", "pb"], "left_semi")
    c = li1.select("ok", F.col("p").alias("pc"))
    cand = surviving.join(c, "ok").filter(F.col("pc") > F.col("pb"))
    # downward closure: (pa, pc) and (pb, pc) must also be frequent
    l2_ac = l2.select(F.col("pa").alias("xa"), F.col("pb").alias("xc"))
    l2_bc = l2.select(F.col("pa").alias("yb"), F.col("pb").alias("yc"))
    cand = cand.join(
        l2_ac,
        (F.col("pa") == F.col("xa")) & (F.col("pc") == F.col("xc")),
        "left_semi",
    ).join(
        l2_bc,
        (F.col("pb") == F.col("yb")) & (F.col("pc") == F.col("yc")),
        "left_semi",
    )
    return (
        cand.groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= BASKET_MINSUP)
        .repartition(1)
        .sortWithinPartitions("pa", "pb", "pc")
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q13 / Q18 shapes — the remaining decorrelation catalog
# ---------------------------------------------------------------------------


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the argmin-per-group join-back: for every part,
    the supplier who shipped it at the LOWEST observed unit price (the
    synthetic schema has no partsupp cost, so unit price =
    extendedprice/quantity stands in), ties to the lower suppkey.

    Exactness: the rational unit price is held as integer MICRO-cents
    via trunc-div of integer centi units (price_c * 10000 div qty_c) —
    deterministic in both engines, no float quotient.  Q2's correlated
    MIN subquery usually decorrelates into min-agg + join-back; here
    even the join-back disappears: min over the (unit_micro, suppkey)
    STRUCT is lexicographic — price first, lower-suppkey tie rule —
    so the aggregate itself carries the winner out.

    Scale shape: one groupBy partkey with map-side partial min (the
    pair table never materializes), one broadcast dim join for names."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) * 10000"
            " div cast(round(l_quantity * 100) as bigint)"
        ).alias("unit_micro"),
    )
    best = li.groupBy("l_partkey").agg(
        F.min(F.struct("unit_micro", "l_suppkey")).alias("b")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        best.select(
            "l_partkey",
            F.col("b.l_suppkey").alias("s_suppkey"),
            F.col("b.unit_micro").alias("unit_micro"),
        )
        .join(F.broadcast(sup), "s_suppkey")
        .select("l_partkey", "s_name", "unit_micro")
        .repartition(1)
        .sortWithinPartitions("l_partkey")
    )


Q11_SHARE_PPM = 700


def revenue_concentrated_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — groups filtered against a GLOBAL scalar: parts
    whose revenue share of the whole corpus exceeds ``Q11_SHARE_PPM``
    (Q11's HAVING sum(value) > fraction * (SELECT sum(value) ...)).

    Scale shape: ONE revenue aggregate by part (map-side partials),
    eagerly localCheckpoint'ed so BOTH its consumers — the scalar total
    and the HAVING comparison — reuse one materialization (Catalyst
    otherwise re-derives the subtree per reference and scans the fact
    twice; plan-pinned single scan); the total collapses to one row and
    broadcasts into the filter — the canonical scalar-subquery
    decorrelation.  Share arithmetic is exact: rev * 1e6 in
    decimal(38,0) trunc-divided by the total."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_c2"),
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum("rev_c2").alias("part_rev_c2"))
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(
        F.sum(F.col("part_rev_c2").cast("decimal(38,0)")).alias("tot")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.expr(
                f"cast(part_rev_c2 as decimal(38,0)) * 1000000"
                f" > {Q11_SHARE_PPM} * tot"
            )
        )
        .select(
            "l_partkey",
            "part_rev_c2",
            F.expr(
                "cast((cast(part_rev_c2 as decimal(38,0)) * 1000000)"
                " div tot as bigint)"
            ).alias("share_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("l_partkey")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the outer-join count distribution WITH the
    classic gotcha: how many customers placed exactly k non-urgent
    orders, INCLUDING k = 0.  The priority filter must live in the
    JOIN CONDITION, not a WHERE clause — filtering after the left join
    silently deletes the zero-order customers Q13 exists to count
    (pinned by the hand test).

    Scale shape: left outer join on custkey (both sides shuffle once,
    co-partitionable), count(o_orderkey) ignores the null-extended
    rows, then the per-customer counts collapse to a tiny k-histogram
    via a second map-side-combining aggregate."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .select(
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
        )
        .repartition(1)
        .sortWithinPartitions(F.desc("n_customers"), F.desc("n_orders"))
    )


Q18_MIN_QTY_C = 15_000  # 150 units in centi-quantity


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-gated groups joined back to their
    dimensions: orders whose total quantity exceeds ``Q18_MIN_QTY_C``
    centi-units, with the customer name attached.

    Scale shape: the quantity rollup is one groupBy orderkey with
    map-side partials; the HAVING filter collapses the fact to the few
    qualifying orders BEFORE any dimension join (at 100 TB the filter
    is the whole game — joining first would shuffle every order row);
    orders joins the survivors on orderkey and customer arrives last,
    by which point the row count is tiny."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty_c").alias("total_qty_c"))
        .filter(F.col("total_qty_c") > Q18_MIN_QTY_C)
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "total_qty_c",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("price_c"),
        )
        .repartition(1)
        .sortWithinPartitions(F.desc("total_qty_c"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# TPC-H catalog completion — the ten remaining query shapes (Q6, Q7, Q9,
# Q10, Q12, Q14, Q15, Q16, Q17, Q19), adapted to the driver corpus columns
# (no partsupp / shipmode / container / comment columns exist, so each
# docstring names the stand-in attribute; the SHAPE — join strategy,
# decorrelation, predicate placement — is the point, per SURVEY §2.7).
# All money is the repo's exact integer convention: cents x discount
# -complement-percent = hundredths-of-a-cent ("c2"), decimal(38,0) for
# corpus sums, trunc-div ppm at the very end.
# ---------------------------------------------------------------------------

# Q6: one-month band + discount band + quantity cap, revenue = price*disc
Q6_DATE_LO, Q6_DATE_HI = "1996-01-01", "1997-01-01"
Q6_DISC_LO_PCT, Q6_DISC_HI_PCT = 5, 7
Q6_MAX_QTY = 24


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan query: no join, three
    range predicates, one global sum.  revenue = extendedprice *
    discount over a one-year ship window, a discount band, and a
    quantity cap.

    The discount band is evaluated on the exact integer percent
    (round(l_discount*100) in [5,7]) so float representation of 0.05
    can never flip a row across engines; revenue accumulates as
    price-cents x discount-percent (c2) in decimal(38,0).

    Scale shape: THE predicate-pushdown showcase — all three filters
    reach the parquet scan (PushedFilters on l_shipdate/l_quantity),
    whole-stage codegen evaluates the residual, and the aggregate is
    one map-side partial + a single-row final: zero shuffles of data,
    one of partials.  At 100 TB this is an embarrassingly parallel
    scan bounded by IO."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q6_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q6_DATE_HI))
            & (F.col("l_quantity") < Q6_MAX_QTY)
        )
        .select(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("dp"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("price_c"),
        )
        .filter(
            (F.col("dp") >= Q6_DISC_LO_PCT) & (F.col("dp") <= Q6_DISC_HI_PCT)
        )
        .agg(
            F.sum(
                (F.col("price_c") * F.col("dp")).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("revenue_c2"),
            F.count("*").alias("n_lines"),
        )
    )


# Q7: the two trading nations and the two-year ship window
Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_DATE_LO, Q7_DATE_HI = "1995-01-01", "1997-01-01"


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: revenue shipped
    between two specific nations (supplier nation != customer nation,
    both directions), grouped by (supp_nation, cust_nation, year).

    Join strategy: supplier and customer each collapse with the
    25-row nation dim into a broadcast carrying the nation NAME and
    pre-filtered to the two nations of interest — the selective gate
    prunes lineitem/orders rows map-side before the one big-big
    orderkey join; the asymmetric pair predicate (exclude same-nation
    pairs) is a residual on the already-tiny joined rows.

    Scale shape: exactly one fact-x-fact shuffle (lineitem x orders on
    orderkey); everything else broadcasts.  Group key cardinality is
    2 x 2 x years, so the final agg is a handful of rows."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(na),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(
            F.broadcast(na),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q7_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q7_DATE_HI))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").alias("l_year"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_c2"),
        )
    )
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(F.col("rev_c2").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("revenue_c2"),
            F.count("*").alias("n_lines"),
        )
        .repartition(1)
        .sortWithinPartitions("supp_nation", "cust_nation", "l_year")
    )


# Q9: the part-name token standing in for TPC-H's '%green%'
Q9_NAME_TOKEN = "red"
# cost model stand-in for the absent partsupp.ps_supplycost: 10% of
# p_retailprice per unit (retail cents x 10 == 0.1 x retail in c2)
Q9_COST_RETAIL_PCT = 10


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by nation and year:
    for parts whose name carries one token, profit = revenue minus
    supply cost, grouped by (supplier nation, order year).

    Adaptation: the corpus has no partsupp, so supply cost is modeled
    as ``Q9_COST_RETAIL_PCT``% of ``p_retailprice`` per unit — carried
    exactly as retail-cents x qty x 10 in c2 units, so profit stays an
    exact integer and the oracle agrees bit-for-bit.

    Join strategy: part is filtered by the name token THEN broadcast
    (the Q9 lesson: the part filter is the only selective predicate,
    so it must prune the fact scan map-side, not after the shuffle);
    supplier x nation collapse into one broadcast; lineitem x orders
    is the single co-keyed big-big join.

    Scale shape: one fact-x-fact shuffle + three broadcasts; group
    cardinality nations x years.  The profit expression is pure
    codegen arithmetic on two bigints."""
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").contains(Q9_NAME_TOKEN))
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100)
            .cast("bigint")
            .alias("retail_c"),
        )
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity").cast("bigint").alias("qty"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_c2"),
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .select(
            "nation",
            "o_year",
            (
                F.col("rev_c2")
                - F.col("qty") * F.col("retail_c") * Q9_COST_RETAIL_PCT
            ).alias("profit_c2"),
        )
    )
    return (
        j.groupBy("nation", "o_year")
        .agg(
            F.sum(F.col("profit_c2").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("profit_c2"),
            F.count("*").alias("n_lines"),
        )
        .repartition(1)
        .sortWithinPartitions("nation", F.desc("o_year"))
    )


# Q10: the return-flag quarter and the top-N cutoff
Q10_DATE_LO, Q10_DATE_HI = "1995-04-01", "1995-07-01"
Q10_TOP_N = 20


def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item losses: the TOP_N customers by
    revenue on RETURNED lines ('R') for orders placed in one quarter.

    Join strategy: orders is date-filtered first (the quarter cuts it
    ~25x) and joins lineitem co-keyed on orderkey; the customer dim +
    nation name broadcast onto the small aggregated result.

    Scale shape: the top-N is `orderBy().limit()` —
    TakeOrderedAndProject, a per-partition heap + single-driver merge
    of N-row partials, NEVER a global sort or an unpartitioned window
    (the repo's heavy_hitters convention).  Ties break on c_custkey so
    the cutoff row is deterministic on both engines."""
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q10_DATE_LO))
            & (F.col("o_orderdate") < F.lit(Q10_DATE_HI))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_c2"),
        )
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("rev_c2").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("revenue_c2")
        )
    )
    return (
        agg.join(F.broadcast(cust), agg.o_custkey == cust.c_custkey)
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"),
                "revenue_c2")
        .orderBy(F.desc("revenue_c2"), F.asc("c_custkey"))
        .limit(Q10_TOP_N)
    )


# Q12: l_returnflag stands in for the absent l_shipmode; the ship year
Q12_FLAGS = ("A", "R")
Q12_DATE_LO, Q12_DATE_HI = "1996-01-01", "1997-01-01"
Q12_HIGH = ("1-URGENT", "2-HIGH")


def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping-class vs order-priority audit: for
    two shipping classes and one ship year, count lines from
    high-priority vs low-priority orders per class.

    Adaptation: the corpus has no ``l_shipmode``, so ``l_returnflag``
    ('A'/'R') is the two-valued shipping-class stand-in; the CASE
    split on ``o_orderpriority`` is verbatim Q12.

    Scale shape: one co-keyed big-big join (lineitem filtered by
    class+year map-side, orders projected to two columns), then a
    two-row conditional aggregate — the canonical
    filter-join-case-count with partial aggs on both sides of the
    final exchange."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            F.col("l_returnflag").isin(*Q12_FLAGS)
            & (F.col("l_shipdate") >= F.lit(Q12_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q12_DATE_HI))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .repartition(1)
        .sortWithinPartitions("l_returnflag")
    )


# Q14: the promo month
Q14_DATE_LO, Q14_DATE_HI = "1995-09-01", "1995-10-01"


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: the ppm share of one ship
    month's revenue that came from PROMO-type parts.

    Scale shape: part projects to (p_partkey, is_promo) and broadcasts
    UNFILTERED (every lineitem row needs the flag, so the filter moves
    into the aggregate as a CASE — the Q14 lesson: a selective
    broadcast would be wrong here, the flag is a property join);
    lineitem is month-filtered at the scan; one conditional partial
    agg pair, single-row result, exact decimal(38,0) ppm division."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q14_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q14_DATE_HI))
        )
        .select(
            "l_partkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_c2"),
        )
    )
    d38 = "decimal(38,0)"
    agg = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.sum(
            F.when(F.col("is_promo"), F.col("rev_c2"))
            .otherwise(F.lit(0))
            .cast(d38)
        ).alias("promo_rev"),
        F.sum(F.col("rev_c2").cast(d38)).alias("tot_rev"),
    )
    return agg.select(
        F.expr(
            "case when tot_rev = 0 then null else"
            " cast((promo_rev * 1000000) div tot_rev as bigint) end"
        ).alias("promo_share_ppm"),
        F.col("promo_rev").cast("bigint").alias("promo_rev_c2"),
        F.col("tot_rev").cast("bigint").alias("total_rev_c2"),
    )


# Q15: the top-supplier revenue quarter
Q15_DATE_LO, Q15_DATE_HI = "1996-01-01", "1996-04-01"


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier(s): suppliers whose one-quarter
    shipped revenue equals the global maximum (Q15's revenue view +
    scalar-max subquery, kept as a set so ties surface rather than
    pick an arbitrary winner).

    Decorrelation: the revenue "view" is one partial-agg groupBy over
    the filtered fact scan; the scalar max is a 1-row aggregate OF
    that view, broadcast back onto it (the repo's
    broadcast-guard-aggregate convention) — no window, no second fact
    scan, no collect.

    Scale shape: fact scan -> one suppkey shuffle (cardinality =
    suppliers) -> O(suppliers) max + broadcast equality filter ->
    broadcast supplier dim for the name.  At 100 TB the only big cost
    is the scan itself."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q15_DATE_LO))
            & (F.col("l_shipdate") < F.lit(Q15_DATE_HI))
        )
        .select(
            "l_suppkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_c2"),
        )
    )
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(F.col("rev_c2").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("total_revenue_c2")
        )
        # bounded state (one row per supplier): materialize the view so
        # its two consumers (the max and the equality join) share ONE
        # fact scan instead of re-reading lineitem
        .localCheckpoint(eager=True)
    )
    mx = revenue.agg(F.max("total_revenue_c2").alias("max_rev"))
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.join(
            F.broadcast(mx),
            F.col("total_revenue_c2") == F.col("max_rev"),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_c2")
        .repartition(1)
        .sortWithinPartitions("s_suppkey")
    )


# Q16: part attribute filters + the "complaints" supplier exclusion
Q16_EXCL_BRAND = "Brand#1"
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (1, 4, 7, 10, 13, 16, 19, 22)


def parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — parts/supplier relationship: how many
    DISTINCT suppliers can supply parts of each (brand, type, size)
    combo, excluding one brand, one type family, and "complaint"
    suppliers (NOT IN subquery -> anti-join).

    Adaptation: the corpus has no partsupp, so the part-supplier
    relation is the DISTINCT (l_partkey, l_suppkey) projection of
    lineitem (who actually shipped what); no s_comment either, so the
    complaint set is suppliers with negative account balance.

    Scale shape: the NOT IN becomes a broadcast LEFT ANTI join (the
    only correct distributed form — NOT IN with a nullable subquery is
    the classic SQL trap, sidestepped here because s_suppkey is a
    key); the distinct-supplier count per attribute combo is ONE
    shuffle on (brand, type, size) after the partkey broadcast join;
    count(distinct) re-expands internally to a two-phase partial
    distinct — both engines dedupe identically."""
    ps = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & (F.col("p_type") != Q16_EXCL_TYPE)
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complainers = spark.read.parquet(f"{sf_dir}/supplier.parquet").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(
            F.broadcast(complainers),
            ps.l_suppkey == complainers.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .repartition(1)
        .sortWithinPartitions(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


# Q17: the small-quantity brand and the avg fraction (1/5 = 20%)
Q17_BRAND = "Brand#3"
Q17_AVG_DEN = 5  # qty < sum_qty / (5 * cnt)  <=>  qty*5*cnt < sum_qty


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — small-quantity-order revenue: total revenue
    of lines whose quantity is below 20% of the part's average
    quantity, for one brand.  THE correlated-scalar-subquery
    decorrelation showcase: ``l_quantity < 0.2 * (select avg
    ... where l_partkey = p_partkey)`` becomes a per-partkey
    pre-aggregate joined back to the same filtered fact rows.

    Exactness: the avg never materializes — the comparison multiplies
    through (qty * 5 * cnt < sum_qty, all bigints of integral
    quantities), so no division, no float, no rounding rule to
    disagree on.

    Scale shape: part (brand-filtered) broadcasts; the filtered fact
    subset shuffles ONCE on l_partkey and the self-join of rows vs
    their group aggregate rides the SAME partitioning (co-keyed, AQE
    keeps it local).  Q17's classic trap — recomputing the avg per
    row via a correlated subquery — never appears in the plan."""
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            F.broadcast(part),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "l_partkey",
            F.round("l_quantity").cast("bigint").alias("qty"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("price_c"),
        )
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count("*").alias("cnt")
    )
    small = li.join(
        stats.withColumnRenamed("l_partkey", "s_partkey"),
        F.col("l_partkey") == F.col("s_partkey"),
    ).filter(
        F.col("qty") * Q17_AVG_DEN * F.col("cnt") < F.col("sum_qty")
    )
    return small.agg(
        F.sum(F.col("price_c").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("total_price_c"),
        F.count("*").alias("n_small_lines"),
    )


# Q19: three OR'd (brand, size band, quantity band) baskets
Q19_BASKETS = (
    ("Brand#1", 1, 5, 1, 11),
    ("Brand#2", 1, 10, 10, 20),
    ("Brand#3", 1, 15, 20, 30),
)


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue under a DISJUNCTION of
    conjunctive baskets: three OR'd (brand, part-size band, line
    quantity band) predicates spanning both tables.

    Adaptation: p_container/l_shipinstruct don't exist; p_size and
    l_quantity bands carry the same cross-table OR structure.

    The Q19 lesson: naive translation ORs the JOIN CONDITION, which
    forces a cartesian/BNL plan.  The correct distributed form —
    shipped here — extracts the common equi-key (partkey) as the join
    condition, pushes the single-table disjuncts down to each scan as
    a union-of-bands prefilter (brand-or for part, quantity-envelope
    for lineitem), and leaves the cross-table OR as a residual CASE on
    the joined row.

    Scale shape: part (brand-filtered, tiny) broadcasts; lineitem
    scans once with the quantity envelope pushed down; zero shuffles
    beyond the partial-agg exchange of one row."""
    brands = sorted({b[0] for b in Q19_BASKETS})
    qty_lo = min(b[3] for b in Q19_BASKETS)
    qty_hi = max(b[4] for b in Q19_BASKETS)
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_brand").isin(*brands))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
        )
        .select(
            "l_partkey",
            F.round("l_quantity").cast("bigint").alias("qty"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_c2"),
        )
    )
    residual = None
    for brand, sz_lo, sz_hi, q_lo, q_hi in Q19_BASKETS:
        clause = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= sz_lo)
            & (F.col("p_size") <= sz_hi)
            & (F.col("qty") >= q_lo)
            & (F.col("qty") <= q_hi)
        )
        residual = clause if residual is None else (residual | clause)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(residual)
        .agg(
            F.sum(F.col("rev_c2").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("revenue_c2"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (Theil 1950; Sen, JASA 1968)
# ---------------------------------------------------------------------------

TS_EPOCH = "1995-01-01"  # day-index origin for the daily revenue series


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of daily order revenue — the median of all
    pairwise slopes (Theil 1950 / Sen 1968), the robust trend line a
    revenue monitor wants instead of OLS (one flash-sale day skews a
    least-squares fit; the pairwise median shrugs it off; 29.3%
    breakdown point).

    Engine-exactness: revenue is summed in integer cents per day; a
    pair's slope is ``(dv * 1000) div dd`` milli-cents/day — Spark
    ``div`` and DuckDB ``//`` both truncate toward zero (verified
    including negatives), so every slope is the identical bigint; the
    median is the rank-``(n+1) div 2`` element (lower median) under
    the total (slope, pair_id) order.

    Scale shape: the pair table is DAYS^2-bounded — days grow with the
    calendar, not the corpus, so the quadratic is a constant ~3M rows
    at any data scale; the day-pair join broadcasts the daily series
    (calendar-bounded); the median rank rides
    ``bucketed_global_rank`` (one bucket shuffle + O(n_buckets) offset
    window), never a single-partition sort; the count and the pick are
    broadcast 1-row aggregates."""
    daily = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(TS_EPOCH)).alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("cents").alias("va")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("cents").alias("vb")
    )
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        (F.col("da") * 100000 + F.col("db")).alias("pair_id"),
        # nullif: the join guarantees db > da, but ANSI mode may probe
        # the expression on unmatched pairs — null them instead of
        # throwing (no matched row ever has a zero denominator)
        F.expr(
            "((vb - va) * cast(1000 as bigint)) div nullif(db - da, 0)"
        ).alias("slope_milli"),
    )
    stats = daily.agg(F.count("*").alias("n_days")).crossJoin(
        F.broadcast(pairs.agg(F.count("*").alias("n_pairs")))
    )
    ranked = bucketed_global_rank(pairs, "slope_milli", "pair_id")
    return (
        ranked.crossJoin(F.broadcast(stats))
        .filter(F.col("rk") == F.expr("(n_pairs + 1) div 2"))
        .select(
            F.col("slope_milli").alias("slope_milli_per_day"),
            "n_pairs",
            "n_days",
        )
    )


# ---------------------------------------------------------------------------
# Consistent-hash ring resharding (Karger et al., STOC 1997; virtual
# nodes per Dynamo, SOSP 2007)
# ---------------------------------------------------------------------------

RING_SHARDS = 8  # shard count before the reshard (after: +1)
RING_VNODES = 16  # virtual nodes per shard


def ring_reshard_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring assignment before/after adding one shard —
    the data-movement audit for growing a 100 TB cluster: with
    ``RING_VNODES`` virtual nodes per shard (the Dynamo trick that
    smooths Karger's ring), adding shard N should move only ~1/(N+1)
    of the keys, all of them INTO the new shard; a modulo scheme would
    move ~N/(N+1).  Output: per-shard key counts before/after plus how
    many keys each shard surrendered.

    Engine-exactness: vnode positions and key positions are the
    repo's portable 32-bit md5 prefix hash; a ring entry is the single
    bigint ``pos * 256 + shard`` so successor-finding is a scalar
    ``array_min`` over a filtered literal array — min by (pos, shard)
    exactly, identical on both engines; wrap-around is the coalesce to
    the ring's global min.

    Scale shape: the ring is O(shards x vnodes) — collected into ONE
    broadcast row (the bounded-state convention); assignment is a
    map-side array fold per key, zero joins on the key table; the
    per-shard rollup is one <=2(N+1)-group aggregate driven off a
    literal shard range so empty shards still report."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(concat('key:', cast(doc_id as string)"
            ")), 1, 8), 16, 10) as bigint)"
        ).alias("kpos"),
    )

    def ring_row(n_shards: int, col: str):
        return (
            spark.range(n_shards * RING_VNODES)
            .select(
                F.expr(
                    f"cast(conv(substring(md5(concat('ring:',"
                    f" cast(id div {RING_VNODES} as string), ':',"
                    f" cast(id % {RING_VNODES} as string))), 1, 8), 16, 10)"
                    f" as bigint) * 256 + id div {RING_VNODES}"
                ).alias("code")
            )
            .agg(F.sort_array(F.collect_list("code")).alias(col))
        )

    rings = ring_row(RING_SHARDS, "ring_a").crossJoin(
        ring_row(RING_SHARDS + 1, "ring_b")
    )
    assign = docs.crossJoin(F.broadcast(rings)).select(
        "doc_id",
        F.expr(
            "coalesce(array_min(filter(ring_a, c -> c div 256 >= kpos)),"
            " array_min(ring_a)) % 256"
        ).alias("before"),
        F.expr(
            "coalesce(array_min(filter(ring_b, c -> c div 256 >= kpos)),"
            " array_min(ring_b)) % 256"
        ).alias("after"),
    )
    by_before = assign.groupBy("before").agg(
        F.count("*").alias("n_before"),
        F.sum(
            (F.col("after") != F.col("before")).cast("bigint")
        ).alias("n_moved_out"),
    )
    by_after = assign.groupBy("after").agg(F.count("*").alias("n_after"))
    shards = spark.range(RING_SHARDS + 1).select(
        F.col("id").cast("bigint").alias("shard")
    )
    return (
        shards.join(by_before, shards.shard == by_before.before, "left")
        .join(by_after, shards.shard == by_after.after, "left")
        .select(
            "shard",
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias(
                "n_before"
            ),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce("n_moved_out", F.lit(0)).cast("bigint").alias(
                "n_moved_out"
            ),
        )
        .repartition(1)
        .sortWithinPartitions("shard")
    )


# ---------------------------------------------------------------------------
# Seasonal-trend decomposition (classical additive; Cleveland STL-lite)
# ---------------------------------------------------------------------------

STL_HALF = 3  # centered moving-average half-window (7-day trend)


def seasonal_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily order revenue:
    trend = centered 7-row moving average, seasonal = per-weekday mean
    of the detrended series, residual = the rest — the STL-shaped
    monitor (trend drift vs weekday rhythm vs anomaly) that
    contextualizes what cusum_changepoint and weekday_seasonality
    each report alone.

    Engine-exactness: revenue in integer cents; trend is the
    half-away milli mean over the (row-centered) window; the weekday
    is ``day % 7`` of the epoch day index (no engine weekday-origin
    dispute); seasonal/residual use truncating division on the
    possibly-negative detrended millis — Spark ``div`` and DuckDB
    ``//`` both truncate toward zero (verified), so every row is
    bit-equal.

    Scale shape: the daily rollup is one partial-agg shuffle; the
    trend window and weekday means run on the CALENDAR-bounded series
    (~2.4k rows regardless of corpus size — annotated tiny), and the
    weekday means are a 7-group aggregate broadcast back."""
    daily = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(TS_EPOCH)).alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    # the SQL-expressed trend window below is unpartitioned by design:
    # its input is the calendar-bounded daily series (~2.4k rows at any
    # corpus scale), the same justification as the annotated
    # tiny-window sites
    trended = daily.select(
        "day",
        "cents",
        F.expr(
            f"(2 * sum(cents) over (order by day"
            f" rows between {STL_HALF} preceding and {STL_HALF} following)"
            f" * 1000 + count(*) over (order by day"
            f" rows between {STL_HALF} preceding and {STL_HALF} following))"
            f" div (2 * count(*) over (order by day"
            f" rows between {STL_HALF} preceding and {STL_HALF} following))"
        ).alias("trend_milli"),
    ).withColumn(
        "detrended_milli", F.col("cents") * 1000 - F.col("trend_milli")
    )
    seas = trended.groupBy((F.col("day") % 7).alias("wd")).agg(
        F.expr("sum(detrended_milli) div count(*)").alias("seasonal_milli")
    )
    return (
        trended.join(
            F.broadcast(seas), (F.col("day") % 7) == F.col("wd")
        )
        .select(
            "day",
            "cents",
            "trend_milli",
            "seasonal_milli",
            (
                F.col("detrended_milli") - F.col("seasonal_milli")
            ).alias("residual_milli"),
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )


# ---------------------------------------------------------------------------
# Grid-bucketed spatial self-join (radius search without a cross join)
# ---------------------------------------------------------------------------

GEO_W = 1_000_000  # point domain: integer micro-units in [0, GEO_W)^2
GEO_R = 10_000  # radius; also the grid cell edge (cell = R guarantees
#                 neighbors-within-R live in the 3x3 cell neighborhood)
_GEO_AX = 48_271  # coordinate-synthesis multipliers (SQL-expressible);
_GEO_AY = 69_621  # the QUADRATIC term below breaks the pair degeneracy a
_GEO_QX = 7  # purely linear map would have (all coordinate deltas are
_GEO_QY = 11  # functions of the key difference alone -> lattice artifacts)


def geo_cell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within radius ``GEO_R`` via GRID-CELL bucketing —
    the classic distributed spatial join (the fixed-grid case of
    SpatialHadoop/Sedona's partition-join): snap each point to a square
    cell of edge R, replicate each probe point to its 3x3 cell
    neighborhood, equi-join on the cell key, then verify exact squared
    distance.  Complete by the floor-division property: dist <= R
    forces per-axis cell offsets in {-1, 0, 1}, so every true pair
    meets in the probe's replicated neighborhood exactly once (the
    build side keeps its single home cell; key_a < key_b kills the
    mirror orientation).

    Coordinates are deterministic integer micro-units derived from the
    customer key by a quadratic hash — the oracle re-derives them and
    verifies against the O(n^2) brute-force join, which only exists at
    check scale.

    Scale shape: constant 9x replication of one side, ONE equi-join
    shuffle on the (cx, cy) cell key, exact integer distance filter —
    never a cross join (plan-pinned).  Hot cells (urban skew) are
    bounded by cell occupancy: at production scale shrink R's cell to
    R/2-with-5x5-neighborhood or salt the top cells; AQE skew-split
    absorbs moderate imbalance."""
    return (
        _geo_radius_pairs(spark, sf_dir)
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "dist2")
        .repartition(1)
        .sortWithinPartitions("key_a", "key_b")
    )


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, x, y) integer point table derived from the customer key —
    shared by geo_cell_pairs and geo_dbscan."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey").cast("bigint")
    return cust.select(
        k.alias("key"),
        ((k * k * _GEO_QX + k * _GEO_AX) % GEO_W).alias("x"),
        ((k * k * _GEO_QY + k * _GEO_AY) % GEO_W).alias("y"),
    )


def _geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED neighbor pairs (key_a, key_b, dist2) with key_a != key_b
    and dist <= GEO_R, via the 3x3 grid-cell join of geo_cell_pairs'
    docstring — both orientations, so per-point neighbor counts are one
    groupBy away."""
    pts = _geo_points(spark, sf_dir).withColumn(
        "cx", F.expr(f"x div {GEO_R}")
    ).withColumn("cy", F.expr(f"y div {GEO_R}"))
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        pts.withColumn("o", F.explode(offsets))
        .select(
            F.col("key").alias("key_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
    )
    build = pts.select(
        F.col("key").alias("key_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = F.expr("(xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)")
    return (
        probe.join(build, ["cx", "cy"])
        .where(F.col("key_a") != F.col("key_b"))
        .withColumn("dist2", d2)
        .where(F.col("dist2") <= GEO_R * GEO_R)
        .select("key_a", "key_b", "dist2")
    )


GEO_MINPTS = 3  # DBSCAN core threshold: >= 3 neighbors within GEO_R


def geo_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed DBSCAN (Ester, Kriegel, Sander & Xu,
    KDD'96) — the composition that makes the grid join earn its keep:
      1. neighbor pairs within R from the 3x3 grid-cell equi-join
         (_geo_radius_pairs — never a cross join);
      2. core points = >= GEO_MINPTS neighbors (one groupBy count);
      3. clusters = connected components over CORE-CORE neighbor edges
         via the dedup module's large-star/small-star rounds (O(log n)
         rounds, the same machinery that clusters near-dup docs);
      4. border points (non-core with a core neighbor) attach to their
         MINIMUM core neighbor's cluster — min, not first-seen, so the
         labeling is order-independent and engine-exact;
      5. everything else is noise (cluster_id -1).
    Sequential DBSCAN is inherently order-dependent at borders; the
    min-attachment rule makes this variant deterministic, which is what
    lets a DuckDB oracle replay it exactly.

    Scale shape: grid join + two groupBys + CC rounds (each two keyed
    shuffles) + one broadcast-able core-label join for borders; no
    global window, no cartesian; density skew (a mega-cluster cell)
    lands in the CC rounds, which are the proven near-dup shape."""
    from ocr_spark.operators.dedup import connected_components

    pairs = _geo_radius_pairs(spark, sf_dir)
    counts = pairs.groupBy(F.col("key_a").alias("key")).agg(
        F.count("*").alias("n_neighbors")
    )
    pts = _geo_points(spark, sf_dir).join(counts, "key", "left").select(
        "key", F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors")
    )
    core = pts.where(F.col("n_neighbors") >= GEO_MINPTS).select("key")
    cc_edges = (
        pairs.join(core.withColumnRenamed("key", "key_a"), "key_a")
        .join(core.withColumnRenamed("key", "key_b"), "key_b")
        .where(F.col("key_a") < F.col("key_b"))
        .select(F.col("key_a").alias("u"), F.col("key_b").alias("v"))
    )
    labels = connected_components(cc_edges).select(
        F.col("doc_id").alias("key"), "cluster_id"
    )
    core_labeled = (
        core.join(labels, "key", "left")
        .select("key", F.coalesce("cluster_id", F.col("key")).alias("cid"))
    )
    border = (
        pairs.join(
            core_labeled.withColumnRenamed("key", "key_b"), "key_b"
        )
        .join(core.withColumnRenamed("key", "key_a"), "key_a", "left_anti")
        .groupBy(F.col("key_a").alias("key"))
        .agg(F.min("cid").alias("cid"))
    )
    out = (
        pts.join(
            core_labeled.select("key", F.col("cid").alias("core_cid")),
            "key",
            "left",
        )
        .join(
            border.select("key", F.col("cid").alias("border_cid")),
            "key",
            "left",
        )
        .select(
            "key",
            "n_neighbors",
            F.when(F.col("core_cid").isNotNull(), F.lit("core"))
            .when(F.col("border_cid").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(
                "core_cid", "border_cid", F.lit(-1).cast("bigint")
            ).alias("cluster_id"),
        )
    )
    return out.repartition(1).sortWithinPartitions("key")


# ---------------------------------------------------------------------------
# Session co-visitation matrix (item-to-item behavioral similarity)
# ---------------------------------------------------------------------------

COVISIT_ITEMS = 200  # synthetic catalog size: item = (event_id * 13) % N


def session_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item co-visitation counts from CONSECUTIVE events inside
    a user session — the classic behavioral-similarity matrix behind
    item-based collaborative filtering (Linden, Smith & York,
    "Amazon.com Recommendations: Item-to-Item Collaborative Filtering",
    IEEE Internet Computing 2003) and the covisitation-candidate trick
    of modern recsys pipelines: sessions are the 30-minute-gap rule of
    ``sessionize_events``, the item id is derived deterministically
    from event_id (a stand-in catalog, SQL-expressible for the oracle),
    and each adjacent (item, next-item) transition inside a session
    increments the ordered cell.

    Scale shape: one user-partitioned window chain (lag for the
    session cut, lead for the transition — both shuffle once on
    user_id, never a global window), then one partial-agg groupBy over
    O(catalog^2) observed cells; the matrix is output-bounded, so at
    10^12 events only the transition scan scales, and it's one
    shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lag("ts", 1).over(w))
    ) >= 1800
    sess = (
        ev.select(
            "user_id", "ts", "event_id",
            ((F.col("event_id") * 13) % COVISIT_ITEMS).alias("item"),
        )
        .withColumn(
            "new_sess", F.coalesce(F.when(gap, F.lit(1)), F.lit(0))
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    trans = (
        sess.withColumn("next_item", F.lead("item", 1).over(w2))
        .filter(
            F.col("next_item").isNotNull()
            & (F.col("next_item") != F.col("item"))
        )
        .groupBy(
            F.col("item").alias("item_a"),
            F.col("next_item").alias("item_b"),
        )
        .agg(F.count("*").alias("n_covisits"))
    )
    return trans.repartition(1).sortWithinPartitions("item_a", "item_b")


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch + accuracy meta-eval
# ---------------------------------------------------------------------------

SKETCH_BUCKETS = 64  # sketch size; rank error is bounded by one bucket


def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch + its accuracy report — the streaming/
    partition-parallel answer to percentiles at 100 TB (the equi-width
    cousin of t-digest/KLL: per-partition bucket counts merge by
    ADDITION, so executors sketch independently and the driver merges
    O(SKETCH_BUCKETS) integers): estimate p50/p90/p99 of the lineitem
    price by within-bucket linear interpolation, then GRADE the
    estimate against the exact order statistic (second scan filtered
    to one bucket — the exact_quantile_refine pattern) and report the
    realized rank error next to its theoretical bound (the occupancy
    of the located bucket).  within_bound must be 1 for every
    quantile: the sketch's guarantee, made measurable.

    Scale shape: one map-side histogram aggregate (mergeable partials,
    O(B) rows), driver-side O(B) cumulation (tiny-stats policy), one
    bucket-filtered second scan per quantile (filter pushed to
    parquet), one 3-case count aggregate for realized ranks.  No
    global sort anywhere; the sketch itself is one reduce of 64
    ints."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    row = li.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    n = row["n"]
    if n == 0:
        return spark.createDataFrame(
            [],
            "q_pct int, n bigint, target_rank bigint, est_cents bigint, "
            "exact_cents bigint, rank_of_est bigint, rank_err bigint, "
            "bucket_n bigint, within_bound int",
        )
    lo, hi = int(row["lo"]), int(row["hi"])
    width = max((hi - lo) // SKETCH_BUCKETS + 1, 1)
    hist = {
        r["b"]: r["cnt"]
        for r in li.groupBy(
            F.expr(f"(cents - {lo}) div {width}").alias("b")
        ).agg(F.count("*").alias("cnt")).collect()
    }
    out = []
    for q_pct in (50, 90, 99):
        k = -(-q_pct * n // 100)  # ceil(q*n/100)
        cum = 0
        for b in sorted(hist):
            cnt = hist[b]
            if k <= cum + cnt:
                est = lo + b * width + ((k - cum) * width) // (cnt + 1)
                residual = k - cum
                blo, bhi = lo + b * width, lo + (b + 1) * width
                exact = (
                    li.filter(
                        (F.col("cents") >= blo) & (F.col("cents") < bhi)
                    )
                    .orderBy("cents")
                    .limit(residual)
                    .agg(F.max("cents"))
                    .first()[0]
                )
                out.append((q_pct, k, est, int(exact), cnt))
                break
            cum += cnt
    ranks = li.agg(
        *[
            F.sum((F.col("cents") <= est).cast("bigint")).alias(f"r{i}")
            for i, (_, _, est, _, _) in enumerate(out)
        ]
    ).first()
    rows = []
    for i, (q_pct, k, est, exact, cnt) in enumerate(out):
        r_est = int(ranks[f"r{i}"])
        err = abs(r_est - k)
        rows.append(
            (q_pct, n, k, est, exact, r_est, err, cnt, int(err <= cnt))
        )
    return (
        spark.createDataFrame(
            rows,
            "q_pct int, n bigint, target_rank bigint, est_cents bigint, "
            "exact_cents bigint, rank_of_est bigint, rank_err bigint, "
            "bucket_n bigint, within_bound int",
        )
        .repartition(1)
        .sortWithinPartitions("q_pct")
    )


# ---------------------------------------------------------------------------
# Salt-factor planner (how skew_salted_join's N is actually chosen)
# ---------------------------------------------------------------------------

SALT_TARGET_ROWS = 500  # rows-per-reducer budget for a keyed stage


def skew_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planning half of the manual-salting playbook — given a keyed
    stage's per-key row counts, derive the PER-KEY salt factor that
    bounds any single reducer at ``SALT_TARGET_ROWS``: salt_n =
    ceil(cnt / target) (1 = unsalted), projected_max = ceil(cnt /
    salt_n) = the post-salt straggler bound.  This is what turns
    heavy_hitters' diagnosis into a remediation config, and what a
    pipeline uses where AQE's skew-split can't reach (custom stateful
    aggregations, applyInPandas stages pinned to one partition per
    key).

    Scale shape: one partial-agg count per key (the stage's own
    shuffle), then pure map-side arithmetic over the O(keys) count
    table.  The plan table itself is broadcast back to tag the fact
    side with pmod(hash, salt_n)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cnts = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    t = SALT_TARGET_ROWS
    return (
        cnts.withColumn("salt_n", F.expr(f"(cnt + {t} - 1) div {t}"))
        .withColumn(
            "projected_max", F.expr("(cnt + salt_n - 1) div salt_n")
        )
        .withColumn("is_hot", (F.col("salt_n") > 1).cast("int"))
        .repartition(1)
        .sortWithinPartitions("key")
    )


# ---------------------------------------------------------------------------
# Brier score decomposition (forecast-quality triptych)
# ---------------------------------------------------------------------------

BRIER_BINS = 10


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy, J. Appl.
    Meteorology 1973): BS = Reliability − Resolution + Uncertainty —
    the standard diagnosis of a probabilistic scorer BEFORE it gates a
    corpus: Reliability says the probabilities are honest (calibration;
    what isotonic_calibration fixes), Resolution says they actually
    separate outcomes (what AUC measures rank-wise), Uncertainty is
    the outcome base rate's intrinsic floor.  Forecast = the event
    value's cent fraction as p in [0, 1); outcome = purchase.

    Exactness: per-bin aggregates are integers; each decomposition
    term is rounded half-away to ppm PER BIN (the entropy_rate
    convention — both engines round identically), and the directly
    computed Brier is exact; ``identity_gap_ppm`` carries the few-ppm
    per-bin rounding residue, pinning the identity numerically.

    Scale shape: one groupBy over BRIER_BINS bins (map-side partials),
    one scalar aggregate for the direct BS, O(bins) driver arithmetic
    (tiny-stats policy).  The oracle replays the arithmetic in
    hugeint."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.expr("cast(round(value * 100) as bigint) % 100").alias("c"),
        F.expr(
            "case when event_type = 'purchase' then 1 else 0 end"
        ).alias("o"),
    )
    bins = (
        base.withColumn("b", F.expr(f"c div {100 // BRIER_BINS}"))
        .groupBy("b")
        .agg(
            F.count("*").alias("n_k"),
            F.sum("c").alias("s_k"),
            F.sum("o").alias("o_k"),
        )
        .collect()
    )
    if not bins:
        return spark.createDataFrame(
            [],
            "n bigint, n_pos bigint, brier_ppm bigint, "
            "reliability_ppm bigint, resolution_ppm bigint, "
            "uncertainty_ppm bigint, identity_gap_ppm bigint",
        )
    direct = base.agg(
        F.sum(F.expr("(c - 100 * o) * (c - 100 * o)")).alias("sq")
    ).first()["sq"]
    N = sum(r["n_k"] for r in bins)
    O = sum(r["o_k"] for r in bins)

    def hd(num: int, den: int) -> int:
        return (2 * num * 1_000_000 + den) // (2 * den)

    rel = sum(
        hd((r["s_k"] - 100 * r["o_k"]) ** 2, 10_000 * N * r["n_k"])
        for r in bins
    )
    res = sum(
        hd((r["o_k"] * N - O * r["n_k"]) ** 2, r["n_k"] * N ** 3)
        for r in bins
    )
    unc = hd(O * (N - O), N * N)
    bs = hd(int(direct), 10_000 * N)
    gap = bs - (rel - res + unc)
    return (
        spark.createDataFrame(
            [(N, O, bs, rel, res, unc, gap)],
            "n bigint, n_pos bigint, brier_ppm bigint, "
            "reliability_ppm bigint, resolution_ppm bigint, "
            "uncertainty_ppm bigint, identity_gap_ppm bigint",
        )
        .repartition(1)
        .sortWithinPartitions("n")
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified sample allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a fixed sampling budget across
    strata (Neyman, JRSS 1934): n_h ∝ N_h·σ_h — the way a data-quality
    team sizes per-slice eval samples so the pooled estimate's variance
    is minimal at fixed labeling cost.  Strata = event_type; the
    weight N_h·σ_h is computed EXACTLY as isqrt(N_h·Σx² − (Σx)²)
    (the integer identity N_h²·Var = N_h·Σx² − (Σx)²; Python
    math.isqrt on the driver, the ±1-corrected floor-sqrt in the
    oracle), and the integer budget is distributed by largest
    remainder (ties → stratum name) so allocations sum exactly to
    NEYMAN_BUDGET.

    Scale shape: one partial-agg groupBy (count/sum/sum-of-squares per
    stratum), O(strata) driver arithmetic — tiny-stats policy; int64
    holds to ~10^9 rows×(5e4 cents)² per stratum, beyond that the sums
    widen to decimal(38,0)."""
    import math

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = (
        ev.select(
            "event_type",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_h"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("ss"),
        )
        .collect()
    )
    if not rows:
        return spark.createDataFrame(
            [], "event_type string, n_h bigint, weight bigint, alloc bigint"
        )
    stats = []
    for r in rows:
        wt = math.isqrt(max(int(r["n_h"]) * int(r["ss"]) - int(r["s"]) ** 2, 0))
        stats.append((r["event_type"], int(r["n_h"]), wt))
    W = sum(w for _, _, w in stats)
    if W == 0:
        out = [(t, n, 0, 0) for t, n, _ in stats]
    else:
        base = [
            (t, n, w, (NEYMAN_BUDGET * w) // W, (NEYMAN_BUDGET * w) % W)
            for t, n, w in stats
        ]
        leftover = NEYMAN_BUDGET - sum(b for _, _, _, b, _ in base)
        order = sorted(base, key=lambda x: (-x[4], x[0]))
        bump = {t for t, _, _, _, _ in order[:leftover]}
        out = [
            (t, n, w, b + (1 if t in bump else 0))
            for t, n, w, b, _ in base
        ]
    return (
        spark.createDataFrame(
            out, "event_type string, n_h bigint, weight bigint, alloc bigint"
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# CUPED-adjusted experiment readout (variance-reduced A/B metric)
# ---------------------------------------------------------------------------

CUPED_SPLIT = "2024-01-16"  # pre-period before, experiment period after


def cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013): each user's experiment-period value y is
    adjusted by their PRE-period value x — ŷ = y − θ·(x − x̄) with
    θ = cov(x,y)/var(x) — which removes the between-user variance that
    x predicts and shrinks confidence intervals at no assignment cost.
    Arms are a deterministic user_id hash split.

    Exact integer protocol (both engines replay it bit-for-bit):
    per-user pre/post cent sums; θ in half-away ppm from the integer
    cov/var cross-products (sign-decomposed division); the per-user
    adjustment computed at scale n·1e6 so x̄ = Σx/n never becomes a
    rounded intermediate: adj_i = n·y_i·1e6 − θ_ppm·(n·x_i − Σx);
    per-arm means divide ONCE at the end (half-away).  Outputs per
    arm: users, raw mean, adjusted mean (micro-cents), plus the
    variance-reduction diagnostic 1 − corr² as ppm.

    Scale shape: one scan -> per-user conditional-sum groupBy
    (map-side partials), one O(1) global-moments aggregate (driver
    scalars), one per-arm aggregate with θ as a plan literal — the
    standard two-pass experiment pipeline; nothing global beyond the
    tiny moments."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
            (F.col("ts") < F.lit(CUPED_SPLIT).cast("timestamp")).alias(
                "pre"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("c")).otherwise(0)).alias("x"),
            F.sum(F.when(~F.col("pre"), F.col("c")).otherwise(0)).alias("y"),
        )
        .withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)).cast("int"))
    )
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).first()
    n = int(g["n"])
    if n == 0:
        return spark.createDataFrame(
            [],
            "arm int, n_users bigint, raw_mean_micro bigint, "
            "adj_mean_micro bigint, theta_ppm bigint, var_reduction_ppm bigint",
        )
    sx, sy = int(g["sx"]), int(g["sy"])
    cov_n = n * int(g["sxy"]) - sx * sy
    var_n = n * int(g["sxx"]) - sx * sx
    vy_n = n * int(g["syy"]) - sy * sy

    def sdiv_half(num: int, den: int) -> int:
        if den == 0:
            return 0
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num * 1_000_000 + den) // (2 * den))

    theta_ppm = sdiv_half(cov_n, var_n)
    # variance reduction = corr^2 = cov^2 / (var_x var_y), in ppm
    var_red_ppm = (
        0
        if var_n == 0 or vy_n == 0
        else (2 * cov_n * cov_n * 1_000_000 + var_n * vy_n)
        // (2 * var_n * vy_n)
    )
    # the scaled adjustment sum can exceed int64 at large n x value —
    # accumulate in decimal(38,0) and finish the (two-row) division in
    # exact Python ints (tiny-stats policy)
    adj = (
        F.lit(n).cast("decimal(38,0)") * F.col("y") * F.lit(1_000_000)
        - F.lit(theta_ppm).cast("decimal(38,0)")
        * (F.lit(n).cast("decimal(38,0)") * F.col("x") - F.lit(sx))
    )
    arms = (
        per_user.groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("y").alias("ys"),
            F.sum(adj).alias("adjs"),
        )
        .collect()
    )

    def half(num: int, den: int) -> int:
        if num >= 0:
            return (2 * num + den) // (2 * den)
        return -((2 * -num + den) // (2 * den))

    out = []
    for r in arms:
        nu = int(r["n_users"])
        raw = half(int(r["ys"]) * 1_000_000, nu)
        adj_mean = half(int(r["adjs"]), nu * n)
        out.append((int(r["arm"]), nu, raw, adj_mean, theta_ppm,
                    int(var_red_ppm)))
    return (
        spark.createDataFrame(
            out,
            "arm int, n_users bigint, raw_mean_micro bigint, "
            "adj_mean_micro bigint, theta_ppm bigint, "
            "var_reduction_ppm bigint",
        )
        .repartition(1)
        .sortWithinPartitions("arm")
    )


def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard (Fabijan et al., "Diagnosing Sample
    Ratio Mismatch in Online Controlled Experiments", KDD 2019) — the
    first validity check on any A/B readout: with a 50/50 assignment
    (the same user_id hash split cuped_adjusted_metric uses), the
    two-cell chi-square statistic reduces exactly to (a−b)²/n; alarm
    at the df=1, α=0.05 critical value 3.841.  A triggered SRM means
    the assignment or logging pipeline is broken and every downstream
    metric is invalid — which is why this ships next to the metric, not
    after it.

    Exactness: chi² in half-away milli; the ALARM uses the exact
    integer cross-comparison 1000·(a−b)² > 3841·n (no rounded
    intermediate at the decision boundary).  One distinct-user
    aggregate, O(1) output."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = ev.select("user_id").distinct().select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    )
    row = users.agg(
        F.sum(F.expr("case when arm = 0 then 1 else 0 end")).alias("a"),
        F.sum(F.expr("case when arm = 1 then 1 else 0 end")).alias("b"),
    ).first()
    if row["a"] is None:
        return spark.createDataFrame(
            [],
            "n_users bigint, arm0 bigint, arm1 bigint, chi2_milli bigint, "
            "srm_alarm int",
        )
    a, b = int(row["a"]), int(row["b"])
    n = a + b
    d2 = (a - b) * (a - b)
    chi2_milli = (2 * d2 * 1000 + n) // (2 * n)
    alarm = int(1000 * d2 > 3841 * n)
    return (
        spark.createDataFrame(
            [(n, a, b, chi2_milli, alarm)],
            "n_users bigint, arm0 bigint, arm1 bigint, chi2_milli bigint, "
            "srm_alarm int",
        )
        .repartition(1)
        .sortWithinPartitions("n_users")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (one-pass bootstrap at scale)
# ---------------------------------------------------------------------------

BOOT_B = 32  # bootstrap replicas
# Poisson(1) CDF in ppm: P(W <= k) for k = 0..6 — weights cap at 7
_POIS1_CDF_PPM = (367_879, 735_759, 919_699, 981_012, 996_340,
                  999_406, 999_917)


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap for the per-user value mean (Chamandy, Muralidharan,
    Najmi & Naidu, "Estimating Uncertainty for Massive Data Streams",
    Google research report 2012): instead of resampling users (a
    shuffle per replica), every user carries BOOT_B independent
    Poisson(1) weights derived from a hash — ONE pass computes all
    replica sums, which is the only bootstrap that works on 10^12
    rows.  The replica weight is the count of Poisson-CDF thresholds
    at or below the user-replica hash ppm (exact integer inverse-CDF,
    identical literals in both engines), replica means are half-away
    micro-cents, and the CI half-width is 1.96x the sample std of the
    replica means (floor-div-then-corrected-isqrt protocol, exact in
    both engines).

    Scale shape: one per-user partial-agg groupBy, a constant BOOT_B
    explode (map-side), one B-row aggregate; driver math is O(B) —
    tiny-stats policy."""
    import math

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pu = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("user_id")
        .agg(F.sum("c").alias("y"))
    )
    g = pu.agg(F.count("*").alias("n"), F.sum("y").alias("sy")).first()
    n = int(g["n"]) if g["n"] is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [],
            "n_users bigint, b_replicas int, point_mean_micro bigint, "
            "boot_std_micro bigint, ci95_halfwidth_micro bigint",
        )
    reps = pu.select(
        "user_id",
        "y",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_B - 1))
        ).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("user_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    w = sum(
        (u >= F.lit(t)).cast("bigint") for t in _POIS1_CDF_PPM
    )
    rows = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("s"),
            F.sum("w").alias("wsum"),
        )
        .collect()
    )

    def half(num: int, den: int) -> int:
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num * 1 + den) // (2 * den))

    means = [
        half(1_000_000 * int(r["s"]), int(r["wsum"]))
        for r in rows
        if int(r["wsum"]) > 0
    ]
    B = len(means)
    M = sum(means)
    var_num = B * sum(m * m for m in means) - M * M
    samp_var = max(var_num, 0) // (B * (B - 1)) if B > 1 else 0
    std = math.isqrt(samp_var)
    ci95 = (196 * std + 50) // 100
    point = half(1_000_000 * int(g["sy"]), n)
    return (
        spark.createDataFrame(
            [(n, B, point, std, ci95)],
            "n_users bigint, b_replicas int, point_mean_micro bigint, "
            "boot_std_micro bigint, ci95_halfwidth_micro bigint",
        )
        .repartition(1)
        .sortWithinPartitions("n_users")
    )


def diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (Card & Krueger, AER 1994 —
    the classic quasi-experimental estimator): with the same user-hash
    arms and pre/post split as cuped_adjusted_metric, the treatment
    effect estimate is (ȳ₁ − x̄₁) − (ȳ₀ − x̄₀) — each arm is its own
    control across time, so any shared temporal shock cancels.  The
    parallel-trends numbers a reviewer needs (all four cell means)
    ship alongside the estimate.

    Exactness: per-arm integer sums; every mean and the DiD itself is
    ONE half-away sign-decomposed division of exact cross-multiplied
    integers (micro-cents) — no rounded intermediates.

    Scale shape: one scan -> per-user conditional sums -> one 2-row
    arm aggregate; O(1) driver arithmetic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
            (F.col("ts") < F.lit(CUPED_SPLIT).cast("timestamp")).alias(
                "pre"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("c")).otherwise(0)).alias("x"),
            F.sum(F.when(~F.col("pre"), F.col("c")).otherwise(0)).alias("y"),
        )
        .withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)).cast("int"))
    )
    rows = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    ).collect()
    if not rows:
        return spark.createDataFrame(
            [],
            "n_control bigint, n_treat bigint, pre_control_micro bigint, "
            "post_control_micro bigint, pre_treat_micro bigint, "
            "post_treat_micro bigint, did_micro bigint",
        )
    by = {int(r["arm"]): r for r in rows}

    def half(num: int, den: int) -> int:
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num + den) // (2 * den))

    n0 = int(by[0]["n"]) if 0 in by else 0
    n1 = int(by[1]["n"]) if 1 in by else 0
    sx0 = int(by[0]["sx"]) if 0 in by else 0
    sy0 = int(by[0]["sy"]) if 0 in by else 0
    sx1 = int(by[1]["sx"]) if 1 in by else 0
    sy1 = int(by[1]["sy"]) if 1 in by else 0
    if n0 == 0 or n1 == 0:
        did = 0
    else:
        did = half(
            ((sy1 - sx1) * n0 - (sy0 - sx0) * n1) * 1_000_000, n1 * n0
        )
    cell = lambda s, n: half(s * 1_000_000, n) if n else 0  # noqa: E731
    return (
        spark.createDataFrame(
            [(n0, n1, cell(sx0, n0), cell(sy0, n0), cell(sx1, n1),
              cell(sy1, n1), did)],
            "n_control bigint, n_treat bigint, pre_control_micro bigint, "
            "post_control_micro bigint, pre_treat_micro bigint, "
            "post_treat_micro bigint, did_micro bigint",
        )
        .repartition(1)
        .sortWithinPartitions("n_control")
    )


def ab_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal detectable effect at 80% power / two-sided 5% α for the
    per-user value metric under a 50/50 split — the pre-experiment
    sizing readout (vs CUPED/DiD's post-readouts): MDE =
    (z_{α/2} + z_β)·σ·√(2/n) with the standard constants 1.9600 +
    0.8416 = 2.8016 as exact integer basis points.

    Integer protocol: variance numerator var_n = n·Σy² − (Σy)²
    (cents²); the radicand 2·var_n·10¹² div n³ is floor-divided in big
    ints BEFORE the corrected isqrt (micro-cents out), and the z-sum
    multiplies as (28016·s + 5000) div 10000 — both engines replay
    each step bit-for-bit.  relative_mde_ppm = MDE / mean in half-away
    ppm is the number experiment owners actually quote ("we can detect
    a 2.3% move").

    Scale shape: one per-user groupBy + one O(1) moments aggregate;
    driver arithmetic (tiny-stats policy)."""
    import math

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pu = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("user_id")
        .agg(F.sum("c").alias("y"))
    )
    g = pu.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).first()
    n = int(g["n"]) if g["n"] is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [],
            "n_users bigint, mean_micro bigint, sigma_micro bigint, "
            "mde_micro bigint, relative_mde_ppm bigint",
        )
    sy, syy = int(g["sy"]), int(g["syy"])
    var_n = max(n * syy - sy * sy, 0)
    sigma = math.isqrt((var_n * 10**12) // (n * n))
    radicand = (2 * var_n * 10**12) // (n ** 3)
    s = math.isqrt(radicand)
    mde = (28016 * s + 5000) // 10000
    mean = (2 * sy * 1_000_000 + n) // (2 * n)
    rel = 0 if mean == 0 else (2 * mde * 1_000_000 + mean) // (2 * mean)
    return (
        spark.createDataFrame(
            [(n, mean, sigma, mde, rel)],
            "n_users bigint, mean_micro bigint, sigma_micro bigint, "
            "mde_micro bigint, relative_mde_ppm bigint",
        )
        .repartition(1)
        .sortWithinPartitions("n_users")
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level+trend) with 7-day forecast
# ---------------------------------------------------------------------------

HW_ALPHA_NUM, HW_BETA_NUM, HW_DEN = 3, 1, 10  # alpha=0.3, beta=0.1
HW_HORIZON = 7


def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957 /
    Winters 1960 — the level+trend half, no seasonal term since
    weekday_seasonality covers that axis) over the daily event-value
    series, plus the h-step forecast l_T + h·t_T for the next
    HW_HORIZON days — the lightweight capacity-planning forecast that
    runs nightly next to the drift monitors.

    Exact integer recurrence in milli-cents with α=3/10, β=1/10:
      l_d = shalf(3·r_d·1000 + 7·(l_{d-1} + t_{d-1}), 10)
      t_d = shalf((l_d − l_{d-1}) + 9·t_{d-1}, 10)
    where shalf is sign-decomposed half-away division — every step is
    rounded identically in both engines, so the whole trajectory is
    bit-equal (the oracle replays it as a recursive CTE).  The series
    is CALENDAR-bounded (one row per observed day), so the sequential
    recurrence is driver-side tiny state — the same argument as the
    k-means sums; the heavy work (daily aggregation) is one map-side
    groupBy."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_day = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("r"))
        .collect()
    )
    if not per_day:
        return spark.createDataFrame(
            [],
            "day date, revenue_cents bigint, level_milli bigint, "
            "trend_milli bigint, is_forecast int",
        )

    def shalf(num: int, den: int) -> int:
        if num >= 0:
            return (2 * num + den) // (2 * den)
        return -((2 * -num + den) // (2 * den))

    series = sorted((r["day"], int(r["r"])) for r in per_day)
    a, b, den = HW_ALPHA_NUM, HW_BETA_NUM, HW_DEN
    rows = []
    l = series[0][1] * 1000
    t = 0
    rows.append((series[0][0], series[0][1], l, t, 0))
    for day, r in series[1:]:
        l_prev, t_prev = l, t
        l = shalf(a * r * 1000 + (den - a) * (l_prev + t_prev), den)
        t = shalf(b * (l - l_prev) + (den - b) * t_prev, den)
        rows.append((day, r, l, t, 0))
    from datetime import timedelta

    last_day = series[-1][0]
    for h in range(1, HW_HORIZON + 1):
        rows.append((last_day + timedelta(days=h), 0, l + h * t, t, 1))
    return (
        spark.createDataFrame(
            rows,
            "day date, revenue_cents bigint, level_milli bigint, "
            "trend_milli bigint, is_forecast int",
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )


WINSOR_LO_PCT, WINSOR_HI_PCT = 1, 99


def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized metric readout (Tukey's robust mean — the standard
    guard against whale users dominating an experiment metric): clamp
    per-user value sums at the exact P1/P99 order statistics, then
    average.  Reports raw vs winsorized mean and how many users were
    clamped on each side — the numbers that justify (or veto) the
    transformation.

    Exactness: the cut points are EXACT order statistics at ranks
    ceil(p·n/100) located via ``bucketed_global_rank`` (two-pass grid
    rank — no single-partition sort), means are one half-away ppm
    division.

    Scale shape: one per-user groupBy, one two-pass rank (shuffles on
    the grid bucket), two rank-filter lookups (tiny), one clamped
    aggregate with the cut points as plan literals."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pu = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("user_id")
        .agg(F.sum("c").alias("y"))
    )
    n = pu.count()
    if n == 0:
        return spark.createDataFrame(
            [],
            "n_users bigint, lo_cut_cents bigint, hi_cut_cents bigint, "
            "n_clamped_lo bigint, n_clamped_hi bigint, "
            "raw_mean_micro bigint, winsorized_mean_micro bigint",
        )
    ranked = bucketed_global_rank(pu, "y", "user_id")
    k_lo = -(-WINSOR_LO_PCT * n // 100)
    k_hi = -(-WINSOR_HI_PCT * n // 100)
    lo = int(ranked.filter(F.col("rk") == k_lo).first()["y"])
    hi = int(ranked.filter(F.col("rk") == k_hi).first()["y"])
    agg = pu.agg(
        F.sum("y").alias("sy"),
        F.sum(
            F.greatest(F.least(F.col("y"), F.lit(hi)), F.lit(lo))
        ).alias("sw"),
        F.sum((F.col("y") < lo).cast("bigint")).alias("nlo"),
        F.sum((F.col("y") > hi).cast("bigint")).alias("nhi"),
    ).first()

    def half(num: int, den: int) -> int:
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num + den) // (2 * den))

    return (
        spark.createDataFrame(
            [(
                n, lo, hi, int(agg["nlo"]), int(agg["nhi"]),
                half(int(agg["sy"]) * 1_000_000, n),
                half(int(agg["sw"]) * 1_000_000, n),
            )],
            "n_users bigint, lo_cut_cents bigint, hi_cut_cents bigint, "
            "n_clamped_lo bigint, n_clamped_hi bigint, "
            "raw_mean_micro bigint, winsorized_mean_micro bigint",
        )
        .repartition(1)
        .sortWithinPartitions("n_users")
    )


def ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity off-policy evaluation (Horvitz-Thompson /
    Li et al., WSDM 2011's unbiased offline evaluator) — how a ranking
    or recommendation change is scored BEFORE an A/B test: the logging
    policy chose one of 3 actions uniformly (propensity exactly 1/3,
    derived from event_id), reward = purchase; a candidate policy π is
    scored from the same logs by V̂(π) = (1/n)·Σ 1[π(x)=a]·r/(1/3) —
    matches only, reweighted by the known propensity.  Two candidates
    ship: a personalized rule (user hash) and a constant action,
    next to the logged policy's own mean reward.  Exact integers
    throughout (the 1/3 propensity cancels to a ×3), half-away ppm.

    Scale shape: one scan, three conditional aggregates — map-side
    partials only; the effective-sample-size diagnostic (match count)
    is what flags a high-variance estimate before anyone trusts it."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        (F.col("event_id") % 3).alias("a"),
        (F.col("user_id") % 3).alias("pi1"),
        F.expr(
            "case when event_type = 'purchase' then 1 else 0 end"
        ).alias("r"),
    )
    g = base.agg(
        F.count("*").alias("n"),
        F.sum("r").alias("sr"),
        F.sum((F.col("pi1") == F.col("a")).cast("bigint")).alias("m1"),
        F.sum(
            F.when(F.col("pi1") == F.col("a"), F.col("r")).otherwise(0)
        ).alias("mr1"),
        F.sum((F.col("a") == 0).cast("bigint")).alias("m2"),
        F.sum(F.when(F.col("a") == 0, F.col("r")).otherwise(0)).alias(
            "mr2"
        ),
    ).first()
    n = int(g["n"]) if g["n"] is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [],
            "policy string, n bigint, matched bigint, reward_sum bigint, "
            "est_reward_ppm bigint",
        )

    def ppm(num: int, den: int) -> int:
        return (2 * num * 1_000_000 + den) // (2 * den)

    rows = [
        ("0_logged", n, n, int(g["sr"]), ppm(int(g["sr"]), n)),
        ("1_personalized", n, int(g["m1"]), int(g["mr1"]),
         ppm(3 * int(g["mr1"]), n)),
        ("2_constant_a0", n, int(g["m2"]), int(g["mr2"]),
         ppm(3 * int(g["mr2"]), n)),
    ]
    return (
        spark.createDataFrame(
            rows,
            "policy string, n bigint, matched bigint, reward_sum bigint, "
            "est_reward_ppm bigint",
        )
        .repartition(1)
        .sortWithinPartitions("policy")
    )


def doubly_robust_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation (Dudík, Langford & Li,
    ICML 2011) — the estimator that fixes IPS's variance AND the
    direct method's bias: V̂_DR(π) = (1/n)·Σ [ q̂(π(x)) + 1[π(x)=a] ·
    (r − q̂(a)) / p(a) ], with the direct model q̂ = the logged
    per-action mean reward and p = 1/3 uniform logging
    (ips_offline_eval's setup).  Unbiased if EITHER the model or the
    propensities are right.

    Exactness: q̂_a are exact rationals mra/na; every sum collapses to
    closed form over ≤12 integer aggregates, the whole estimate is
    assembled as ONE exact fraction over n·na0·na1·na2 (Python big
    ints; hugeint in the oracle) and divided once, half-away ppm.

    Scale shape: a single scan, one 12-term conditional aggregate —
    map-side partials, O(1) driver arithmetic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        (F.col("event_id") % 3).alias("a"),
        (F.col("user_id") % 3).alias("pi1"),
        F.expr(
            "case when event_type = 'purchase' then 1 else 0 end"
        ).alias("r"),
    )
    aggs = [F.count("*").alias("n")]
    for k in range(3):
        aggs += [
            F.sum((F.col("a") == k).cast("bigint")).alias(f"na{k}"),
            F.sum(
                F.when(F.col("a") == k, F.col("r")).otherwise(0)
            ).alias(f"mra{k}"),
            F.sum((F.col("pi1") == k).cast("bigint")).alias(f"np{k}"),
        ]
    aggs += [
        F.sum(
            F.when(F.col("pi1") == F.col("a"), F.col("r")).otherwise(0)
        ).alias("mr_match"),
        F.sum((F.col("pi1") == F.col("a")).cast("bigint")).alias(
            "n_match"
        ),
    ]
    g = base.agg(*aggs).first()
    n = int(g["n"]) if g["n"] is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [],
            "policy string, n bigint, dm_ppm bigint, ips_ppm bigint, "
            "dr_ppm bigint",
        )
    na = [max(int(g[f"na{k}"]), 1) for k in range(3)]
    mra = [int(g[f"mra{k}"]) for k in range(3)]
    np_ = [int(g[f"np{k}"]) for k in range(3)]
    # match counts per action equal na_k restricted to pi1=a... need
    # per-action match aggregates for the correction's model part:
    g2 = base.where(F.col("pi1") == F.col("a")).groupBy("a").agg(
        F.count("*").alias("m")
    ).collect()
    m_match = {int(r["a"]): int(r["m"]) for r in g2}
    D = na[0] * na[1] * na[2]

    def other(k):
        return D // na[k]

    def ppm(num: int, den: int) -> int:
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num * 1_000_000 + den) // (2 * den))

    # direct model: Σ_k np_k * q_k over n  -> num/ (n*D)
    dm_num = sum(np_[k] * mra[k] * other(k) for k in range(3))
    dm = ppm(dm_num, n * D)
    ips = ppm(3 * int(g["mr_match"]), n)
    # correction: 3 * (mr_match - Σ_k m_match_k * q_k) / n
    corr_num = 3 * (
        int(g["mr_match"]) * D
        - sum(m_match.get(k, 0) * mra[k] * other(k) for k in range(3))
    )
    dr = ppm(dm_num + corr_num, n * D)
    return (
        spark.createDataFrame(
            [("personalized", n, dm, ips, dr)],
            "policy string, n bigint, dm_ppm bigint, ips_ppm bigint, "
            "dr_ppm bigint",
        )
        .repartition(1)
        .sortWithinPartitions("policy")
    )


def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (Doksum, Ann. Statist. 1974 — the
    distributional readout means hide): the P25/P50/P75 of the
    per-user value in EACH arm (the cuped/srm hash split) and their
    differences — an experiment that only moves the tail shows up
    here and nowhere in the mean.

    Exactness: per-arm EXACT order statistics at ceil(q·n_arm/100)
    ranks — each arm ranked by its own ``bucketed_global_rank``
    two-pass grid (scale-safe; a window partitioned by the TWO-value
    arm key would be two corpus-sized partitions, exactly the shape
    the repo convention forbids).

    Scale shape: one per-user groupBy, two independent two-pass ranks
    (one per arm), six rank-filter lookups — all keyed shuffles."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pu = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("user_id")
        .agg(F.sum("c").alias("y"))
        .withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)).cast("int"))
    )
    out = []
    vals: dict[tuple[int, int], int] = {}
    ns = {}
    for arm in (0, 1):
        part = pu.filter(F.col("arm") == arm).select("user_id", "y")
        n_a = part.count()
        ns[arm] = n_a
        if n_a == 0:
            continue
        ranked = bucketed_global_rank(part, "y", "user_id")
        for q in (25, 50, 75):
            k = (q * n_a + 99) // 100
            vals[(arm, q)] = int(
                ranked.filter(F.col("rk") == k).first()["y"]
            )
    if not vals:
        return spark.createDataFrame(
            [],
            "q_pct int, n_control bigint, n_treat bigint, "
            "control_cents bigint, treat_cents bigint, qte_cents bigint",
        )
    for q in (25, 50, 75):
        v0 = vals.get((0, q), 0)
        v1 = vals.get((1, q), 0)
        out.append((q, ns.get(0, 0), ns.get(1, 0), v0, v1, v1 - v0))
    return (
        spark.createDataFrame(
            out,
            "q_pct int, n_control bigint, n_treat bigint, "
            "control_cents bigint, treat_cents bigint, qte_cents bigint",
        )
        .repartition(1)
        .sortWithinPartitions("q_pct")
    )


def stratified_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level sample-ratio mismatch — the follow-up the KDD'19
    SRM paper prescribes when the GLOBAL check passes but a logging
    bug hides inside one segment (one platform drops control events,
    another drops treatment, the totals balance): the two-cell
    chi-square per event-type segment, each against the
    Bonferroni-corrected critical value for k segments.  The corrected
    threshold for alpha/k is looked up from fixed df=1 chi-square
    milli constants (k = 1..8: 3841, 5024, 5731, 6239, 6635, 6960,
    7237, 7477 — Bonferroni at 5%), an exact integer comparison like
    srm_check's.

    Scale shape: one distinct (user, type) projection, one groupBy per
    segment, O(segments) arithmetic — map-side partials only."""
    crit_milli = {1: 3841, 2: 5024, 3: 5731, 4: 6239, 5: 6635,
                  6: 6960, 7: 7237, 8: 7477}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    seg = (
        ev.select(
            "event_type",
            "user_id",
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
        )
        .distinct()
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("case when arm = 0 then 1 else 0 end")).alias("a"),
            F.sum(F.expr("case when arm = 1 then 1 else 0 end")).alias("b"),
        )
        .collect()
    )
    if not seg:
        return spark.createDataFrame(
            [],
            "event_type string, arm0 bigint, arm1 bigint, "
            "chi2_milli bigint, crit_milli bigint, srm_alarm int",
        )
    k = len(seg)
    crit = crit_milli.get(k, crit_milli[8])
    rows = []
    for r in seg:
        a, b = int(r["a"]), int(r["b"])
        n = a + b
        d2 = (a - b) * (a - b)
        chi = (2 * d2 * 1000 + n) // (2 * n) if n else 0
        alarm = int(n > 0 and 1000 * d2 > crit * n)
        rows.append((r["event_type"], a, b, chi, crit, alarm))
    return (
        spark.createDataFrame(
            rows,
            "event_type string, arm0 bigint, arm1 bigint, "
            "chi2_milli bigint, crit_milli bigint, srm_alarm int",
        )
        .repartition(1)
        .sortWithinPartitions("event_type")
    )


def metric_sensitivity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The variance-reduction decision table — raw vs winsorized vs
    CUPED, each method's user-level variance relative to raw in ppm
    (variance ratio = squared MDE ratio, so 800000 ppm means a ~10%
    cheaper experiment): the one readout that tells an experiment
    owner WHICH transformation to adopt before sizing (Kohavi et al.,
    "Trustworthy Online Controlled Experiments", ch. 22's sensitivity
    ladder).

    Exactness: every variance is the integer numerator n·Σv² − (Σv)²
    on its own scale; CUPED residuals are compared on the common
    (n·10⁶)² raw-equivalent scale so the ratio is scale-free; ratios
    are one half-away ppm division of exact big integers (hugeint in
    the oracle).  Winsorization reuses the P1/P99 exact order stats.

    Scale shape: one per-user groupBy, one two-pass rank for the
    cuts, two O(1) moment aggregates — map-side partials, tiny-stats
    driver arithmetic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pu = (
        ev.select(
            "user_id",
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
            (F.col("ts") < F.lit(CUPED_SPLIT).cast("timestamp")).alias(
                "pre"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("pre"), F.col("c")).otherwise(0)).alias("x"),
            F.sum(F.when(~F.col("pre"), F.col("c")).otherwise(0)).alias("y"),
        )
    )
    n = pu.count()
    if n == 0:
        return spark.createDataFrame(
            [], "method string, relative_var_ppm bigint"
        )
    ranked = bucketed_global_rank(pu.select(
        F.col("user_id"), F.col("y")
    ), "y", "user_id")
    k_lo = (WINSOR_LO_PCT * n + 99) // 100
    k_hi = (WINSOR_HI_PCT * n + 99) // 100
    lo = int(ranked.filter(F.col("rk") == k_lo).first()["y"])
    hi = int(ranked.filter(F.col("rk") == k_hi).first()["y"])
    w = F.greatest(F.least(F.col("y"), F.lit(hi)), F.lit(lo))
    g = pu.agg(
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(w).alias("sw"),
        F.sum(w * w).alias("sww"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).first()
    sy, syy = int(g["sy"]), int(g["syy"])
    sw, sww = int(g["sw"]), int(g["sww"])
    sx, sxx, sxy = int(g["sx"]), int(g["sxx"]), int(g["sxy"])
    var_raw = max(n * syy - sy * sy, 0)
    var_win = max(n * sww - sw * sw, 0)
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx

    def sppm(num: int, den: int) -> int:
        if den == 0:
            return 0
        s = -1 if (num < 0) != (den < 0) else 1
        num, den = abs(num), abs(den)
        return s * ((2 * num * 1_000_000 + den) // (2 * den))

    theta_ppm = sppm(cov_n, var_x)
    # adj_i = n*y_i*1e6 - theta*(n*x_i - sx); exact closed forms:
    # Σ(n·x_i − sx) = 0, Σ y_i(n·x_i − sx) = cov_n,
    # Σ(n·x_i − sx)² = n·var_x — so the adj moments need no extra scan
    adj_sum = n * sy * 1_000_000
    sum_adj_sq = (
        n ** 2 * syy * 10 ** 12
        - 2 * n * 1_000_000 * theta_ppm * cov_n
        + theta_ppm ** 2 * n * var_x
    )
    var_adj = max(n * sum_adj_sq - adj_sum * adj_sum, 0)
    den_adj = var_raw * (n * 1_000_000) ** 2
    # reduction protocol: the cuped ratio's operands can exceed the
    # oracle's hugeint once multiplied by 2e6 — floor-shrink BOTH by
    # the same factor first (identical in both engines; the ppm
    # rounding dominates the shrink's sub-ppm error)
    rs = den_adj // 10 ** 30 + 1
    rows = [
        ("1_raw", 1_000_000),
        ("2_winsorized",
         sppm(var_win, var_raw) if var_raw else 0),
        ("3_cuped",
         sppm(var_adj // rs, den_adj // rs) if den_adj // rs else 0),
    ]
    return (
        spark.createDataFrame(
            rows, "method string, relative_var_ppm bigint"
        )
        .repartition(1)
        .sortWithinPartitions("method")
    )


# ---------------------------------------------------------------------------
# Always-valid sequential testing (SPRT / e-process on daily signs)
# ---------------------------------------------------------------------------

# Wald SPRT design for the daily-sign Bernoulli test: H0 p=1/2 (no
# effect => treatment beats control on any day by a fair coin) vs
# H1 p=3/4, alpha=0.05, beta=0.2.  LR_t = 3^wins / 2^t, so both
# boundary comparisons are EXACT bigint cross-multiplications:
#   reject H0:  3^w         >= 16 * 2^t     (A = (1-beta)/alpha = 16)
#   accept H0:  19 * 3^w    <=  4 * 2^t     (B = beta/(1-alpha) = 4/19)
SPRT_REJECT_NUM = 16  # A as an integer
SPRT_ACCEPT_NUM = 4  # B numerator
SPRT_ACCEPT_DEN = 19  # B denominator
SPRT_MAX_DAYS = 33  # longest exact horizon: 3^33 < 2^53 < 3^34


def sequential_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring — the missing piece next
    to the fixed-horizon readouts (srm/CUPED/DiD/QTE/DR): a Wald SPRT
    (Wald, Ann. Math. Stat. 1945) on the daily SIGN of the treatment
    -vs-control mean, which is simultaneously an e-process under H0
    (the likelihood ratio is a nonnegative martingale with mean 1, so
    by Ville's inequality P[sup LR >= 1/alpha] <= alpha — the
    always-valid guarantee of Ramdas, Grünwald, Vovk & Shafer,
    Stat. Sci. 2023; mSPRT mixtures tighten the same bound, the
    boundary logic is identical): the experimenter may peek every day
    and stop at the FIRST boundary crossing without inflating type-I
    error.

    Day d is a treatment win iff mean(value | arm 1) strictly exceeds
    mean(value | arm 0) — compared exactly as the integer
    cross-multiplication s1*n0 > s0*n1 on cent sums (ties and empty
    arms count against treatment; no rounded intermediate at the
    decision boundary).  With w wins in t days the likelihood ratio
    for p=3/4 vs p=1/2 is (3/2)^w (1/2)^(t-w) = 3^w / 2^t, kept as
    exact integers, and both Wald boundaries are integer comparisons —
    bit-identical in Spark and DuckDB.  That holds up to t =
    SPRT_MAX_DAYS = 33 days: 3^33 < 2^53, so both engines' pow() is
    exact and the bigint casts are lossless (16 * 2^33 and 19 * 3^33
    are far inside a bigint).  A longer stream raises in both engines
    (3^34 is no longer exact in a double, and 16 * 2^t overflows a
    bigint from t = 59).

    Scale shape: one scan -> per-(day, arm) conditional-sum groupBy
    (map-side partials); everything after runs on the calendar-bounded
    daily table (tiny-stats policy: the windows below rank <= the
    number of experiment days, never user- or event-cardinality).

    Output: one row per day — cumulative t, wins, the exact LR
    numerator 3^w, the decision state, and first_decision = 1 on the
    first day a boundary is crossed (the always-valid stopping day)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
            F.expr("cast(round(value * 100) as bigint)").alias("c"),
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(
                F.when(F.col("arm") == 0, F.col("c")).otherwise(0)
            ).alias("s0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(
                F.when(F.col("arm") == 1, F.col("c")).otherwise(0)
            ).alias("s1"),
        )
    )
    return sequential_sign_test_df(daily)


def sequential_sign_test_df(daily: DataFrame) -> DataFrame:
    """Core over a per-day (day, n0, s0, n1, s1) frame (unit-testable
    on crafted win/loss streams)."""
    win = daily.withColumn(
        "win",
        (F.col("s1") * F.col("n0") > F.col("s0") * F.col("n1")).cast(
            "int"
        ),
    )
    # tiny-window: calendar-bounded (one row per experiment day)
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # tiny-window: calendar-bounded (one row per experiment day)
    wprev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = win.select(
        "day",
        F.count("*").over(wcum).alias("t"),
        F.sum("win").over(wcum).alias("wins"),
    )
    lr_num = F.when(
        F.col("t") > SPRT_MAX_DAYS,
        F.raise_error(
            F.lit(f"sequential sign test runs past SPRT_MAX_DAYS = "
                  f"{SPRT_MAX_DAYS} days")
        ),
    ).otherwise(F.pow(F.lit(3.0), F.col("wins")).cast("bigint"))
    pow2 = F.pow(F.lit(2.0), F.col("t")).cast("bigint")
    reject = lr_num >= F.lit(SPRT_REJECT_NUM) * pow2
    accept = (
        F.lit(SPRT_ACCEPT_DEN) * lr_num
        <= F.lit(SPRT_ACCEPT_NUM) * pow2
    )
    staged = cum.select(
        "day",
        "t",
        "wins",
        lr_num.alias("lr_num"),
        F.when(reject, F.lit("reject_h0"))
        .when(accept, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
    prev_decided = F.coalesce(
        F.sum(
            F.when(F.col("decision") != "continue", 1).otherwise(0)
        ).over(wprev),
        F.lit(0),
    )
    return (
        staged.withColumn(
            "first_decision",
            F.when(
                (F.col("decision") != "continue") & (prev_decided == 0),
                1,
            )
            .otherwise(0)
            .cast("int"),
        )
        .select(
            "day",
            F.col("t").cast("bigint").alias("t"),
            F.col("wins").cast("bigint").alias("wins"),
            "lr_num",
            "decision",
            "first_decision",
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )
