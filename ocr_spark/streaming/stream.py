"""Structured Streaming surface.

The reference is a synchronous HTTP service (no streams; SURVEY.md §2.7),
so streaming here is the Spark-native replacement for its request loop:
documents arriving as files in a landing directory are extracted
incrementally with exactly-once sink semantics.  Every operator drains
what is present (an availableNow trigger) and stops; its
checkpoint makes the next call resume with only the files that landed
since, so continuous ingest is the same call on a schedule.

Twelve operators, each a file-source stream of parquet into one sink:

* ``stream_extract`` — interleaved-document parquet ->
  foreachBatch(extract_documents) -> append parquet.  foreachBatch is
  the idiomatic shape when the batch transformation involves
  multi-stage plans (explode -> mapInPandas -> groupBy): each
  micro-batch runs the full batch pipeline and lands atomically; the
  streaming checkpoint gives resume-on-restart, complementing the
  chunk-manifest resume of operators/checkpoint.py.
* dedup: ``stream_exact_dedup`` (forever-state, applyInPandasWithState),
  ``stream_watermark_dedup`` (bounded state), ``stream_near_dup_gate``
  (minhash-LSH bucket ownership).
* event-time aggregation: ``stream_event_counts`` (tumbling windows),
  ``stream_user_sessions`` (session windows), ``stream_topk_trending``
  (custom stateful top-K).
* joins and sinks: ``stream_enrich_events`` (stream-static),
  ``stream_click_attribution`` (stream-stream interval join),
  ``stream_upsert_latest`` (foreachBatch MERGE).
* additive partials: ``stream_quantile_sketch``,
  ``stream_tv_drift_by_day``.

Each ``*_query`` wrapper drains one sf table through its operator via
``_drain`` and returns a lazy read over the sink for the board.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.pipeline import extract_documents

# Event-time durations in seconds, read at call time.  The DuckDB
# oracles in __spark_entry__.py build their intervals and cutoffs from
# these same numbers.
WINDOW = 600  # stream_event_counts: tumbling window length
WINDOW_WATERMARK = 1800
SESSION_GAP = 600
SESSION_WATERMARK = 1800
ATTRIBUTION_WINDOW = 1800  # a purchase at most this long after its click
ATTRIBUTION_WATERMARK = 3600  # >= ATTRIBUTION_WINDOW: no click leaves early
DEDUP_WATERMARK = 3600
TOPK_WINDOW = 3600  # the date_trunc('hour') window
TOPK_DELAY = 1800

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_EVENT_COLS = [f.name for f in _EVENT_SCHEMA.fields]

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _source(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType = _EVENT_SCHEMA,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the parquet files in ``input_dir``."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(input_dir)


def _start(
    df: DataFrame,
    checkpoint_dir: str,
    sink: str | Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start ``df`` draining everything present, then stopping: into the
    parquet directory ``sink``, or through ``foreachBatch(sink)`` when
    it is a function."""
    writer = df.writeStream
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(query, corpus) scratch path under /tmp, so the
    board wrappers can return LAZY reads over their drained
    sinks instead of collecting: each call wipes and rebuilds its own
    directory; nothing accumulates across corpora."""
    corpus = re.sub(r"[^0-9A-Za-z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return os.path.join("/tmp", f"ocr_spark_{tag}_{corpus}")


def _drain(
    spark: SparkSession,
    tag: str,
    sf_dir: str,
    operator: Callable[..., StreamingQuery],
    *inputs: list[DataFrame],
    dim: DataFrame | None = None,
) -> str:
    """Wipe the (tag, corpus) scratch dir, stage each input — a list of
    frames, one parquet file per frame, in list order — into its own
    landing dir, drain ``operator`` over them to completion and return
    its sink dir."""
    base = _scratch_dir(tag, sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dirs = [f"{base}/in{i}" for i in range(len(inputs))]
    for d, frames in zip(in_dirs, inputs):
        for df in frames:
            df.coalesce(1).write.mode("append").parquet(d)
    out_dir = f"{base}/out"
    extra = [] if dim is None else [dim]
    q = operator(spark, *in_dirs, out_dir, f"{base}/ck", *extra)
    q.awaitTermination()
    return out_dir


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(*_EVENT_COLS)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental extraction over a parquet landing directory.

    Returns the StreamingQuery (caller awaits termination).  The query
    drains every file present, four per micro-batch, and stops; a later
    call on the same checkpoint processes only the files that landed
    since.
    """
    src = _source(spark, input_dir, DOC_SCHEMA, files_per_trigger=4)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        extract_documents(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(output_dir)

    return _start(src, checkpoint_dir, _process)


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Cross-micro-batch exact deduplication as a custom stateful operator
    (``applyInPandasWithState``): the first document per content digest is
    emitted, later arrivals — in the same batch or any future one — are
    dropped.  State is one marker row per digest, persisted in the
    streaming checkpoint, so dedup survives query restarts.

    This is the streaming complement of operators/dedup.exact_dedup for
    continuous corpus ingest (the reference has no streams; SURVEY.md
    §2.7)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    keyed = _source(spark, input_dir, schema).withColumn(
        "digest", F.md5("text")
    )

    out_type = T.StructType(
        [
            T.StructField("digest", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    state_type = T.StructType([T.StructField("seen", T.IntegerType())])

    def first_only(key, pdfs, state: GroupState):
        if state.exists:
            return  # digest already emitted in an earlier batch
        # Deterministic survivor: the MINIMUM doc_id across all of this
        # batch's rows for the digest.  Intra-group arrival order varies
        # across partitions/runs, so "first non-empty batch" would make
        # the surviving doc_id nondeterministic — at odds with the batch
        # twin (operators/dedup.exact_dedup ranks by doc_id).
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.loc[[pdf["doc_id"].idxmin()]]
            if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
                best = cand
        if best is not None:
            state.update((1,))
            yield pd.DataFrame(
                {
                    "digest": [key[0]],
                    "doc_id": best["doc_id"].tolist(),
                    "text": best["text"].tolist(),
                }
            )

    deduped = keyed.groupBy("digest").applyInPandasWithState(
        first_only,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start(deduped, checkpoint_dir, output_dir)


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watermarked tumbling-window counts over an event-file stream
    (``WINDOW`` seconds long, watermark delay ``WINDOW_WATERMARK``).

    Late rows beyond the watermark are dropped; append mode emits a
    window only once it is closed by the watermark — both behaviors the
    tests exercise.  For a TIME-ORDERED file sequence (log rotation: each
    file later than the previous) the emitted set is additionally
    independent of micro-batch boundaries — no row can fall behind a
    watermark derived from an earlier file — which
    tests/test_streaming.py::test_stream_window_batch_split_invariance
    pins by draining the same files one per call vs in one batch.
    """
    agg = (
        _source(spark, input_dir)
        .withWatermark("ts", f"{WINDOW_WATERMARK} seconds")
        .groupBy(F.window("ts", f"{WINDOW} seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )
    return _start(agg, checkpoint_dir, output_dir)


def stream_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain the events table through the
    watermarked windowed aggregation (stream_event_counts) with
    availableNow and return the emitted (closed) windows.

    Determinism argument: the event-time watermark ends at
    max(ts) - delay once every file is consumed, and append mode emits
    exactly the windows the watermark has closed — windows still inside
    the delay horizon stay in state and are NOT emitted.  That closed-
    window set is a pure function of the input (for time-ordered file
    sequences also independent of micro-batch boundaries —
    test_stream_window_batch_split_invariance), which is what the DuckDB
    oracle reproduces with a time_bucket aggregate + max(ts) cutoff.
    Window bounds are projected as epoch seconds (bigint) so the
    value-hash compare is engine-neutral.

    The result stays a LAZY read over the drained sink (no driver-side
    collect — the emitted window set is unbounded in the input's time
    span): scratch dirs are deterministic per corpus and re-created
    fresh each call, so the returned DataFrame's files remain valid."""
    out_dir = _drain(
        spark, "stream_window", sf_dir, stream_event_counts,
        [_events(spark, sf_dir)],
    )
    return (
        spark.read.parquet(out_dir)
        .select(
            F.unix_timestamp("w_start").alias("w_start_s"),
            F.unix_timestamp("w_end").alias("w_end_s"),
            "event_type",
            "n",
            "total",
        )
        .repartition(1)
        .sortWithinPartitions("w_start_s", "event_type")
    )


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: run the stateful streaming dedup end-to-end
    over the documents table and return the deduplicated result.

    Input is staged as ONE parquet file and drained with availableNow, so
    the whole table arrives in a single micro-batch and the deterministic
    survivor rule (minimum doc_id per digest) is exactly SQL's
    arg_min(doc_id) — which is what the DuckDB oracle checks.  Cross-batch
    state behaviour (first batch wins regardless of doc_id) is pinned by
    tests/test_streaming.py instead.

    Like stream_window_query, the result is a LAZY read over the drained
    sink (no driver-side collect — the deduplicated set is corpus-sized):
    the scratch dir is deterministic per corpus and re-created fresh each
    call, so the returned DataFrame's files remain valid."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out_dir = _drain(spark, "stream_dedup", sf_dir, stream_exact_dedup, [docs])
    return (
        spark.read.parquet(out_dir)
        .select("digest", "doc_id", "text")
        .repartition(1)
        .sortWithinPartitions("digest")
    )


def stream_user_sessions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watermarked SESSION-window aggregation per user (native
    F.session_window — Spark's built-in stateful session merging): an
    event extends the user's open session while its timestamp lands
    before last_event + SESSION_GAP; append mode emits a session once the
    watermark passes its end (no admissible event can extend it any
    more, because an extender would be older than the watermark and
    dropped as late).  The emitted set over a full availableNow drain is
    therefore the batch gap-sessionization of the input restricted to
    sessions with end ≤ max(ts) − delay — which is exactly what the
    DuckDB lag/sum oracle computes."""
    agg = (
        _source(spark, input_dir)
        .withWatermark("ts", f"{SESSION_WATERMARK} seconds")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
    return _start(agg, checkpoint_dir, output_dir)


def stream_session_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain the events table through the
    session-window aggregation and return the emitted (closed) sessions,
    epoch-seconds bounds for engine-neutral comparison.  Lazy read over
    the drained sink (see _scratch_dir)."""
    out_dir = _drain(
        spark, "stream_sessions", sf_dir, stream_user_sessions,
        [_events(spark, sf_dir)],
    )
    return (
        spark.read.parquet(out_dir)
        .select(
            F.unix_timestamp("s_start").alias("s_start_s"),
            F.unix_timestamp("s_end").alias("s_end_s"),
            "user_id",
            "n_events",
            "session_value",
        )
        .repartition(1)
        .sortWithinPartitions("user_id", "s_start_s")
    )


def stream_enrich_events(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dim: DataFrame,
) -> StreamingQuery:
    """Stream-static dimension enrichment — the ingest-time join every
    event pipeline runs: each arriving event picks up its customer
    attributes from a STATIC dimension table.  Stream-static joins are
    STATELESS (no watermark, no state store): each micro-batch joins
    against the dimension as a plain batch join, so append mode emits
    every event exactly once, enriched.

    Scale shape: the dimension is broadcast (dims are ~10^6 rows next to
    a 10^12-event stream) — zero shuffle on the stream side; the hint
    survives into every micro-batch plan.  A LEFT join keeps events whose
    dimension row is missing (late dimension arrival) instead of
    silently dropping them."""
    src = _source(spark, input_dir)
    enriched = src.join(
        F.broadcast(dim), src["user_id"] == dim["c_custkey"], "left"
    ).select(*_EVENT_COLS, "c_name", "c_mktsegment")
    return _start(enriched, checkpoint_dir, output_dir)


def stream_click_attribution(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Watermarked STREAM-STREAM interval join — the canonical ad-
    attribution shape: every purchase joins each click by the same user
    that happened within ``ATTRIBUTION_WINDOW`` BEFORE it.  Both sides
    carry an event-time watermark; the time-bound join condition lets
    Spark evict click state older than watermark + window, so state is
    bounded by the window, not the stream length.

    Completeness: an inner stream-stream join emits a pair once both
    rows are in state.  With ``ATTRIBUTION_WATERMARK >=
    ATTRIBUTION_WINDOW`` and a time-ordered file sequence, a click is
    never evicted before every purchase that could match it has arrived
    — the drained availableNow result equals the batch interval join,
    which is the DuckDB oracle (and test_streaming pins that draining
    the files one per call gives the same set).

    Scale shape: the join keys on user_id, so both streams shuffle once
    by user; state per user is one attribution window of clicks.  Skewed
    hot users bound state by the window, not by their total click
    volume."""
    watermark = f"{ATTRIBUTION_WATERMARK} seconds"
    clicks = (
        _source(spark, clicks_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("c_user"),
        )
    )
    purchases = (
        _source(spark, purchases_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + "
            f"interval {ATTRIBUTION_WINDOW} seconds"
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _start(joined, checkpoint_dir, output_dir)


def stream_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain the events table through the
    stream-static enrichment join and return the enriched events as a
    LAZY read over the sink (conventions of stream_window_query).
    Stateless join => the drained set is exactly the batch left join,
    which is the DuckDB oracle."""
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    out_dir = _drain(
        spark, "stream_enrich", sf_dir, stream_enrich_events,
        [_events(spark, sf_dir)], dim=dim,
    )
    return (
        spark.read.parquet(out_dir)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("ts_s"),
            "user_id",
            "event_type",
            "value",
            "c_name",
            "c_mktsegment",
        )
        .repartition(1)
        .sortWithinPartitions("event_id")
    )


def stream_attribution_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: split the events table into click and
    purchase streams (one time-ordered file each), drain the watermarked
    stream-stream interval join, and return the attribution pairs.
    Timestamps are projected as epoch seconds for engine-neutral
    hashing; LAZY read over the sink per module convention."""
    ev = _events(spark, sf_dir)
    clicks, purchases = (
        [
            ev.filter(F.col("event_type") == et)
            .repartition(1)
            .sortWithinPartitions("ts")
        ]
        for et in ("click", "purchase")
    )
    out_dir = _drain(
        spark, "stream_attr", sf_dir, stream_click_attribution,
        clicks, purchases,
    )
    return (
        spark.read.parquet(out_dir)
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.unix_timestamp("click_ts").alias("click_ts_s"),
            F.unix_timestamp("purchase_ts").alias("purchase_ts_s"),
            "purchase_value",
        )
        .repartition(1)
        .sortWithinPartitions("click_id", "purchase_id")
    )


N_STATE_BUCKETS = 16


def stream_upsert_latest(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """foreachBatch idempotent UPSERT sink: maintain a keyed table of the
    latest event per user (MERGE semantics) without a lakehouse format.
    Each landed file is its own micro-batch, so a later file's events
    overwrite an earlier file's keys.

    The scale pattern is Hudi/Iceberg copy-on-write with PARTIAL
    rewrites: the state table is partitioned into N_STATE_BUCKETS by
    ``user_id % N`` and each micro-batch rewrites ONLY the buckets its
    keys touch — per-batch cost is O(touched buckets), not O(state).
    Reading the untouched buckets is skipped entirely via partition
    pruning on the bucket column.  At 10^12 keys the same code runs
    with more buckets (or swaps the staging/rename for a real MERGE);
    the shape is identical.

    Exactly-once under replay: the merge ("keep the (ts, event_id)-max
    row per key") is idempotent and commutative, so REAPPLYING any
    batch converges to the same state.  The manifest records the last
    applied batch_id PER CHECKPOINT (batch ids restart at 0 when the
    checkpoint changes, so a cross-checkpoint skip could drop genuinely
    new data — ids from a different checkpoint never skip; idempotence
    covers the re-merges instead).  Retired bucket dirs live OUTSIDE
    the live table dir and are repaired on entry: a crash mid-swap is
    rolled back (the batch replays), a crash post-swap leaves only
    garbage to delete — readers never see a half-written or half-moved
    bucket."""
    import json

    src = _source(spark, input_dir, files_per_trigger=1)

    cur_path = os.path.join(state_dir, "current")
    retired = os.path.join(state_dir, "_retired")
    manifest = os.path.join(state_dir, "_state_manifest.json")

    def _latest_per_key(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _repair() -> None:
        """Crash recovery: a retired bucket whose live twin is MISSING
        marks a crash between the two swap renames — restore it (the
        interrupted batch was never recorded in the manifest, so it
        replays and re-merges).  A retired bucket whose live twin
        exists is post-swap garbage — delete it."""
        if not os.path.isdir(retired):
            return
        for d in os.listdir(retired):
            live = os.path.join(cur_path, d)
            dead = os.path.join(retired, d)
            if os.path.isdir(live):
                shutil.rmtree(dead, ignore_errors=True)
            else:
                os.rename(dead, live)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _repair()
        if os.path.exists(manifest):
            with open(manifest) as fh:
                m = json.load(fh)
            # skip only replays of THIS checkpoint's lineage — a new
            # checkpoint restarts ids at 0 over possibly-new input
            if (
                m.get("checkpoint") == checkpoint_dir
                and batch_id <= m["last_batch_id"]
            ):
                return
        sess = batch_df.sparkSession
        batch = batch_df.withColumn(
            "bucket", (F.col("user_id") % N_STATE_BUCKETS).cast("int")
        )
        touched = sorted(
            r["bucket"] for r in batch.select("bucket").distinct().collect()
        )
        merged = _latest_per_key(batch)
        if os.path.isdir(cur_path) and touched:
            cur = sess.read.parquet(cur_path).filter(
                F.col("bucket").isin(touched)
            )
            merged = _latest_per_key(
                cur.unionByName(batch, allowMissingColumns=False)
            )
        stage = os.path.join(state_dir, f"_stage_{batch_id}")
        shutil.rmtree(stage, ignore_errors=True)
        merged.repartition(1).write.partitionBy("bucket").mode(
            "overwrite"
        ).parquet(stage)
        os.makedirs(cur_path, exist_ok=True)
        os.makedirs(retired, exist_ok=True)
        for b in touched:
            src_b = os.path.join(stage, f"bucket={b}")
            dst_b = os.path.join(cur_path, f"bucket={b}")
            old_b = os.path.join(retired, f"bucket={b}")
            if not os.path.isdir(src_b):
                continue
            shutil.rmtree(old_b, ignore_errors=True)
            if os.path.isdir(dst_b):
                os.rename(dst_b, old_b)
            os.rename(src_b, dst_b)
            shutil.rmtree(old_b, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        with open(manifest, "w") as fh:
            json.dump(
                {
                    "checkpoint": checkpoint_dir,
                    "last_batch_id": int(batch_id),
                },
                fh,
            )

    return _start(src, checkpoint_dir, _merge)


def stream_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: feed the events table through the upsert
    sink as FOUR time-ordered micro-batches (1 file per trigger), so
    later batches genuinely overwrite earlier keys, then return the
    final keyed state.  The drained state equals the batch arg-max per
    user (max ts, tie-break max event_id) — the DuckDB oracle."""
    from ocr_spark.operators.relational import bucketed_global_rank

    raw = (
        _events(spark, sf_dir)
        # TIMESTAMP_NTZ: order key via epoch micros through a UTC cast
        .withColumn(
            "_tsu",
            F.unix_micros(F.to_utc_timestamp(F.col("ts"), "UTC")),
        )
    )
    n_ev = raw.count()
    # quartile assignment via the two-pass bucketed rank (no
    # single-partition ntile sort); the upsert oracle (arg-max per
    # user) is invariant to the exact cut as long as batches stay
    # time-ordered, which rank order guarantees
    ev = (
        bucketed_global_rank(raw, "_tsu", "event_id", rank_col="_rk")
        .withColumn("_q", F.expr(f"((_rk - 1) * 4) div {max(n_ev, 1)} + 1"))
        .drop("_tsu", "_rk")
    )
    quartiles = [  # one time-ordered file per quartile
        ev.filter(F.col("_q") == i)
        .drop("_q")
        .repartition(1)
        .sortWithinPartitions("ts")
        for i in range(1, 5)
    ]
    st_dir = _drain(
        spark, "stream_upsert", sf_dir, stream_upsert_latest, quartiles
    )
    return (
        spark.read.parquet(f"{st_dir}/current")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_timestamp("ts").alias("ts_s"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
        )
        .repartition(1)
        .sortWithinPartitions("user_id")
    )


def stream_watermark_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming dedup with BOUNDED state via the native
    ``dropDuplicatesWithinWatermark``: a duplicate event_id arriving
    within DEDUP_WATERMARK of the first copy is dropped; once the
    event-time watermark passes a key's expiry the key is EVICTED, so
    state size is O(keys per watermark window), not O(all keys ever) —
    the property that makes streaming dedup survivable at 10^12 events
    where ``dropDuplicates``'s forever-state (and our explicit
    applyInPandasWithState twin, stream_exact_dedup) would grow without
    bound.  The trade is semantic: a duplicate arriving LATER than the
    delay is re-emitted — the at-least-once contract every log-ingest
    dedup at scale actually ships (eviction + re-emit pinned by
    tests/test_streaming.py::test_watermark_dedup_evicts_state).
    """
    deduped = (
        _source(spark, input_dir)
        .withWatermark("ts", f"{DEDUP_WATERMARK} seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _start(deduped, checkpoint_dir, output_dir)


def stream_watermark_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: stage the events table DOUBLED (every row
    written twice — the retransmission model) into one file, drain the
    watermark dedup, and return the surviving rows.

    Determinism argument: the two copies of each event_id are
    bit-identical, so WHICHEVER copy wins, the output row is the same —
    the oracle is simply ``select distinct * from events`` (plus the
    epoch canonicalization).  The eviction/re-emit semantics that DO
    depend on batch boundaries are pinned in tests, not here."""
    ev = _events(spark, sf_dir)
    out_dir = _drain(
        spark, "stream_wm_dedup", sf_dir, stream_watermark_dedup,
        [ev.unionAll(ev)],
    )
    return (
        spark.read.parquet(out_dir)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("epoch"),
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )
        .repartition(1)
        .sortWithinPartitions("event_id")
    )


TOPK_K = 3


def stream_topk_trending(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Per-hour top-K trending event types as a CUSTOM stateful operator
    (``applyInPandasWithState`` + event-time timeout) — the shape Spark's
    built-in streaming aggregation cannot express: a rank over a
    windowed aggregate is not allowed in append mode, so the window's
    count table lives in keyed state and the top-K is emitted exactly
    once, when the watermark passes the window end and the state times
    out (Spark's no-data final micro-batch fires the trailing timers on
    an availableNow drain).

    State per (window-start) key: parallel arrays of event types and
    counts, merged across micro-batches.  At scale the key space is
    windows × shards — to bound one window's state on a hot hour, shard
    the key to (window, hash(type) % S) and merge the S partial top-Ks
    downstream (S tiny, the merge is free); the sandbox corpus needs no
    shard.  Emission is deterministic: count desc, event_type asc."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = (
        _source(spark, input_dir)
        .withWatermark("ts", f"{TOPK_DELAY} seconds")
        .withColumn(
            "ws", F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        )
    )

    out_type = T.StructType(
        [
            T.StructField("ws", T.LongType()),
            T.StructField("rnk", T.IntegerType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("types", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def topk(key, pdfs, state: GroupState):
        ws = int(key[0])  # numpy int64 breaks the state JSON protocol
        if state.hasTimedOut:
            types, counts = state.get
            state.remove()
            ranked = sorted(zip(types, counts), key=lambda t: (-t[1], t[0]))
            top = ranked[:TOPK_K]
            yield pd.DataFrame(
                {
                    "ws": [ws] * len(top),
                    "rnk": list(range(1, len(top) + 1)),
                    "event_type": [t for t, _ in top],
                    "n": [int(c) for _, c in top],
                }
            )
            return
        if state.exists:
            types, counts = state.get
            d = dict(zip(types, counts))
        else:
            d = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            for et, c in pdf.groupby("event_type").size().items():
                d[et] = d.get(et, 0) + int(c)
        state.update((list(d.keys()), [int(v) for v in d.values()]))
        # fire when the watermark passes the window end
        state.setTimeoutTimestamp((ws + TOPK_WINDOW) * 1000)

    trending = keyed.groupBy("ws").applyInPandasWithState(
        topk,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _start(trending, checkpoint_dir, output_dir)


def stream_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain events through the stateful top-K
    operator; emitted rows are exactly the CLOSED windows (window end
    strictly before final watermark = max(ts) - delay), which the DuckDB
    rank oracle reproduces."""
    out_dir = _drain(
        spark, "stream_topk", sf_dir, stream_topk_trending,
        [_events(spark, sf_dir)],
    )
    return (
        spark.read.parquet(out_dir)
        .select("ws", "rnk", "event_type", "n")
        .repartition(1)
        .sortWithinPartitions("ws", "rnk")
    )


# ---------------------------------------------------------------------------
# Streaming near-dup admission gate (minhash-LSH bucket ownership)
# ---------------------------------------------------------------------------


def stream_near_dup_gate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Near-duplicate admission at INGEST: each arriving document's
    minhash-LSH band buckets are resolved against a persistent
    bucket-ownership state — the first document ever seen in a bucket
    owns it; later arrivals in any of their buckets are near-dup
    candidates.  This is the streaming face of the batch
    ``incremental_near_dup`` index: dedup decided as data lands, not
    in a nightly job.

    The signatures are PURE PROJECTIONS (no streaming aggregate):
    shingles hash once into (h1, h2) struct arrays and each of the
    N_MINHASH mins is an ``array_min`` over a transformed array — so
    the ONLY stateful operator is the bucket-keyed
    ``applyInPandasWithState`` ownership resolver (chaining a
    streaming groupBy into a stateful op is not legal in append mode;
    the map-side form sidesteps it and is also the cheaper plan).

    State: one owner id per (band, bucket) — O(distinct buckets), the
    same cardinality the batch band index persists.  Within a batch
    the owner is the MINIMUM doc_id (deterministic, matches the batch
    twin); across batches the stored owner wins regardless of id —
    pinned by tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import (
        LSH_BANDS,
        MINHASH_P,
        N_MINHASH,
        word_shingles,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    hashed = _source(spark, input_dir, schema).select(
        "doc_id",
        F.transform(
            word_shingles(F.col("text")),
            lambda s: F.struct(
                F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
                .cast("bigint")
                .alias("h1"),
                F.conv(F.substring(F.md5(s), 9, 8), 16, 10)
                .cast("bigint")
                .alias("h2"),
            ),
        ).alias("hs"),
    )
    mh = [
        F.array_min(
            F.transform(
                F.col("hs"),
                lambda a: (a["h1"] + F.lit(j) * a["h2"]) % F.lit(MINHASH_P),
            )
        ).alias(f"mh{j}")
        for j in range(N_MINHASH)
    ]
    sigs = hashed.select("doc_id", *mh)
    rows_per_band = N_MINHASH // LSH_BANDS
    bands = sigs.select(
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

    out_type = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("owner_doc", T.LongType()),
        ]
    )
    state_type = T.StructType([T.StructField("owner", T.LongType())])

    def resolve(key, pdfs, state: GroupState):
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        if not ids:
            return
        if state.exists:
            (owner,) = state.get
        else:
            owner = min(ids)
            state.update((owner,))
        yield pd.DataFrame(
            {
                "band": [int(key[0])] * len(ids),
                "bucket": [key[1]] * len(ids),
                "doc_id": sorted(ids),
                "owner_doc": [int(owner)] * len(ids),
            }
        )

    resolved = bands.groupBy("band", "bucket").applyInPandasWithState(
        resolve,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start(resolved, checkpoint_dir, output_dir)


def stream_near_dup_gate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-facing wrapper: run the streaming gate over the documents
    table (single availableNow batch — so in-batch ownership is exactly
    min-doc-per-bucket, the SQL the oracle checks) and summarize per
    document: how many of its LSH_BANDS buckets it owns, and whether
    any bucket is owned by an earlier doc (the near-dup-candidate
    flag).  The summary runs as a BATCH read over the drained sink."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out_dir = _drain(
        spark, "stream_gate", sf_dir, stream_near_dup_gate, [docs]
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bands"),
            F.sum(
                (F.col("owner_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_owned"),
            F.max(
                (F.col("owner_doc") < F.col("doc_id")).cast("int")
            ).alias("is_candidate"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Streaming mergeable quantile sketch (fixed-domain histogram partials)
# ---------------------------------------------------------------------------

QSKETCH_LO = 0  # fixed a-priori value domain (cents): streaming cannot
QSKETCH_W = 800  # wait for a global min/max, so the grid is a constant
QSKETCH_B = 64  # 64 buckets x 800 = [0, 51200) covers the event domain;
#                out-of-domain values clamp into the edge buckets


def _qsketch_bucket() -> Column:
    """The event value's fixed-domain bucket, clamped to [0, QSKETCH_B)."""
    return F.least(
        F.greatest(
            F.expr(
                f"(cast(round(value * 100) as bigint)"
                f" - {QSKETCH_LO}) div {QSKETCH_W}"
            ),
            F.lit(0),
        ),
        F.lit(QSKETCH_B - 1),
    )


def _merged_partials(
    spark: SparkSession, out_dir: str, keys: str
) -> list[Row]:
    """Sum the per-batch partial counts in ``out_dir`` by the key
    columns ``keys`` (a DDL list).  A stream that never ran a batch
    leaves no sink dir: no partials."""
    if not os.path.isdir(out_dir):
        return []
    partials = spark.read.schema(f"{keys}, cnt bigint").parquet(out_dir)
    return (
        partials.groupBy(*partials.columns[:-1])
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )


def stream_quantile_sketch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Per-micro-batch histogram PARTIALS over an event-file stream —
    the streaming half of relational.histogram_quantile_sketch, and the
    property that makes equi-width sketches production-grade: partial
    bucket counts MERGE BY ADDITION, so each micro-batch ships its own
    O(B) rows to the sink and the final sketch (one groupBy-sum over
    the sink) is independent of how the stream was micro-batched —
    pinned by the batch-split invariance test.

    foreachBatch computes the batch's bucket counts (a map-side
    aggregate over the batch) and appends them with the batch id; no
    state store is needed at all — additivity IS the state."""

    def _sink(batch_df, batch_id: int) -> None:
        (
            batch_df.select(_qsketch_bucket().alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(output_dir)
        )

    return _start(_source(spark, input_dir), checkpoint_dir, _sink)


def stream_qsketch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain the events table through the
    streaming sketch, merge the per-batch partials (groupBy-sum — the
    additivity), and report p50/p90/p99 estimates from the merged
    histogram with the same interpolation arithmetic as the batch
    sketch.  The merged histogram equals the batch histogram exactly
    (integer addition is associative), so the DuckDB oracle recomputes
    it from the raw table — value-level check despite the streaming
    path."""
    out_dir = _drain(
        spark, "stream_qsketch", sf_dir, stream_quantile_sketch,
        [_events(spark, sf_dir)],
    )
    hist = {
        r["b"]: r["cnt"] for r in _merged_partials(spark, out_dir, "b bigint")
    }
    n = sum(hist.values())
    rows = []
    for q_pct in (50, 90, 99):
        k = -(-q_pct * n // 100)
        cum = 0
        for b in sorted(hist):
            cnt = hist[b]
            if k <= cum + cnt:
                est = (
                    QSKETCH_LO
                    + b * QSKETCH_W
                    + ((k - cum) * QSKETCH_W) // (cnt + 1)
                )
                rows.append((q_pct, n, k, est))
                break
            cum += cnt
    return (
        spark.createDataFrame(
            rows, "q_pct int, n bigint, target_rank bigint, est_cents bigint"
        )
        .repartition(1)
        .sortWithinPartitions("q_pct")
    )


def stream_tv_drift_by_day(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming distribution-drift monitor: per-micro-batch (day,
    bucket) histogram PARTIALS over the event value — keyed by EVENT
    TIME (the day), not by batch, so the merged per-day histograms are
    independent of micro-batch boundaries (additivity again; the same
    design as stream_quantile_sketch).  The wrapper merges partials and
    scores each day's value distribution against the whole-corpus
    reference by total-variation distance — drift in exact integer
    ppm, no logs, no floats."""

    def _sink(batch_df, batch_id: int) -> None:
        (
            batch_df.select(
                F.to_date("ts").alias("day"), _qsketch_bucket().alias("b")
            )
            .groupBy("day", "b")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(output_dir)
        )

    return _start(_source(spark, input_dir), checkpoint_dir, _sink)


def stream_tv_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: drain events through the day-keyed
    histogram partials, merge, and report per-day total-variation
    distance to the whole-corpus reference in half-away ppm:
    TV = (1/2) Σ_b |c_b/n_day − C_b/N| — cross-multiplied to
    |c_b·N − C_b·n_day| over 2·n_day·N, summed exactly in Python big
    ints (the day count is bounded; tiny-stats policy)."""
    out_dir = _drain(
        spark, "stream_tvdrift", sf_dir, stream_tv_drift_by_day,
        [_events(spark, sf_dir)],
    )
    ref: dict[int, int] = {}
    per_day: dict = {}
    for r in _merged_partials(spark, out_dir, "day date, b bigint"):
        ref[r["b"]] = ref.get(r["b"], 0) + r["cnt"]
        per_day.setdefault(r["day"], {})[r["b"]] = r["cnt"]
    N = sum(ref.values())
    out = []
    for day, h in per_day.items():
        n = sum(h.values())
        num = sum(
            abs(h.get(b, 0) * N - ref[b] * n) for b in ref
        )
        den = 2 * n * N
        tv = (2 * num * 1_000_000 + den) // (2 * den)
        out.append((day, n, tv))
    return (
        spark.createDataFrame(
            out, "day date, n_day bigint, tv_ppm bigint"
        )
        .repartition(1)
        .sortWithinPartitions("day")
    )
