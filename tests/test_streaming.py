"""Structured Streaming: incremental extraction parity with the batch
pipeline, streaming-checkpoint resume, and watermarked window semantics."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_spark.fixtures.corpus import build_corpus
from ocr_spark.operators.pipeline import extract_documents
from ocr_spark.streaming import stream
from ocr_spark.streaming.stream import stream_event_counts, stream_extract


@pytest.fixture()
def landing(tmp_path):
    """Two parquet files of documents landing in a directory."""
    d = tmp_path / "landing"
    d.mkdir()
    t = build_corpus(20, seed=11)
    pq.write_table(t.slice(0, 10), str(d / "part-0.parquet"))
    pq.write_table(t.slice(10, 10), str(d / "part-1.parquet"))
    return str(d)


def _events_by_ts(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts")
        .toPandas()
    )


def _drain_thirds(spark, operator, tmp_path, tag, sides, split):
    """Stage each side's time-ordered rows as three files (log-rotation
    shape), one landing dir per side, and drain them through
    ``operator(spark, *side_dirs, out, ckpt)``.  ``split``: each third is
    staged and then drained on the shared checkpoint, so every file
    lands in its own micro-batch; otherwise all three files land before
    one drain.  Returns (out, ckpt)."""
    dirs = [str(tmp_path / f"{tag}_in{j}") for j in range(len(sides))]
    out, ckpt = str(tmp_path / f"{tag}_out"), str(tmp_path / f"{tag}_ck")
    for d in dirs:
        os.makedirs(d)
    for i in range(3):
        for d, side in zip(dirs, sides):
            n = len(side)
            chunk = side.iloc[i * n // 3 : (i + 1) * n // 3].copy()
            chunk["ts"] = chunk["ts"].astype("datetime64[us]")
            pq.write_table(
                pa.Table.from_pandas(chunk, preserve_index=False),
                f"{d}/f{i}.parquet",
            )
        if split:
            operator(spark, *dirs, out, ckpt).awaitTermination(600)
    if not split:
        operator(spark, *dirs, out, ckpt).awaitTermination(600)
    return out, ckpt


def _n_commits(ckpt):
    """Micro-batches the streaming checkpoint has committed."""
    return sum(f.isdigit() for f in os.listdir(f"{ckpt}/commits"))


def _canon(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_stream_extract_matches_batch(spark, landing, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_extract(spark, landing, out, ckpt)
    q.awaitTermination(300)
    streamed = _canon(spark.read.parquet(out))
    batch = _canon(
        extract_documents(
            spark.read.parquet(landing).select("doc_id", "spans")
        )
    )
    assert streamed == batch


def test_stream_extract_resume_processes_only_new_files(
    spark, landing, tmp_path
):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_extract(spark, landing, out, ckpt).awaitTermination(300)
    n_first = spark.read.parquet(out).count()
    assert n_first == 20

    # a new file lands; restart the query with the same checkpoint
    extra = build_corpus(5, seed=12)
    pq.write_table(extra, os.path.join(landing, "part-2.parquet"))
    stream_extract(spark, landing, out, ckpt).awaitTermination(300)
    df = spark.read.parquet(out)
    assert df.count() == 25  # old files NOT reprocessed (else 45)
    assert df.select("doc_id").distinct().count() == 25


def test_stream_event_counts_watermark(spark, tmp_path):
    import pandas as pd

    d = str(tmp_path / "ev")
    os.makedirs(d)
    rows = pd.DataFrame(
        {
            "event_id": range(6),
            # microsecond precision: Spark's parquet reader rejects the
            # nanosecond INT64 timestamps pandas/pyarrow default to
            "ts": pd.to_datetime(
                [
                    "2026-01-01 10:01", "2026-01-01 10:04",  # window 10:00
                    "2026-01-01 10:12",                       # window 10:10
                    "2026-01-01 12:00",                       # advances watermark
                    "2026-01-01 10:02",  # late: behind watermark, dropped
                    "2026-01-01 12:05",
                ]
            ).astype("datetime64[us]"),
            "user_id": [1] * 6,
            "event_type": ["a"] * 6,
            "value": [1.0] * 6,
        }
    )
    # first micro-batch: everything up to 12:00; second: the late row + 12:05
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(rows.iloc[:4]), f"{d}/f0.parquet")
    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    stream_event_counts(spark, d, out, ckpt).awaitTermination(300)
    pq.write_table(pa.Table.from_pandas(rows.iloc[4:]), f"{d}/f1.parquet")
    stream_event_counts(spark, d, out, ckpt).awaitTermination(300)

    got = {
        (str(r["w_start"]), r["n"])
        for r in spark.read.parquet(out).collect()
    }
    # 10:00 window emitted with 2 events only — the 10:02 row arrived after
    # the watermark (12:00 - 30min) passed the window end and was dropped.
    assert ("2026-01-01 10:00:00", 2) in got
    assert ("2026-01-01 10:10:00", 1) in got
    # the 12:00 window is still open (watermark hasn't passed 12:10)
    assert not any(s.startswith("2026-01-01 12:") for s, _ in got)


def test_stream_extract_landing_cleanup(spark, landing, tmp_path):
    """Deleting consumed files does not break a restarted query."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_extract(spark, landing, out, ckpt).awaitTermination(300)
    for f in glob.glob(os.path.join(landing, "*.parquet")):
        os.remove(f)
    pq.write_table(build_corpus(3, seed=13), os.path.join(landing, "p9.parquet"))
    stream_extract(spark, landing, out, ckpt).awaitTermination(300)
    assert spark.read.parquet(out).count() == 23
    shutil.rmtree(ckpt)


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: later duplicates (same or later
    micro-batch, across restarts) are dropped; state survives via the
    checkpoint."""
    import pandas as pd
    import pyarrow as pa

    from ocr_spark.streaming.stream import stream_exact_dedup

    d = str(tmp_path / "docs")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")

    b1 = pd.DataFrame(
        {"doc_id": ["a", "b", "b2"], "text": ["alpha", "beta", "beta"]}
    )
    pq.write_table(pa.Table.from_pandas(b1), f"{d}/b1.parquet")
    stream_exact_dedup(spark, d, out, ckpt).awaitTermination(300)
    got1 = {r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert set(got1) == {"alpha", "beta"}  # in-batch dup collapsed

    # restart with a new file: one dup of 'beta', one new text
    b2 = pd.DataFrame({"doc_id": ["b3", "c"], "text": ["beta", "gamma"]})
    pq.write_table(pa.Table.from_pandas(b2), f"{d}/b2.parquet")
    stream_exact_dedup(spark, d, out, ckpt).awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha", "beta", "gamma"]  # cross-restart dedup held


def test_stream_window_batch_split_invariance(spark, tmp_path, sf_dir):
    """For a time-ordered file sequence the emitted (closed) window set
    must not depend on micro-batch boundaries: draining 1 file per
    call (watermark advancing file by file) equals draining all files
    in one batch.  This is the determinism claim stream_window_query's
    oracle rests on."""
    events = _events_by_ts(spark, sf_dir)
    results = []
    for split in (True, False):
        out, ckpt = _drain_thirds(
            spark, stream_event_counts, tmp_path, f"split{split}", [events],
            split,
        )
        if split:
            assert _n_commits(ckpt) >= 3
        results.append(
            {
                (str(r["w_start"]), r["event_type"]): (r["n"], r["total"])
                for r in spark.read.parquet(out).collect()
            }
        )
    split, onebatch = results
    assert split, "closed windows must be emitted"
    assert split == onebatch


def test_stream_attribution_batch_split_invariance(spark, tmp_path, sf_dir):
    """The stream-stream interval join must emit the same pair set
    whether each side's files drain one per call or all in one batch
    (watermark >= the attribution window, time-ordered files) — the
    determinism claim stream_attribution_query's oracle rests on."""
    from ocr_spark.streaming.stream import stream_click_attribution

    ev = _events_by_ts(spark, sf_dir)
    sides = [
        ev[ev["event_type"] == et].reset_index(drop=True)
        for et in ("click", "purchase")
    ]
    results = []
    for split in (True, False):
        out, ckpt = _drain_thirds(
            spark, stream_click_attribution, tmp_path, f"split{split}",
            sides, split,
        )
        if split:
            assert _n_commits(ckpt) >= 3
        results.append(
            {
                (r["click_id"], r["purchase_id"])
                for r in spark.read.parquet(out).collect()
            }
        )
    split, onebatch = results
    assert onebatch, "attribution pairs must exist in the fixture"
    assert split == onebatch


def test_stream_enrich_left_join_keeps_dimensionless_events(spark, tmp_path):
    """Events whose user has no dimension row survive the stream-static
    left join with null attributes (late-dimension tolerance)."""
    from ocr_spark.streaming.stream import stream_enrich_events

    import datetime

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 1), 10, "click", 1.0),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 2), 999, "view", 2.0),
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    ).coalesce(1).write.parquet(in_dir)
    dim = spark.createDataFrame(
        [(10, "Customer#10", "BUILDING")],
        "c_custkey long, c_name string, c_mktsegment string",
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    stream_enrich_events(spark, in_dir, out, ck, dim).awaitTermination(600)
    got = {r["event_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["c_name"] == "Customer#10"
    assert got[2]["c_name"] is None and got[2]["c_mktsegment"] is None


def test_stream_upsert_multi_batch_and_replay(spark, tmp_path):
    """Upsert sink invariants: later micro-batches overwrite earlier
    keys, state is bucket-partitioned on disk, and a full replay with a
    fresh checkpoint (batch ids restart at 0) leaves the state
    untouched thanks to the manifest skip."""
    import datetime
    import os

    from ocr_spark.streaming.stream import stream_upsert_latest

    def ts(s):
        return datetime.datetime(2024, 1, 1, 0, 0, s)

    in_dir = str(tmp_path / "in")
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    # file 1: initial values; file 2 (later mtime): overwrites user 10
    spark.createDataFrame(
        [(1, ts(1), 10, "click", 1.0), (2, ts(2), 11, "view", 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(3, ts(3), 10, "buy", 9.0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    st, ck = str(tmp_path / "state"), str(tmp_path / "ck")
    stream_upsert_latest(spark, in_dir, st, ck).awaitTermination(600)
    cur = f"{st}/current"
    got = {r["user_id"]: r for r in spark.read.parquet(cur).collect()}
    assert got[10]["event_id"] == 3 and got[10]["value"] == 9.0
    assert got[11]["event_id"] == 2
    assert any(d.startswith("bucket=") for d in os.listdir(cur))

    # replay everything with a FRESH checkpoint: manifest's
    # last_batch_id >= replayed ids, so every batch is skipped
    before = sorted(
        tuple(r) for r in spark.read.parquet(cur).collect()
    )
    stream_upsert_latest(
        spark, in_dir, st, str(tmp_path / "ck2")
    ).awaitTermination(600)
    after = sorted(tuple(r) for r in spark.read.parquet(cur).collect())
    assert before == after


def test_stream_upsert_crash_recovery(spark, tmp_path):
    """The two swap-crash windows heal on the next run: a bucket
    stranded in _retired with no live twin (crash mid-swap) is restored
    and the interrupted batch re-merges; a stale retired copy WITH a
    live twin (crash post-swap) is garbage-collected."""
    import datetime
    import os
    import shutil

    from ocr_spark.streaming.stream import stream_upsert_latest

    def ts(s):
        return datetime.datetime(2024, 1, 1, 0, 0, s)

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, ts(1), 10, "click", 1.0), (2, ts(2), 11, "view", 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    st = str(tmp_path / "state")
    stream_upsert_latest(
        spark, in_dir, st, str(tmp_path / "ck1")
    ).awaitTermination(600)
    cur, ret = f"{st}/current", f"{st}/_retired"
    bucket10 = f"bucket={10 % 16}"

    # simulate a crash BETWEEN the two renames: live bucket moved to
    # _retired, manifest still points at the pre-crash batch
    os.makedirs(ret, exist_ok=True)
    os.rename(f"{cur}/{bucket10}", f"{ret}/{bucket10}")
    # also plant post-swap garbage for a bucket that still exists
    bucket11 = f"bucket={11 % 16}"
    shutil.copytree(f"{cur}/{bucket11}", f"{ret}/{bucket11}")

    # new input batch for an unrelated user triggers repair on entry
    spark.createDataFrame(
        [(3, ts(3), 12, "buy", 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stream_upsert_latest(
        spark, in_dir, st, str(tmp_path / "ck2")
    ).awaitTermination(600)

    assert not os.listdir(ret), "retired dir must be emptied by repair"
    got = {r["user_id"]: r for r in spark.read.parquet(cur).collect()}
    assert got[10]["event_id"] == 1  # restored, then re-merged
    assert got[11]["event_id"] == 2
    assert got[12]["event_id"] == 3


def test_watermark_dedup_evicts_state(spark, tmp_path, monkeypatch):
    """dropDuplicatesWithinWatermark contract: a duplicate arriving while
    the key is still in state is dropped, and once the event-time
    watermark passes the key's expiry (first-seen ts + delay) the key is
    EVICTED — a later duplicate is re-emitted.  This bounded-state /
    at-least-once trade is exactly why the operator survives at stream
    scale where forever-state dedup cannot."""
    import datetime as dt

    from ocr_spark.streaming.stream import stream_watermark_dedup

    monkeypatch.setattr(stream, "DEDUP_WATERMARK", 10)
    d = str(tmp_path / "ev")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")

    def ts(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    def emit(name, rows):
        import pandas as pd

        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), f"{d}/{name}.parquet")

    # batch 1: first copy of event 1 -> emitted; watermark ends at t=0-10
    emit("b1", [(1, ts(0), 7, "click", 1.0)])
    stream_watermark_dedup(spark, d, out, ckpt).awaitTermination(300)
    assert spark.read.parquet(out).count() == 1

    # batch 2: duplicate at t=100.  Watermark entering the batch is -10,
    # so event 1's state (expiry 0+10) is still live -> duplicate DROPPED.
    # After the batch the watermark advances to 90 -> the key is evicted.
    emit("b2", [(1, ts(100), 7, "click", 1.0)])
    stream_watermark_dedup(spark, d, out, ckpt).awaitTermination(300)
    assert spark.read.parquet(out).count() == 1

    # batch 3: duplicate at t=200 arrives AFTER eviction -> re-emitted.
    emit("b3", [(1, ts(200), 7, "click", 1.0)])
    stream_watermark_dedup(spark, d, out, ckpt).awaitTermination(300)
    rows = sorted(
        (r["event_id"], r["ts"]) for r in spark.read.parquet(out).collect()
    )
    assert rows == [(1, ts(0)), (1, ts(200))]


def test_stream_topk_merges_across_batches_and_holds_open_window(
    spark, tmp_path
):
    """The stateful top-K must (a) merge one window's counts arriving in
    different micro-batches, (b) rank deterministically (count desc,
    type asc on ties), and (c) withhold a window the watermark has not
    passed."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    from ocr_spark.streaming.stream import stream_topk_trending

    d = str(tmp_path / "ev")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "tout"), str(tmp_path / "tckpt")
    h0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def ev(eid, minute, etype):
        return (eid, h0 + dt.timedelta(minutes=minute), 1, etype, 1.0)

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    # batch 1: window h0 gets view x2, click x1
    b1 = pd.DataFrame(
        [ev(1, 0, "view"), ev(2, 1, "view"), ev(3, 2, "click")],
        columns=cols,
    )
    # batch 2: same window gets click x2 (total click=3 > view=2) plus a
    # far-future event that closes h0 but leaves its own window open.
    b2 = pd.DataFrame(
        [ev(4, 3, "click"), ev(5, 4, "click"), ev(6, 600, "late_probe")],
        columns=cols,
    )
    b1["ts"] = b1["ts"].astype("datetime64[us]")
    b2["ts"] = b2["ts"].astype("datetime64[us]")
    # one drain per landed file on the shared checkpoint: two batches
    for name, b in (("b1", b1), ("b2", b2)):
        pq.write_table(pa.Table.from_pandas(b), f"{d}/{name}.parquet")
        stream_topk_trending(spark, d, out, ckpt).awaitTermination(300)
    assert _n_commits(ckpt) >= 2

    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: (r["ws"], r["rnk"])
    )
    ws0 = int(h0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert [(r["ws"], r["rnk"], r["event_type"], r["n"]) for r in rows] == [
        (ws0, 1, "click", 3),   # merged across batches: 1 + 2
        (ws0, 2, "view", 2),
    ]  # the late_probe window is still open -> not emitted


def test_stream_topk_state_survives_restart(spark, tmp_path):
    """Stop the query after batch 1, add a file, start a NEW query on
    the same checkpoint: the window's counts must continue from
    persisted state, not restart from zero."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    from ocr_spark.streaming.stream import stream_topk_trending

    d = str(tmp_path / "ev")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "tout"), str(tmp_path / "tckpt")
    h0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def write(name, rows):
        df = pd.DataFrame(rows, columns=cols)
        df["ts"] = df["ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(df), f"{d}/{name}.parquet")

    write("b1", [(1, h0, 1, "view", 1.0), (2, h0, 1, "view", 1.0)])
    stream_topk_trending(spark, d, out, ckpt).awaitTermination(300)
    # window still open -> nothing emitted yet
    import glob as _g

    emitted = [
        p for p in _g.glob(f"{out}/*.parquet") if os.path.getsize(p) > 0
    ]
    assert spark.read.schema(
        "ws long, rnk int, event_type string, n long"
    ).parquet(out).count() == 0 if emitted else True

    # restart with one more view + a closer event far in the future
    write(
        "b2",
        [
            (3, h0 + dt.timedelta(minutes=5), 1, "view", 1.0),
            (4, h0 + dt.timedelta(hours=10), 2, "probe", 1.0),
        ],
    )
    stream_topk_trending(spark, d, out, ckpt).awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    ws0 = int(h0.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {(r["ws"], r["event_type"]): r["n"] for r in rows}
    assert got == {(ws0, "view"): 3}  # 2 (run 1, from state) + 1 (run 2)


def test_stream_near_dup_gate_owner_survives_restart(spark, tmp_path):
    """Bucket ownership persists across restarts and wins over a LOWER
    later doc_id: batch 1's doc 100 owns its buckets; batch 2's doc 5
    (near-identical text, same LSH buckets) must be flagged as a
    candidate even though 5 < 100 — the stored owner rules.  An
    unrelated batch-2 doc owns all its buckets and passes."""
    import pandas as pd
    import pyarrow as pa

    from ocr_spark.streaming.stream import stream_near_dup_gate

    d = str(tmp_path / "docs")
    os.makedirs(d)
    out, ckpt = str(tmp_path / "gout"), str(tmp_path / "gckpt")
    base = "the quick brown fox jumps over the lazy dog " * 8

    b1 = pd.DataFrame({"doc_id": [100], "text": [base + "tail one"]})
    pq.write_table(pa.Table.from_pandas(b1), f"{d}/b1.parquet")
    stream_near_dup_gate(spark, d, out, ckpt).awaitTermination(300)

    b2 = pd.DataFrame(
        {
            "doc_id": [5, 7],
            "text": [
                base + "tail one",  # exact near-dup, lower id
                "completely different zebra quartz vortex " * 8,
            ],
        }
    )
    pq.write_table(pa.Table.from_pandas(b2), f"{d}/b2.parquet")
    stream_near_dup_gate(spark, d, out, ckpt).awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 100 owned everything in batch 1
    assert all(r["owner_doc"] == 100 for r in by_doc[100])
    # doc 5 arrives later: every bucket already owned by 100
    assert all(r["owner_doc"] == 100 for r in by_doc[5])
    # unrelated doc 7 owns all of its buckets
    assert all(r["owner_doc"] == 7 for r in by_doc[7])


def test_stream_qsketch_batch_split_invariance(spark, tmp_path, sf_dir):
    """The merged sketch must be IDENTICAL whether the stream drains one
    file per call or everything in one batch — additivity of the
    bucket partials is the whole design — and must equal the batch
    histogram computed directly from the table."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.stream import (
        QSKETCH_B, QSKETCH_LO, QSKETCH_W, stream_quantile_sketch,
    )

    events = _events_by_ts(spark, sf_dir)
    merged = []
    for split in (True, False):
        out, ckpt = _drain_thirds(
            spark, stream_quantile_sketch, tmp_path, f"split{split}",
            [events], split,
        )
        sink = spark.read.parquet(out)
        merged.append(
            {
                r["b"]: r["s"]
                for r in sink.groupBy("b")
                .agg(F.sum("cnt").alias("s"))
                .collect()
            }
        )
        if split:
            # the split really produced multiple independent partials
            assert _n_commits(ckpt) >= 3
            assert sink.select("batch_id").distinct().count() >= 3
    split, onebatch = merged
    assert split == onebatch
    # equals the direct batch histogram
    import pandas as pd  # noqa: F401

    cents = (events["value"] * 100).round().astype("int64")
    b = ((cents - QSKETCH_LO) // QSKETCH_W).clip(0, QSKETCH_B - 1)
    direct = b.value_counts().to_dict()
    assert split == {int(k): int(v) for k, v in direct.items()}


def test_stream_partials_empty_events(spark, tmp_path):
    """An empty events table drains to zero rows with the board schema
    through both partial-merging wrappers."""
    from ocr_spark.streaming.stream import (
        stream_qsketch_query,
        stream_tv_drift_query,
    )

    d = str(tmp_path / "empty")
    spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    for wrapper, ddl in (
        (stream_qsketch_query,
         "q_pct int, n bigint, target_rank bigint, est_cents bigint"),
        (stream_tv_drift_query, "day date, n_day bigint, tv_ppm bigint"),
    ):
        got = wrapper(spark, d)
        assert got.collect() == []
        assert got.schema == spark.createDataFrame([], ddl).schema


def test_stream_tv_drift_two_day_shift(spark, tmp_path):
    """Two days with disjoint value ranges: each day's TV distance to
    the pooled reference is 0.5 (hand value, exact ppm); a single-day
    corpus scores 0."""
    from datetime import datetime

    from ocr_spark.streaming.stream import stream_tv_drift_query

    rows = []
    eid = 0
    for i in range(50):  # day 1: values ~1.00 (low bucket)
        rows.append((eid, datetime(2024, 1, 1, 10, 0, i % 60), 1,
                     "view", 1.00, "{}"))
        eid += 1
    for i in range(50):  # day 2: values ~400.00 (high bucket)
        rows.append((eid, datetime(2024, 1, 2, 10, 0, i % 60), 1,
                     "view", 400.00, "{}"))
        eid += 1
    d = str(tmp_path / "two")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {str(r["day"]): r["tv_ppm"]
           for r in stream_tv_drift_query(spark, d).collect()}
    # each day holds half the mass of each of the two pooled buckets:
    # TV = 0.5 * (|1 - 0.5| + |0 - 0.5|) = 0.5
    assert got == {"2024-01-01": 500_000, "2024-01-02": 500_000}
    # single-day corpus: reference == day -> 0
    d1 = str(tmp_path / "one")
    spark.createDataFrame(
        rows[:50],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/events.parquet")
    got1 = [r["tv_ppm"] for r in stream_tv_drift_query(spark, d1).collect()]
    assert got1 == [0]
