"""Resume-from-checkpoint semantics (north rule; FIXTURES.md §6).

Simulated crash: a first invocation processes only a prefix of the
pending chunks (``max_chunks``); the resumed invocation must skip them
(no recompute — verified via lineage run_ids) and the final output must
equal a clean single-shot run of the pipeline.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures.corpus import build_corpus
from ocr_spark.operators.checkpoint import (
    CHUNKS_PER_PASS,
    _lineage_frame,
    completed_chunks,
    read_lineage,
    read_output,
    run_checkpointed,
)
from ocr_spark.operators.pipeline import extract_documents

N_DOCS = 24
N_CHUNKS = 4


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("ckpt") / "corpus.parquet"
    pq.write_table(build_corpus(N_DOCS, seed=7), str(path))
    return str(path)


def _canon(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_crash_resume_no_recompute(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    df = spark.read.parquet(corpus_path).select("doc_id", "spans")

    first = run_checkpointed(
        df, out, n_chunks=N_CHUNKS, max_chunks=2, run_id="run-a"
    )
    assert first["ran"] == 2 and first["remaining"] == 2
    assert completed_chunks(spark, out) == set(
        read_lineage(spark, out).select("partition_id").toPandas()["partition_id"]
    )

    second = run_checkpointed(df, out, n_chunks=N_CHUNKS, run_id="run-b")
    assert second["skipped"] == 2 and second["ran"] == 2 and second["remaining"] == 0

    lineage = read_lineage(spark, out).toPandas()
    assert len(lineage) == N_CHUNKS
    assert set(lineage["partition_id"]) == set(range(N_CHUNKS))
    # the chunks completed before the crash keep their original run_id:
    # they were NOT recomputed by the resumed run
    assert sorted(lineage["run_id"]) == ["run-a", "run-a", "run-b", "run-b"]
    assert (lineage["status"] == "done").all()
    assert (lineage["doc_count"] > 0).any()

    resumed = _canon(read_output(spark, out))
    clean = _canon(extract_documents(df))
    assert resumed == clean


def test_lineage_metrics_consistency(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out2")
    df = spark.read.parquet(corpus_path).select("doc_id", "spans")
    run_checkpointed(df, out, n_chunks=2, run_id="run-c")
    lineage = read_lineage(spark, out).toPandas()
    output = read_output(spark, out)
    assert int(lineage["doc_count"].sum()) == N_DOCS == output.count()
    assert int(lineage["media_count"].sum()) == int(
        output.agg(F.sum("n_media")).collect()[0][0]
    )
    assert (lineage["throughput_docs_per_s"] > 0).all()
    assert (lineage["finished_at"] >= lineage["started_at"]).all()


def test_resume_rejects_premanifest_dir(spark, corpus_path, tmp_path):
    """An output dir with lineage/data but no manifest (created before
    manifest pinning) has an UNKNOWN original n_chunks; backfilling a
    manifest with the new value would mix two chunkings. Refuse."""
    out = str(tmp_path / "out_premanifest")
    df = spark.read.parquet(corpus_path).select("doc_id", "spans")
    run_checkpointed(df, out, n_chunks=2, max_chunks=1, run_id="run-p")
    import os

    os.remove(os.path.join(out, "_manifest.json"))  # simulate pre-manifest dir
    with pytest.raises(ValueError, match="no\\s+_manifest"):
        run_checkpointed(df, out, n_chunks=2, run_id="run-q")


def test_resume_rejects_changed_n_chunks(spark, corpus_path, tmp_path):
    """A different n_chunks implies a different pmod chunking: reusing
    chunk ids would silently drop/duplicate documents, so resume must
    fail fast on the recorded manifest."""
    out = str(tmp_path / "out_manifest")
    df = spark.read.parquet(corpus_path).select("doc_id", "spans")
    run_checkpointed(df, out, n_chunks=2, max_chunks=1, run_id="run-m")
    with pytest.raises(ValueError, match="n_chunks"):
        run_checkpointed(df, out, n_chunks=8, run_id="run-n")


def test_empty_chunk_commits_zero_count_row(spark, tmp_path):
    """With more chunks than documents some chunks hold no document; each
    still commits a ``done`` lineage row counting 0 docs and 0 media, so
    resume skips it for the right reason."""
    path = str(tmp_path / "two_docs.parquet")
    pq.write_table(build_corpus(2, seed=7), path)
    df = spark.read.parquet(path).select("doc_id", "spans")
    out = str(tmp_path / "out_empty")
    summary = run_checkpointed(df, out, n_chunks=N_CHUNKS * 2, run_id="run-e")
    assert summary["ran"] == N_CHUNKS * 2 and summary["remaining"] == 0

    lineage = read_lineage(spark, out).toPandas()
    assert sorted(lineage["partition_id"]) == list(range(N_CHUNKS * 2))
    assert (lineage["status"] == "done").all()
    empty = lineage[lineage["doc_count"] == 0]
    assert len(empty) >= N_CHUNKS * 2 - 2
    assert (empty["media_count"] == 0).all()
    assert int(lineage["doc_count"].sum()) == 2 == read_output(spark, out).count()


def test_lineage_frame_runs_no_python_task(spark):
    """The lineage rows are written from a driver-built Arrow frame: a
    ``LocalTableScan``, not a Python RDD scan that costs a Python task."""
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc)
    row = {
        "run_id": "r", "partition_id": 0, "doc_count": 1, "media_count": 2,
        "status": "done", "started_at": now, "finished_at": now,
        "throughput_docs_per_s": 1.0,
    }
    plan = _lineage_frame(spark, [row])._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_one_lineage_file_per_group(spark, corpus_path, tmp_path):
    """Each group of CHUNKS_PER_PASS chunks appends its lineage rows in
    one write: one part file per group."""
    import os

    out = str(tmp_path / "out_groups")
    df = spark.read.parquet(corpus_path).select("doc_id", "spans")
    n_chunks = 2 * CHUNKS_PER_PASS
    run_checkpointed(df, out, n_chunks=n_chunks, run_id="run-g")
    parts = [
        f for f in os.listdir(os.path.join(out, "_lineage")) if f.startswith("part-")
    ]
    assert len(parts) == 2, parts
    lineage = read_lineage(spark, out).toPandas()
    assert sorted(lineage["partition_id"]) == list(range(n_chunks))
    assert int(lineage["doc_count"].sum()) == N_DOCS
