"""Checkpointed, resumable extraction runs with per-partition lineage.

The north rule requires the 10^12-document job to be *resumable from
checkpoint with per-partition lineage + metrics*: a failed run must
restart without recomputing completed partitions. The reference has no
equivalent (its fault tolerance is a per-request try/except,
fapi.py:255-263); this is the cluster-scale replacement.

Design (driver-orchestrated chunk manifest):

* The input is split into ``n_chunks`` deterministic, disjoint chunks by
  ``pmod(xxhash64(doc_id), n_chunks)`` — a pure function of the data, so
  every run of the same input produces the same chunks regardless of
  cluster size or input file layout.
* A group of up to ``CHUNKS_PER_PASS`` chunks is one Spark job: filter ->
  extract_documents -> parquet write partitioned by chunk into a temp
  dir, then each ``chunk=K`` dir is renamed into ``out/data/chunk=K/`` (a
  crashed task can never leave a half-chunk that looks complete).
* Each chunk's doc and media counts are observed metrics of that write
  (``Observation``), not a re-read of what it wrote.
* After the group's renames, its lineage rows (FIXTURES.md §6 schema:
  run_id, partition_id, doc/media counts, status, timings, throughput)
  are appended to the ``out/_lineage/`` sidecar in one write of a
  driver-built Arrow frame, which runs no Python task. The manifest of
  completed chunks IS the set of lineage rows with status='done' — a
  single source of truth for both resume and metrics. A crash between a
  rename and that append leaves chunks with no ``done`` row; resume
  recomputes them and replaces their dirs.
* Resume = re-run with the same ``out`` dir: completed chunks are
  anti-joined away by chunk id (a driver-side set difference — the
  manifest is tiny: n_chunks rows, even at 10^12 docs with 10k chunks)
  and only the remainder is computed.

At 100 TB the chunk count trades off resume granularity vs scheduling
overhead: each chunk should be many executor-partitions of work (the
inner job still parallelizes across the whole cluster via the exploded
media repartition in operators/pipeline.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .pipeline import extract_documents

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("media_count", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("throughput_docs_per_s", T.DoubleType()),
    ]
)


CHUNK_FN = "pmod(xxhash64(doc_id), n_chunks)"

# Pending chunks grouped into one Spark job each: one input scan covers the
# whole group (the chunk id cannot be pruned by parquet — it is a hash of
# doc_id — so per-chunk filtering would re-scan the full source n_chunks
# times; grouping makes the total re-scan cost n_chunks/CHUNKS_PER_PASS
# passes).  The result is still committed and lineage-tracked PER CHUNK — a
# crash loses at most the current group's work and resume granularity is
# unchanged.  Lineage timings for chunks of one group share the group's
# wall clock.
CHUNKS_PER_PASS = 8


def _chunk_col(n_chunks: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)).cast("int")


def _check_manifest(out_dir: str, n_chunks: int) -> None:
    """Pin (n_chunks, chunk function) for the lifetime of an output dir.

    Resume with a different n_chunks would reuse chunk ids from a
    DIFFERENT pmod chunking — documents silently dropped and/or
    duplicated in the assembled output.  Fail fast instead."""
    path = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            m = json.load(f)
        if m.get("n_chunks") != n_chunks or m.get("chunk_fn") != CHUNK_FN:
            raise ValueError(
                f"checkpoint dir {out_dir} was started with "
                f"n_chunks={m.get('n_chunks')} chunk_fn={m.get('chunk_fn')!r}; "
                f"resume requested n_chunks={n_chunks} chunk_fn={CHUNK_FN!r}. "
                "Use the original chunking or a fresh output dir."
            )
        return
    # No manifest: only safe to (back)fill one when the dir carries no
    # prior work.  A pre-manifest output dir with existing lineage/data
    # was chunked under an UNKNOWN n_chunks — stamping the new value and
    # resuming would mix two chunkings, the exact drop/duplicate
    # corruption this guard exists to prevent.
    has_prior_work = any(
        os.path.isdir(os.path.join(out_dir, d)) and os.listdir(os.path.join(out_dir, d))
        for d in ("_lineage", "data")
    )
    if has_prior_work:
        raise ValueError(
            f"checkpoint dir {out_dir} contains lineage/data but no "
            "_manifest.json (created before manifest pinning); its original "
            "n_chunks is unknown, so resume cannot prove chunk-id "
            "compatibility. Use a fresh output dir (or hand-write a "
            f"manifest {{'n_chunks': <original>, 'chunk_fn': {CHUNK_FN!r}}} "
            "if the original chunking is known)."
        )
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"n_chunks": n_chunks, "chunk_fn": CHUNK_FN}, f)
    os.rename(tmp, path)


def completed_chunks(spark: SparkSession, out_dir: str) -> set[int]:
    """Chunk ids already marked done in the lineage sidecar."""
    lineage_dir = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(lineage_dir) or not os.listdir(lineage_dir):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(lineage_dir)
        .filter(F.col("status") == "done")
        .select("partition_id")
        .collect()
    )
    return {r["partition_id"] for r in rows}


def _lineage_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Lineage rows as a frame built from Arrow on the driver: its plan is a
    ``LocalTableScan``, so writing it runs no Python task."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA))
    return spark.createDataFrame(table)


def run_checkpointed(
    df: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    run_id: str | None = None,
    max_chunks: int | None = None,
) -> dict:
    """Extract ``df`` (doc_id, spans) into ``out_dir`` resumably.

    ``max_chunks`` limits how many *pending* chunks this invocation
    processes (used by the resume tests to simulate a mid-run crash).

    Returns a summary dict: chunks done now / skipped (already done) /
    remaining.
    """
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    _check_manifest(out_dir, n_chunks)
    os.makedirs(os.path.join(out_dir, "data"), exist_ok=True)

    done = completed_chunks(spark, out_dir)
    pending = [k for k in range(n_chunks) if k not in done]
    if max_chunks is not None:
        pending = pending[:max_chunks]

    chunked = df.withColumn("_chunk", _chunk_col(n_chunks))
    ran = 0
    for g in range(0, len(pending), CHUNKS_PER_PASS):
        group = pending[g : g + CHUNKS_PER_PASS]
        t0 = time.time()
        part = chunked.filter(F.col("_chunk").isin(group)).drop("_chunk")
        # the pipeline consumes (doc_id, spans); re-derive the chunk id on
        # the OUTPUT from doc_id (same pure hash) for the partitioned write
        extracted = extract_documents(part)
        result = extracted.withColumn("chunk", _chunk_col(n_chunks))
        # each chunk's doc and media counts, observed on the write itself
        counts = Observation()
        chunk = F.col("chunk")
        result = result.observe(
            counts,
            *[
                metric
                for k in group
                for metric in (
                    F.count_if(chunk == k).alias(f"docs_{k}"),
                    F.sum(F.when(chunk == k, F.col("n_media"))).alias(f"media_{k}"),
                )
            ],
        )

        # one job for the whole group, atomically landed per chunk:
        # write partitioned by chunk into a tmp dir, then rename each
        # chunk=K subdir into place
        tmp = os.path.join(out_dir, "data", f"_tmp_group_{run_id}_{g}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        result.write.mode("overwrite").partitionBy("chunk").parquet(tmp)
        t1 = time.time()
        observed = counts.get

        rows = []
        for k in group:
            src = os.path.join(tmp, f"chunk={k}")
            final = os.path.join(out_dir, "data", f"chunk={k}")
            if not os.path.exists(src):
                # a chunk with zero documents still needs a committed dir
                os.makedirs(src, exist_ok=True)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(src, final)
            docs = observed[f"docs_{k}"]
            rows.append(
                {
                    "run_id": run_id,
                    "partition_id": k,
                    "doc_count": docs,
                    "media_count": observed[f"media_{k}"] or 0,
                    "status": "done",
                    "started_at": _ts(t0),
                    "finished_at": _ts(t1),
                    "throughput_docs_per_s": round(docs / max(t1 - t0, 1e-9), 3),
                }
            )
        _lineage_frame(spark, rows).coalesce(1).write.mode("append").parquet(
            os.path.join(out_dir, "_lineage")
        )
        ran += len(group)
        shutil.rmtree(tmp, ignore_errors=True)

    return {
        "run_id": run_id,
        "n_chunks": n_chunks,
        "ran": ran,
        "skipped": len(done),
        "remaining": n_chunks - len(done) - ran,
        "out_dir": out_dir,
    }


def _ts(epoch: float):
    import datetime

    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The assembled output across all completed chunks.  The chunk id is
    a directory-level partition column (chunk=K), not data — drop it so
    the output schema equals the pipeline's."""
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    return df.drop("chunk") if "chunk" in df.columns else df


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(
        os.path.join(out_dir, "_lineage")
    )
