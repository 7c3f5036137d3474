"""End-to-end ``spark-submit --py-files`` packaging test.

The north rule requires the job to "run via spark-submit --py-files on a
multi-executor cluster"; this test proves the packaged shape works with
NO repo checkout on the import path: ``dist/ocr_spark.zip`` (built by
``tools/make_pyfiles.sh``) must be the only way the driver and the
python workers can import ``ocr_spark``.  The reference deploys as a
flask service (api.py) — the spark-submit zip is this repo's equivalent
deployable unit.

The run exercises the full checkpointed extraction (chunk manifest,
per-chunk lineage, partitioned atomic commit) on a real interleaved
corpus, stopped after two chunks and resumed.  Its event log shows the
job ran the engine ``get_spark`` builds (worker daemon, Kryo) with a
submit-time conf left as submitted, and DuckDB -- a second engine, so a
pyspark-side read bug cannot mask a broken write -- checks that its
output equals a ``get_spark`` session's run of the same corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path, spark):
    from ocr_spark.fixtures.corpus import write_corpus
    from ocr_spark.operators.checkpoint import run_checkpointed

    corpus = str(tmp_path / "docs.parquet")
    write_corpus(corpus, 24, seed=7)

    build = subprocess.run(
        ["bash", os.path.join(REPO, "tools", "make_pyfiles.sh")],
        capture_output=True,
        text=True,
    )
    assert build.returncode == 0, build.stderr[-2000:]
    zip_path = os.path.join(REPO, "dist", "ocr_spark.zip")
    assert os.path.exists(zip_path)

    out = str(tmp_path / "out")
    events = tmp_path / "events"
    events.mkdir()
    env = dict(os.environ)
    # The zip must be the ONLY import path for ocr_spark: drop any
    # PYTHONPATH and run from a neutral cwd (tmp_path, not the repo).
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [SPARK_SUBMIT, "--master", "local[4]"]
    for conf in (
        "spark.sql.shuffle.partitions=8",
        "spark.ui.enabled=false",
        # engine_configs() sets 256; the submitted value must win
        "spark.sql.execution.arrow.maxRecordsPerBatch=64",
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir={events}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ):
        cmd += ["--conf", conf]
    cmd += [
        "--py-files",
        zip_path,
        os.path.join(REPO, "tools", "run_extract.py"),
        "--input",
        corpus,
        "--output",
        out,
        "--n-chunks",
        "4",
    ]

    def submit(*args: str) -> dict:
        proc = subprocess.run(
            cmd + list(args),
            env=env,
            cwd=str(tmp_path),
            capture_output=True,
            text=True,
            timeout=900,
        )
        assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    first = submit("--max-chunks", "2")
    assert (first["n_chunks"], first["ran"], first["remaining"]) == (4, 2, 2)
    resumed = submit()
    assert (resumed["skipped"], resumed["ran"], resumed["remaining"]) == (2, 2, 0)

    # both jobs ran the engine's confs, with no --conf naming them
    logs = sorted(events.iterdir())
    assert len(logs) == 2, logs
    for log in logs:
        with open(log) as f:
            props = next(
                e["Spark Properties"]
                for e in map(json.loads, f)
                if e["Event"] == "SparkListenerEnvironmentUpdate"
            )
        assert props["spark.python.daemon.module"] == "ocr_spark.daemon"
        assert props["spark.executorEnv.PYTHONPATH"].endswith("ocr_spark.zip")
        assert props["spark.serializer"].endswith("KryoSerializer")
        assert props["spark.sql.execution.arrow.maxRecordsPerBatch"] == "64"

    # the same corpus through a get_spark session
    ref = str(tmp_path / "ref")
    run_checkpointed(
        spark.read.parquet(corpus).select("doc_id", "spans"), ref, n_chunks=4
    )

    # Verify both outputs with a SECOND engine (DuckDB): the committed
    # rows are equal, all 24 docs are present once, and the lineage rows
    # agree chunk by chunk.
    con = duckdb.connect()

    def data(root: str) -> str:
        return f"read_parquet('{root}/data/*/*.parquet', hive_partitioning=true)"

    def lineage(root: str) -> list[tuple]:
        return con.execute(
            "SELECT partition_id, doc_count, media_count, status FROM "
            f"read_parquet('{root}/_lineage/*.parquet') ORDER BY partition_id"
        ).fetchall()

    assert con.execute(f"SELECT count(*) FROM {data(out)}").fetchone()[0] == 24
    assert con.execute(
        f"SELECT count(DISTINCT doc_id) FROM {data(out)}"
    ).fetchone()[0] == 24
    for a, b in ((out, ref), (ref, out)):
        assert con.execute(
            f"SELECT count(*) FROM (FROM {data(a)} EXCEPT ALL FROM {data(b)})"
        ).fetchone()[0] == 0
    got = lineage(out)
    assert got == lineage(ref)
    assert [r[0] for r in got] == [0, 1, 2, 3]
    assert sum(r[1] for r in got) == 24
