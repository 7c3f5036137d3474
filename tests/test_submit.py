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
corpus, and the output is verified with DuckDB — a second engine, so a
pyspark-side read bug cannot mask a broken write.
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
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    from ocr_spark.fixtures.corpus import write_corpus

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
    env = dict(os.environ)
    # The zip must be the ONLY import path for ocr_spark: drop any
    # PYTHONPATH and run from a neutral cwd (tmp_path, not the repo).
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--conf",
        "spark.sql.shuffle.partitions=8",
        "--conf",
        "spark.ui.enabled=false",
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
    proc = subprocess.run(
        cmd,
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_chunks"] == 4
    assert summary["ran"] == 4
    assert summary["remaining"] == 0

    # Verify the committed output with a SECOND engine (DuckDB): all 24
    # docs present exactly once per span row, 4 lineage rows, doc counts
    # in lineage sum to the corpus size.
    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT count(DISTINCT doc_id) FROM read_parquet('{out}/data/*/*.parquet')"
    ).fetchone()[0]
    assert n_docs == 24
    lin = con.execute(
        "SELECT count(*), sum(doc_count) FROM "
        f"read_parquet('{out}/_lineage/*.parquet')"
    ).fetchone()
    assert lin[0] == 4
    assert lin[1] == 24
