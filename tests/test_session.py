"""Session-factory wiring, Iceberg catalog registration in particular.

The iceberg-spark-runtime jar is absent in this sandbox, so live reads
through the catalog cannot be exercised; what IS testable jar-less is
the exact conf wiring ``spark-submit`` would carry to a real cluster
(SURVEY §1.2 names ``spark.read.format("iceberg")`` as the production
source — catalog confs are plain SQL confs, only resolved to the impl
class when a query touches ``ice.<table>``).
"""

from __future__ import annotations

from ocr_spark.session import default_driver_mem, get_spark, iceberg_configs


def test_iceberg_configs_shape():
    confs = iceberg_configs("/tmp/warehouse")
    assert confs["spark.sql.catalog.ice"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.ice.type"] == "hadoop"
    assert confs["spark.sql.catalog.ice.warehouse"] == "/tmp/warehouse"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_iceberg_configs_custom_catalog_name():
    confs = iceberg_configs("s3://bucket/wh", catalog="prod")
    assert confs["spark.sql.catalog.prod"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.prod.warehouse"] == "s3://bucket/wh"


def test_get_spark_applies_iceberg_catalog_confs(spark):
    """Catalog confs are runtime-modifiable SQL confs: even against an
    existing session, get_spark(iceberg_warehouse=...) must land them on
    the session conf (the static spark.sql.extensions conf is the one
    piece that genuinely needs a fresh JVM, documented in README)."""
    s = get_spark(cores=8, iceberg_warehouse="/tmp/ice_wh_test")
    assert s.conf.get("spark.sql.catalog.ice") == (
        "org.apache.iceberg.spark.SparkCatalog"
    )
    assert s.conf.get("spark.sql.catalog.ice.type") == "hadoop"
    assert s.conf.get("spark.sql.catalog.ice.warehouse") == "/tmp/ice_wh_test"


def test_iceberg_live_roundtrip_when_jar_present(tmp_path):
    """LIVE Iceberg write/read round-trip — auto-enabled the moment the
    environment provides an iceberg-spark-runtime jar (via pyspark's
    jars dir or $SPARK_GRAFT_ICEBERG_JAR), skipped cleanly until then.
    Runs in a SUBPROCESS because spark.sql.extensions / spark.jars are
    static confs needing a fresh JVM."""
    import subprocess
    import sys
    import textwrap

    import pytest

    from ocr_spark.session import iceberg_runtime_available

    if not iceberg_runtime_available():
        pytest.skip("iceberg-spark-runtime jar absent in this environment")

    script = textwrap.dedent(
        f"""
        from ocr_spark.session import get_spark

        spark = get_spark(
            cores=2, app_name="ice-rt", iceberg_warehouse="{tmp_path}/wh"
        )
        spark.sql(
            "create table ice.db.t (doc_id string, n int) using iceberg"
        )
        spark.sql("insert into ice.db.t values ('a', 1), ('b', 2)")
        rows = sorted(
            (r["doc_id"], r["n"])
            for r in spark.read.format("iceberg").load("ice.db.t").collect()
        )
        assert rows == [("a", 1), ("b", 2)], rows
        print("ICEBERG_ROUNDTRIP_OK")
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert "ICEBERG_ROUNDTRIP_OK" in out.stdout, out.stderr[-2000:]


def test_worker_daemon_imports_outside_repo_root(tmp_path):
    """The worker daemon (``python -m ocr_spark.daemon``) must find
    ocr_spark when the driver runs from a cwd that cannot import it and
    no PYTHONPATH is set: a driver that imports the package through
    sys.path alone still runs a Python stage.  Its workers run with one
    BLAS thread each, and the driver's own environment is left alone."""
    import os
    import subprocess
    import sys
    import textwrap

    blas = (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import os
        import sys

        sys.path.insert(0, {repo!r})
        from ocr_spark.session import get_spark

        BLAS = {blas!r}
        spark = get_spark(cores=1, app_name="daemon-cwd")
        leaked = [v for v in BLAS if v in os.environ]
        assert not leaked, leaked

        def probe(batches):
            for pdf in batches:
                yield pdf.assign(
                    n=pdf["n"] + 1,
                    blas=",".join(os.environ.get(v, "") for v in BLAS),
                )

        rows = spark.range(1).selectExpr("cast(id as int) as n").mapInPandas(
            probe, schema="n int, blas string"
        ).collect()
        assert [r["n"] for r in rows] == [1], rows
        assert rows[0]["blas"] == "1,1,1,1,1", rows
        print("DAEMON_OK")
        spark.stop()
        """
    )
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH" and k not in blas
    }
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=600,
    )
    assert "DAEMON_OK" in out.stdout, (out.stdout + out.stderr)[-3000:]


def test_environment_reads_only_in_session():
    """Deployment settings are read from the environment in ONE place,
    session.py; anywhere else an ``os.environ`` / ``os.getenv`` read is a
    hidden knob (no caller sets it, yet it silently changes outputs)."""
    import ast
    from pathlib import Path

    import ocr_spark

    root = Path(ocr_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name in ("environ", "getenv") for a in node.names)
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, hits


def test_default_driver_mem_follows_host():
    """The driver heap defaults to half of physical memory, capped at 24g."""
    assert default_driver_mem(16 * 2**30) == "8g"
    assert default_driver_mem(64 * 2**30) == "24g"


def test_worker_invalidate_caches_is_cheap(spark):
    """pyspark runs ``importlib.invalidate_caches()`` at the start of every
    Python task; unguarded, each call re-reads pyspark.zip once per
    imported pyspark subpackage (~280 ms).  The worker daemon's zip guard
    makes it a few stats."""

    def timed(batches):
        import importlib
        import time

        for pdf in batches:
            t = time.perf_counter()
            importlib.invalidate_caches()
            yield pdf.assign(ms=(time.perf_counter() - t) * 1e3)

    row = spark.range(1).mapInPandas(timed, "id long, ms double").collect()[0]
    assert row["ms"] < 20, row


def test_zip_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    """An unchanged zip is not re-read by ``invalidate_caches``; a zip
    rewritten with a new module is, and the new module imports."""
    import importlib
    import os
    import sys
    import zipfile
    import zipimport

    from ocr_spark import daemon

    archive = str(tmp_path / "guarded.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_first.py", "VALUE = 1\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(daemon, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_first").VALUE == 1
        importlib.invalidate_caches()  # first call: no stamp yet, one read
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: no re-read

        st = os.stat(archive)
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zg_first.py", "VALUE = 1\n")
            z.writestr("zg_second.py", "VALUE = 2\n")
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("zg_second").VALUE == 2
    finally:
        for mod in ("zg_first", "zg_second"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
