"""SparkSession factory with the scale-tuned defaults for this engine.

Testing runs on local[N] in a single JVM; the configuration is written for a
multi-executor cluster (AQE, skew-join handling, Arrow batch sizing) so the
same job submits unchanged via spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: media OCR cost is dominated by per-image work inside
# the UDF, so batches of ~256 exploded media rows keep python-worker memory
# flat while amortizing Arrow transfer (the reference's OCR_BATCH_SIZE=16 is
# the *model* micro-batch, applied inside the kernel, not the Arrow batch).
ARROW_BATCH_ROWS = 256

# The driver heap's ceiling: at 24g on a 16 GB host a full sf0.1 bench.py
# run grew the driver JVM past 10.8 GB RSS.
MAX_DRIVER_MEM_GB = 24


def default_driver_mem(phys_bytes: int) -> str:
    """Half of physical memory, in whole GiB, capped at MAX_DRIVER_MEM_GB."""
    return f"{max(1, min(phys_bytes // 2**31, MAX_DRIVER_MEM_GB))}g"


def iceberg_configs(warehouse: str, catalog: str = "ice") -> dict[str, str]:
    """Spark confs registering a hadoop-type Iceberg catalog at ``warehouse``.

    Kept as a pure function so the wiring is testable without the
    iceberg-spark-runtime jar (absent in this sandbox): the catalog impl
    class only loads when a query touches ``<catalog>.<table>``, so
    setting these on a builder is safe jar-less, but reads require the
    jar on the cluster classpath (see README quickstart)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_runtime_available() -> bool:
    """True when an iceberg-spark-runtime jar is reachable in THIS
    environment: either ``$SPARK_GRAFT_ICEBERG_JAR`` points at one, or
    one already sits in pyspark's bundled jars directory.  The live
    read/write round-trip test (tests/test_session.py) keys on this —
    skip-if-absent today, auto-enabled the moment a jar lands."""
    env = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env and os.path.exists(env):
        return True
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any(
            n.startswith("iceberg-spark-runtime") and n.endswith(".jar")
            for n in os.listdir(jars_dir)
        )
    except OSError:
        return False


def engine_configs() -> dict[str, str]:
    """Spark confs that make this engine what it is, for every session.

    ``get_spark`` adds them to a local session; ``tools/run_extract.py``
    adds the ones its spark-submit command did not set.  None of them
    names a master, a heap or a core count."""
    # the directory holding the ocr_spark package, or the --py-files zip
    # when the package was imported from one: the worker daemon runs
    # `python -m ocr_spark.daemon`, which must import ocr_spark whatever
    # the driver's cwd is
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.python.worker.reuse": "true",
        # ocr_spark/daemon.py preloads numpy/pandas/pyarrow + kernels and
        # guards the per-task zip re-read: without it every Python task
        # pays ~0.28 s in importlib.invalidate_caches() re-reading
        # pyspark.zip (a 32-task no-op rdd.map at local[1]: 7.2 s -> 1.9 s)
        "spark.python.daemon.module": "ocr_spark.daemon",
        "spark.executorEnv.PYTHONPATH": package_root,
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # one BLAS thread per Python worker: the recognition kernel's
        # matmul otherwise spawns ncpu OpenBLAS threads in EVERY worker
        # (ncpu^2 threads at local[ncpu] -- measured 4x slowdown at
        # local[32]); the executor env reaches the daemon before it
        # preloads numpy, and leaves the driver's environment alone
        **{
            f"spark.executorEnv.{var}": "1"
            for var in (
                "OMP_NUM_THREADS",
                "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS",
                "NUMEXPR_NUM_THREADS",
            )
        },
    }


def get_spark(
    cores: int | str | None = None,
    app_name: str = "ocr_spark",
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession running ``engine_configs()``.

    cores: int N -> local[N]; '*' -> local[*]; None -> $SPARK_GRAFT_CPUS or 32.
    Shuffle partitions follow the core count (32 for '*').
    iceberg_warehouse: when set, registers a hadoop-type Iceberg catalog
    named ``ice`` at that path (production input per the target spec;
    requires the iceberg-spark-runtime jar on the cluster — not bundled in
    this sandbox, where tests read the same schemas from plain parquet).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = int(cores) if str(cores).isdigit() else 32
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": driver_mem,
        "spark.ui.enabled": "false",
        # Console progress bars flood the combined output the bench driver
        # tail-captures; the JSON machine line must stay the last thing in
        # that window.
        "spark.ui.showConsoleProgress": "false",
        **engine_configs(),
    }
    if iceberg_warehouse:
        confs.update(iceberg_configs(iceberg_warehouse))
        # opportunistic jar wiring: when the environment provides the
        # runtime jar via $SPARK_GRAFT_ICEBERG_JAR, ship it to the JVM so
        # the catalog path goes LIVE (fresh JVM required — spark.jars and
        # spark.sql.extensions are static confs; see README quickstart)
        jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
        if jar and os.path.exists(jar):
            confs["spark.jars"] = jar
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config(map=confs)
        .getOrCreate()
    )
