"""OCR-span extraction benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Each workload is a batch job run as a
closed loop of one: a single driver process runs ``local[<cores>]`` (all
CPUs this process may use), and the next timed pass starts when the
previous one completes.  A run generates (or reuses) the seeded input,
starts the session, runs two warm-up passes, then times passes for
``--seconds``.  After the timed region it extracts once more and checks
every document against the layout ground truth.

Workloads (see ``inputs.py`` for sizes):

* ``mixed_media``: the corpus media mix through ``extract_documents``
  into a noop sink; bound by the OCR kernel (detect, recognize, the
  orientation/deskew ladder), with a heavy tail and ``#err`` refs.
* ``checkpoint_resume``: ``run_checkpointed`` with half the chunks, then
  a resume into the same fresh directory; the write, commit and lineage
  path.  Lineage and telemetry changes show here and nowhere else, and
  its pass is mostly commit work, so a kernel-only change should barely
  move it.
* ``invoice_fields``: ``extract_invoice_fields`` over single invoices
  and ``#multi`` sheets; the only workload that runs ``core.fields``,
  the ``core.qr`` retry ladder and the normalizer projections.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer metrics: it alternates untraced passes with passes under a
Spark job group whose stages the ledger reads from the status store (the
gap is the tracing overhead), then replays every media item through the
kernel's public functions under timing wrappers, replays the invoice
normalizers alone on ``invoice_fields``, and on ``mixed_media`` times a
``local[1]`` pass for the scaling efficiency.  Spans of the replay are
written to ``_work/traces``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 when
any document's output differs from the ground truth.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("mixed_media", "checkpoint_resume", "invoice_fields")
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 1
# checkpoint_resume: the first call commits half the chunks (a crash
# after CKPT_CHUNKS // 2), the resume commits the rest
CKPT_CHUNKS = 2
# The driver heap, in place of the program's 24g default.  At 24g the
# JVM's RSS grows in G1 heap-expansion steps of ~270 MB that happen in
# some runs and not in others, so jvm_rss_mb would measure the collector's
# sizing choice; a 1g cap removes those steps and leaves docs/s unchanged.
DRIVER_MEM = "1g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "jvm_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "trace.docs_per_s": "docs/s",
    "trace.overhead_pct": "%",
    "pipeline.jobs": "count",
    "pipeline.explode.task_s": "s",
    "pipeline.exchange.bytes": "bytes",
    "pipeline.udf.task_s": "s",
    "pipeline.udf.overhead_s": "s",
    "pipeline.udf.task_skew": "ratio",
    "pipeline.reassembly.task_s": "s",
    "pipeline.reassembly.bytes": "bytes",
    "pipeline.scaling_eff": "ratio",
    "render.ms_per_page": "ms",
    "detect.seal_binarize.ms_per_page": "ms",
    "detect.unit_scale.ms_per_page": "ms",
    "detect.lines.ms_per_page": "ms",
    "detect.lines.calls_per_page": "count",
    "detect.lines.useful_frac": "ratio",
    "recognize.probe.ms_per_page": "ms",
    "recognize.full.ms_per_page": "ms",
    "recognize.full.calls_per_page": "count",
    "extract.orient.ms_per_page": "ms",
    "extract.deskew.ms_per_page": "ms",
    "extract.page_ms.p50": "ms",
    "extract.page_ms.p99": "ms",
    "extract.deskew.pages_frac": "ratio",
    "extract.deskew.trials_per_page": "count",
    "reading_order.ms_per_page": "ms",
    "kernel.ms_per_page": "ms",
    "kernel.self_sum_frac": "ratio",
    "checkpoint.extract_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.jobs_per_chunk": "count",
    "checkpoint.bytes_written": "bytes",
    "fields.normalize.task_s": "s",
    "fields.regions.ms_per_sheet": "ms",
    "fields.extract.ms_per_region": "ms",
    "qr.attempts_per_region": "count",
    "qr.useful_frac": "ratio",
}


def _prepare_env(tmp: str) -> None:
    """Launch hygiene, before the JVM starts: the worker daemon imports
    ``ocr_spark`` from PYTHONPATH, every temp file stays in the checkout,
    and the render stressor rates stay at the program's defaults."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    for var in ("OCR_SPARK_SKEW_PROB", "OCR_SPARK_FLIP_PROB"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]


class Job:
    """One workload's pass and correctness check on a live session."""

    def __init__(self, wl, spark, tmp: str) -> None:
        self.wl = wl
        self.spark = spark
        self.tmp = tmp
        self.last_out: str | None = None

    def _df(self):
        return self.spark.read.parquet(self.wl.path)

    def run_pass(self) -> None:
        name = self.wl.name
        if name == "invoice_fields":
            from ocr_spark.operators.fields import extract_invoice_fields

            _noop(extract_invoice_fields(self._df()))
        elif name == "checkpoint_resume":
            self._checkpoint_pass()
        else:
            from ocr_spark.operators.pipeline import extract_documents

            _noop(extract_documents(self._df()))

    def _checkpoint_pass(self) -> None:
        from ocr_spark.operators.checkpoint import run_checkpointed

        out = tempfile.mkdtemp(prefix="ckpt-", dir=self.tmp)
        half = CKPT_CHUNKS // 2
        first = run_checkpointed(self._df(), out, n_chunks=CKPT_CHUNKS, max_chunks=half)
        resume = run_checkpointed(self._df(), out, n_chunks=CKPT_CHUNKS)
        got = (first["ran"], resume["skipped"], resume["ran"], resume["remaining"])
        if got != (half, half, CKPT_CHUNKS - half, 0):
            raise RuntimeError(f"checkpoint resume contract broken: {first} {resume}")
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out

    def check(self) -> tuple[int, list[str]]:
        """(documents attempted, failed ids) of one more extraction."""
        from truth import check_docs, check_invoices

        name = self.wl.name
        if name == "invoice_fields":
            from ocr_spark.operators.fields import extract_invoice_fields

            rows = extract_invoice_fields(self._df()).toArrow().to_pylist()
            return check_invoices(self.wl.truth, rows)
        if name == "checkpoint_resume":
            from ocr_spark.operators.checkpoint import read_lineage, read_output

            done = read_lineage(self.spark, self.last_out).filter("status = 'done'").count()
            if done != CKPT_CHUNKS:
                raise RuntimeError(f"lineage holds {done} done chunks, want {CKPT_CHUNKS}")
            rows = read_output(self.spark, self.last_out).toArrow().to_pylist()
        else:
            from ocr_spark.operators.pipeline import extract_documents

            rows = extract_documents(self._df()).toArrow().to_pylist()
        return check_docs(self.wl.truth, rows)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(run_pass, seconds: float, sampler=None, ledger=None, tag: str = ""):
    """Closed loop of ``run_pass`` for ``seconds`` (at least
    MIN_TIMED_PASSES).  Returns per-pass (wall_s, worker_mb, jvm_mb,
    ledger record)."""
    passes = []
    t_begin = time.perf_counter()
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - t_begin < seconds:
        group = f"perfbench-{tag}-{len(passes)}"
        t0 = time.perf_counter()
        if ledger is None:
            run_pass()
        else:
            ledger.run(group, run_pass)
        t1 = time.perf_counter()
        w, j = sampler.peaks(t0, t1) if sampler else (0.0, 0.0)
        passes.append((t1 - t0, w, j, ledger.group(group) if ledger else None))
    return passes


def _interleaved(run_pass, seconds: float, ledger, tag: str):
    """Untraced and traced passes in turn for ``2 * seconds``, so that
    warm-up still in progress or a change in host speed falls on both
    alike.  Returns (untraced, traced) pass lists as ``_timed`` does."""
    plain, traced = [], []
    t_begin = time.perf_counter()
    while not traced or time.perf_counter() - t_begin < 2 * seconds:
        plain += _timed(run_pass, 0)
        traced += _timed(run_pass, 0, ledger=ledger, tag=f"{tag}-{len(traced)}")
    return plain, traced


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _per_layer(job, wl, passes_plain, passes_traced, tracer, n_cores, seconds):
    """Every per-layer metric for this workload; a layer that does not run
    on it (the checkpoint commit on a noop sink, the invoice layers on
    span documents) reads 0."""
    from ledger import median_of
    from tracer import fields_metrics, kernel_metrics, replay_invoices, replay_media

    m = {k: 0.0 for k in PER_LAYER}
    n = wl.n_docs
    plain = statistics.median(n / p[0] for p in passes_plain)
    traced = statistics.median(n / p[0] for p in passes_traced)
    m["trace.docs_per_s"] = traced
    m["trace.overhead_pct"] = 100.0 * (plain - traced) / plain
    recs = [p[3] for p in passes_traced]
    m["pipeline.jobs"] = median_of(recs, "jobs")
    for key in ("explode.task_s", "exchange.bytes", "udf.task_s", "udf.task_skew",
                "reassembly.task_s", "reassembly.bytes"):
        m[f"pipeline.{key}"] = median_of(recs, key)
    if wl.name == "checkpoint_resume":
        # extraction jobs against the rest of a pass: the per-chunk commit
        # (rename, stats re-read, lineage append)
        m["checkpoint.extract_s"] = median_of(recs, "pipeline_wall_s")
        m["checkpoint.commit_s"] = (
            statistics.median(p[0] for p in passes_traced) - m["checkpoint.extract_s"]
        )
        m["checkpoint.jobs_per_chunk"] = m["pipeline.jobs"] / CKPT_CHUNKS
        m["checkpoint.bytes_written"] = median_of(recs, "output_bytes")

    if wl.kind == "refs":
        refs = job._df().toPandas()["media_ref"].tolist()
        replay_invoices(tracer, refs)
        n_sheets = sum(r.endswith("#multi") for r in refs)
        m.update(fields_metrics(tracer, n_sheets))
        m["fields.normalize.task_s"] = _normalize_task_s(job, seconds / 2)
    else:
        refs = [
            s["media_ref"]
            for row in job._df().toArrow().to_pylist()
            for s in row["spans"]
            if s["kind"] == "media"
        ]
        replay_media(tracer, refs)
    km = kernel_metrics(tracer)
    m.update({k: v for k, v in km.items() if k in m})
    m["pipeline.udf.overhead_s"] = m["pipeline.udf.task_s"] - km["kernel.replay_s"]
    if wl.name == "mixed_media":
        m["pipeline.scaling_eff"] = _scaling_eff(job, plain, n_cores)
    return m


def _normalize_task_s(job: Job, seconds: float) -> float:
    """Task time of the normalizer projections of ``extract_invoice_fields``.

    They share one stage with the field kernel, so they are replayed
    alone: the plan's field-kernel subtree (its deepest ``MapInPandas``) is
    cached, and the whole query then runs against the cache, leaving the
    base normalizers, the identity barrier and the composite normalizers
    in the stage.  The first replay warms the in-memory scan."""
    from ledger import Ledger, median_of
    from pyspark.sql import DataFrame

    from ocr_spark.operators.fields import extract_invoice_fields

    df = extract_invoice_fields(job._df())
    node, kernel = df._jdf.queryExecution().analyzed(), None
    while node.children().size():
        if node.nodeName() == "MapInPandas":
            kernel = node
        node = node.children().apply(0)
    if kernel is None:
        return 0.0
    jvm = job.spark._jvm
    raw = DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        job.spark._jsparkSession, kernel), job.spark)
    raw.cache().count()
    try:
        _noop(df)
        replays = _timed(lambda: _noop(df), seconds, ledger=Ledger(job.spark), tag="norm")
    finally:
        raw.unpersist()
    return median_of([p[3] for p in replays], "udf.task_s")


def _scaling_eff(job: Job, dps_n: float, n_cores: int) -> float:
    """docs/s at local[n] over n x docs/s at local[1] on the same input."""
    from ocr_spark.session import get_spark

    job.spark.stop()
    job.spark = get_spark(1)
    job.run_pass()  # warm the fresh worker daemon
    t0 = time.perf_counter()
    job.run_pass()
    dps_1 = job.wl.n_docs / (time.perf_counter() - t0)
    return dps_n / (n_cores * dps_1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "operators", "pipeline.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=os.path.join(WORK, "tmp"))
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str) -> int:
    _prepare_env(tmp)
    import inputs

    t_gen = time.perf_counter()
    wl = inputs.load(args.workload, args.seed, os.path.join(WORK, "inputs"))
    t_setup = time.perf_counter()
    pre_gen = t_gen - T_START

    from procmem import RssSampler
    from pyspark import SparkContext

    from ocr_spark.session import get_spark

    n_cores = len(os.sched_getaffinity(0))
    t_session = time.perf_counter()
    spark = get_spark(n_cores)
    session_s = time.perf_counter() - t_session
    job = Job(wl, spark, tmp)
    try:
        for _ in range(WARMUP_PASSES):
            job.run_pass()
        setup_s = pre_gen + (time.perf_counter() - t_setup)

        if args.trace:
            from ledger import Ledger

            plain, traced = _interleaved(job.run_pass, args.seconds, Ledger(spark), wl.name)
        else:
            sampler = RssSampler(SparkContext._gateway.proc.pid)
            sampler.start()
            try:
                plain = _timed(job.run_pass, args.seconds, sampler=sampler)
            finally:
                sampler.stop()
        attempted, failed = job.check()

        if args.trace:
            from tracer import Tracer

            tracer = Tracer()
            metrics = _per_layer(job, wl, plain, traced, tracer, n_cores, args.seconds)
            metrics["session.start_s"] = session_s
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{wl.name}-s{wl.seed}.json"))
            units = PER_LAYER
        else:
            dps = [wl.n_docs / p[0] for p in plain]
            metrics = {
                "docs_per_s": statistics.median(dps),
                "setup_s": setup_s,
                "worker_rss_mb": statistics.median(p[1] for p in plain),
                # The JVM's RSS still climbs for several passes (generated
                # code, heap growth up to the cap), so it is read at a
                # fixed pass, not over however many passes fit in the window.
                "jvm_rss_mb": plain[0][2],
            }
            units = END_TO_END
    finally:
        _stop_spark(job.spark)

    print(f"workload {wl.name} seed {wl.seed} cores {n_cores}")
    print("input " + " ".join(f"{k}={v:g}" for k, v in wl.stats.items()))
    dps = [wl.n_docs / p[0] for p in plain]
    q1, q2, q3 = _quartiles(dps)
    print(f"docs_per_s median {q2:.3f} q1 {q1:.3f} q3 {q3:.3f} n {len(dps)} passes")
    print("pass_s " + " ".join(f"{p[0]:.3f}" for p in plain))
    if not args.trace:
        print("pass_jvm_mb " + " ".join(f"{p[2]:.0f}" for p in plain))
    print(f"failed_frac {len(failed) / attempted:.6f} ratio ({len(failed)} of {attempted} docs)")
    for doc in failed[:5]:
        print(f"  failed: {doc}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": attempted,
                "failed": len(failed),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
