"""End-to-end OCR quality metrics — the GRADED evaluation harness.

Mirrors the reference's ``tools/end2end/eval_end2end.py:71-183``: per
page, predicted boxes greedy-match ground-truth boxes by descending
IoU at threshold 0.5 (each side matched at most once); matched
non-ignored pairs score a hit when the texts are equal exactly and
accumulate character edit distance; unmatched predictions and
unmatched non-ignored truths accumulate their full text length as
edit distance.  Emits precision / recall / F-measure and
character-level accuracy — the drift monitor a production pipeline
runs on real (non-fixture) documents, where the repo's span-EQUALITY
gates are too strict to be informative.

Engine-exactness: boxes are integer rectangles (the reference's
shapely convex hull of a 4-point axis-aligned quad IS the rectangle),
so the IoU threshold is the integer test ``2*inter >= union`` and the
greedy order key is integer ``iou_ppb = inter*1e9 div union`` with
(gt_id, dt_id) tie-breaks — no floats anywhere, and DuckDB replays the
identical matching via a recursive CTE.  Edit distance is plain
Levenshtein (reference uses ``editdistance.eval``), built into BOTH
engines (Spark ``levenshtein``, DuckDB ``levenshtein``).  The
reference's strQ2B full-width fold is the identity on the fixture
alphabet and therefore elided.

Scale shape: the pair generator is a page-keyed equi-join (per-page
line counts are layout-bounded, so per-page pair work is O(lines²) of
a PAGE, never of the corpus); greedy matching runs per page group via
``applyInPandas`` (per-group state is page-sized); every rollup after
that is one partial-agg pass.  At 10^12 pages nothing here holds more
than one page in memory at a time.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import _default_partitions

IOU_PPB = 1_000_000_000

# Deterministic perturbation knobs for the oracled board query: the
# prediction side is synthesized FROM the ground truth inside the SQL of
# both engines (drop / shift / shrink / corrupt / inject), so the metric
# machinery — pairing, greedy matching, P/R/F, char accuracy — is
# value-checked end-to-end without running the pixel pipeline.
PERT_DROP_PCT = 10  # u < 10: prediction missing (unmatched gt)
PERT_CORRUPT_PCT = 85  # u >= 85: one-char text corruption (miss, ed=1)
PERT_SPUR_MOD = 9  # u % 9 == 0: inject a far-away spurious box


def _rect_cols(prefix: str):
    x = F.col(f"{prefix}_x")
    y = F.col(f"{prefix}_y")
    w = F.col(f"{prefix}_w")
    h = F.col(f"{prefix}_h")
    return x, y, w, h


def _pair_candidates(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """(page_id, gt_id, dt_id, iou_ppb) for every pair with IoU >= 0.5.

    Page-keyed equi-join; the IoU gate is the exact integer test
    2*inter >= union (threshold 0.5 of eval_end2end.py:73)."""
    p = pred.select(
        "page_id",
        F.col("dt_id"),
        F.col("x").alias("d_x"),
        F.col("y").alias("d_y"),
        F.col("w").alias("d_w"),
        F.col("h").alias("d_h"),
    )
    g = gt.select(
        "page_id",
        F.col("gt_id"),
        F.col("x").alias("g_x"),
        F.col("y").alias("g_y"),
        F.col("w").alias("g_w"),
        F.col("h").alias("g_h"),
    )
    dx, dy, dw, dh = _rect_cols("d")
    gx, gy, gw, gh = _rect_cols("g")
    ix = F.greatest(
        F.lit(0), F.least(dx + dw, gx + gw) - F.greatest(dx, gx)
    )
    iy = F.greatest(
        F.lit(0), F.least(dy + dh, gy + gh) - F.greatest(dy, gy)
    )
    inter = ix * iy
    union = dw * dh + gw * gh - inter
    return (
        g.join(p, "page_id")
        .withColumn("inter", inter)
        .withColumn("uni", union)
        .filter(2 * F.col("inter") >= F.col("uni"))
        .select(
            "page_id",
            "gt_id",
            "dt_id",
            F.expr(f"(inter * {IOU_PPB}) div uni").alias("iou_ppb"),
        )
    )


_MATCH_SCHEMA = "page_id string, gt_id long, dt_id long"


def _greedy_match_page(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy 1-1 matching of one page's candidate pairs in descending
    IoU order (ties: gt_id, dt_id — the reference's stable sort over
    gt-major enumeration, eval_end2end.py:127-136).  Page-sized state."""
    pdf = pdf.sort_values(
        ["iou_ppb", "gt_id", "dt_id"], ascending=[False, True, True]
    )
    used_gt: set[int] = set()
    used_dt: set[int] = set()
    out = []
    for page_id, gt_id, dt_id in zip(
        pdf["page_id"], pdf["gt_id"], pdf["dt_id"]
    ):
        if gt_id in used_gt or dt_id in used_dt:
            continue
        used_gt.add(gt_id)
        used_dt.add(dt_id)
        out.append((page_id, gt_id, dt_id))
    return pd.DataFrame(out, columns=["page_id", "gt_id", "dt_id"])


def greedy_matches(pairs: DataFrame) -> DataFrame:
    """Distributed greedy matching: one shuffle on page_id, then the
    per-page greedy loop over that page's (already IoU-gated) pairs."""
    return pairs.groupBy("page_id").applyInPandas(
        lambda pdf: _greedy_match_page(pdf), schema=_MATCH_SCHEMA
    )


def e2e_metrics(pred: DataFrame, gt: DataFrame) -> DataFrame:
    """The metric rollup, one output row (all integer / ppm columns).

    pred: (page_id, dt_id, x, y, w, h, text)
    gt:   (page_id, gt_id, x, y, w, h, text, ign)

    Accounting mirrors eval_end2end.py:131-166 exactly, including its
    subtlety that a prediction matched to an IGNORED truth is consumed
    by the match (it is neither counted as a hit nor as an unmatched
    prediction)."""
    # Reference fidelity: eval_end2end.py iterates GT files and reads
    # the same-named prediction file — predictions for pages with no
    # ground truth are never seen, so gate pred to gt pages first.
    pred = pred.join(
        gt.select("page_id").distinct(), "page_id", "left_semi"
    )
    matches = greedy_matches(_pair_candidates(pred, gt))
    gt_side = gt.select(
        "page_id",
        "gt_id",
        F.col("text").alias("gt_text"),
        "ign",
    )
    pred_side = pred.select(
        "page_id", "dt_id", F.col("text").alias("dt_text")
    )
    m = (
        matches.join(gt_side, ["page_id", "gt_id"])
        .join(pred_side, ["page_id", "dt_id"])
        .filter(F.col("ign") == 0)
        .select(
            (F.col("gt_text") == F.col("dt_text")).cast("bigint").alias("hit"),
            F.levenshtein("gt_text", "dt_text").cast("bigint").alias("ed"),
            F.length("gt_text").cast("bigint").alias("chars"),
        )
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).alias("hit"),
            F.coalesce(F.sum("ed"), F.lit(0)).alias("ed_m"),
            F.coalesce(F.sum("chars"), F.lit(0)).alias("chars_m"),
            F.coalesce(F.count("*"), F.lit(0)).alias("n_matched"),
        )
    )
    un_dt = (
        pred_side.join(
            matches.select("page_id", "dt_id"), ["page_id", "dt_id"], "anti"
        )
        .agg(
            F.coalesce(F.sum(F.length("dt_text")), F.lit(0))
            .cast("bigint")
            .alias("ed_udt"),
            F.count("*").alias("n_udt"),
        )
    )
    un_gt = (
        gt_side.join(
            matches.select("page_id", "gt_id"), ["page_id", "gt_id"], "anti"
        )
        .filter(F.col("ign") == 0)
        .agg(
            F.coalesce(F.sum(F.length("gt_text")), F.lit(0))
            .cast("bigint")
            .alias("ed_ugt"),
            F.count("*").alias("n_ugt"),
        )
    )
    pages = gt.agg(F.countDistinct("page_id").alias("n_pages"))
    return (
        m.crossJoin(F.broadcast(un_dt))
        .crossJoin(F.broadcast(un_gt))
        .crossJoin(F.broadcast(pages))
        .select(
            F.col("n_pages").cast("bigint").alias("n_pages"),
            F.col("hit").cast("bigint").alias("hit"),
            (F.col("n_matched") + F.col("n_udt"))
            .cast("bigint")
            .alias("dt_count"),
            (F.col("n_matched") + F.col("n_ugt"))
            .cast("bigint")
            .alias("gt_count"),
            (F.col("ed_m") + F.col("ed_udt") + F.col("ed_ugt"))
            .cast("bigint")
            .alias("ed_sum"),
            (F.col("chars_m") + F.col("ed_ugt"))
            .cast("bigint")
            .alias("num_gt_chars"),
        )
        .select(
            "*",
            F.expr(
                "(hit * 1000000) div greatest(dt_count, 1)"
            ).alias("precision_ppm"),
            F.expr(
                "(hit * 1000000) div greatest(gt_count, 1)"
            ).alias("recall_ppm"),
        )
        .select(
            "*",
            F.expr(
                "(2 * precision_ppm * recall_ppm)"
                " div greatest(precision_ppm + recall_ppm, 1)"
            ).alias("fmeasure_ppm"),
            F.expr(
                "1000000 - (ed_sum * 1000000) div greatest(num_gt_chars, 1)"
            ).alias("char_acc_ppm"),
            F.expr(
                "(ed_sum * 1000000) div greatest(n_pages, 1)"
            ).alias("avg_ed_img_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Oracled board query: deterministic perturbed predictions from the GT table
# ---------------------------------------------------------------------------

# NOTE on num_gt_chars of unmatched gts: the reference adds len(gt) to both
# ed_sum and num_gt_chars for unmatched non-ignored truths
# (eval_end2end.py:160-166); ed_ugt doubles as that char count above.


def synthetic_predictions(gt: DataFrame) -> DataFrame:
    """Deterministic perturbation of the ground truth — the prediction
    side of the ORACLED eval query, expressed in the same md5-derived
    arithmetic in both engines (portable _h32 idiom): ~10%% of lines are
    dropped, the rest are shifted/shrunk a few pixels (small boxes fall
    below IoU 0.5 and become honest misses), ~15%% get a one-character
    text corruption, and every 9th line injects a far-away spurious box."""
    h = F.expr(
        "conv(substring(md5(concat(page_id, ':', cast(gt_id as string))),"
        " 1, 8), 16, 10)"
    ).cast("bigint")
    base = gt.withColumn("h1", h).withColumn("u", F.col("h1") % 100)
    kept = base.filter(F.col("u") >= PERT_DROP_PCT).select(
        "page_id",
        F.col("gt_id").alias("dt_id"),
        (F.col("x") + F.col("h1") % 7 - 3).alias("x"),
        (F.col("y") + F.expr("(h1 div 7) % 5") - 2).alias("y"),
        (F.col("w") - F.col("h1") % 3).alias("w"),
        F.col("h").alias("h"),
        F.when(
            F.col("u") >= PERT_CORRUPT_PCT,
            F.concat(F.col("text"), F.lit("x")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    spurious = base.filter(F.col("u") % PERT_SPUR_MOD == 0).select(
        "page_id",
        (F.col("gt_id") + 100000).alias("dt_id"),
        (F.col("x") + 100000).alias("x"),
        F.col("y").alias("y"),
        F.lit(40).alias("w"),
        F.lit(10).alias("h"),
        F.lit("spurious").alias("text"),
    )
    return kept.unionByName(spurious)


def eval_end2end(
    spark: SparkSession, gt_path: str, pred: DataFrame | None = None
) -> DataFrame:
    """Board-query entry: metrics of (pipeline or synthetic) predictions
    against the persisted fixture ground-truth line table."""
    gt = spark.read.parquet(gt_path)
    if pred is None:
        pred = synthetic_predictions(gt)
    return e2e_metrics(pred, gt)


# ---------------------------------------------------------------------------
# Pipeline-backed predictions: the REAL graded metric over the fixtures
# ---------------------------------------------------------------------------

_PRED_SCHEMA = (
    "page_id string, dt_id long, x long, y long, w long, h long,"
    " text string"
)


def _predict_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: media_ref -> per-row (box, text) predictions
    from the live page ladder (ocr_page_state row_boxes are in the
    deskew-recovered frame — the same frame write_gt_lines persists)."""
    from ocr_spark.core.extract import ocr_page_state
    from ocr_spark.fixtures.render import render

    for pdf in it:
        rows = []
        for ref in pdf["media_ref"]:
            try:
                pages = render(ref)
            except ValueError:
                continue  # synthetic decode failure: no predictions
            for p, page in enumerate(pages):
                st = ocr_page_state(page.image)
                for i, (box, text) in enumerate(
                    zip(st.row_boxes, st.rows)
                ):
                    rows.append(
                        (f"{ref}/p{p}", i, *(int(v) for v in box), text)
                    )
        yield pd.DataFrame(
            rows,
            columns=[
                "page_id", "dt_id", "x", "y", "w", "h", "text",
            ],
        )


def pipeline_predictions(spark: SparkSession, corpus_path: str) -> DataFrame:
    """Run the live extraction ladder over every renderable media ref of
    a corpus parquet, emitting per-row predicted boxes + texts.  Same
    skew story as the flagship: refs round-robin so a heavy document
    spreads across the cluster."""
    refs = (
        spark.read.parquet(corpus_path)
        .select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _predict_batches, schema=_PRED_SCHEMA
    )


# ---------------------------------------------------------------------------
# Corpus BLEU components — the graded TEXT-quality eval
# ---------------------------------------------------------------------------

BLEU_MAX_N = 4
BLEU_UNK_MOD = 5  # token i (0-based, doc_id-shifted) -> 'UNK'
BLEU_DROP_MOD = 7  # token i dropped entirely


def bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU components (Papineni et al., ACL'02) between a
    candidate corpus and its reference: per n in 1..4, the CLIPPED
    modified n-gram match count, the candidate n-gram total, and the
    exact precision_ppm, plus the corpus length ratio behind the
    brevity penalty.  This is the graded companion to the exact-match
    gates: a distillation / OCR / MT / repair stage is monitored by
    how far these drop, not by a boolean.

    The geometric mean + exp of real BLEU is deliberately NOT taken:
    the components are the integer sufficient statistics (a driver can
    combine them in one line), and keeping them integer keeps the
    cross-engine contract exact — no libm exp/log anywhere.

    The candidate corpus is SYNTHESIZED deterministically from the
    reference (same rule in the DuckDB oracle, the `encoding_repair`
    pattern): token i of doc d is dropped when (i + d) % 7 == 0 and
    replaced by 'UNK' when (i + d) % 5 == 0 — a fixed, position-aware
    degradation standing in for the model output a production run
    would feed in.

    Scale shape: n-grams are built ARRAY-side per doc (slice windows —
    no positional self-join), counted per (doc, n, gram) with map-side
    partial aggs, clipped via one keyed equi-join against the
    reference counts, and rolled up to exactly BLEU_MAX_N rows; corpus
    totals are single partial-agg scalars broadcast onto the output.
    Nothing after the two groupBys exceeds n-gram-key cardinality."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("ref_toks"))
    cand_toks = F.expr(
        f"""
        transform(
          filter(
            transform(ref_toks, (t, i) -> struct(t as t, i as i)),
            s -> (s.i + doc_id) % {BLEU_DROP_MOD} != 0),
          s -> case when (s.i + doc_id) % {BLEU_UNK_MOD} = 0
                    then 'UNK' else s.t end)
        """
    )
    both = base.select("doc_id", "ref_toks", cand_toks.alias("cand_toks"))

    def grams(col: str):
        # all 1..4-gram (n, gram) structs of one token array, array-side
        arrs = []
        for n in range(1, BLEU_MAX_N + 1):
            arrs.append(
                F.when(
                    F.size(F.col(col)) >= n,
                    F.expr(
                        f"transform(sequence(1, size({col}) - {n} + 1),"
                        f" i -> struct({n} as n,"
                        f" concat_ws(' ', slice({col}, i, {n})) as gram))"
                    ),
                ).otherwise(F.expr("array()").cast(
                    "array<struct<n:int,gram:string>>"
                ))
            )
        return F.flatten(F.array(*arrs))

    cand_counts = (
        both.select("doc_id", F.explode(grams("cand_toks")).alias("g"))
        .groupBy("doc_id", "g.n", "g.gram")
        .agg(F.count("*").alias("c_cnt"))
    )
    ref_counts = (
        both.select("doc_id", F.explode(grams("ref_toks")).alias("g"))
        .groupBy("doc_id", "g.n", "g.gram")
        .agg(F.count("*").alias("r_cnt"))
    )
    clipped = (
        cand_counts.join(ref_counts, ["doc_id", "n", "gram"], "left")
        .na.fill({"r_cnt": 0})
        .groupBy("n")
        .agg(
            F.sum(F.least("c_cnt", "r_cnt")).alias("clipped_matches"),
            F.sum("c_cnt").alias("cand_ngrams"),
        )
    )
    lens = both.agg(
        F.sum(F.size("cand_toks")).alias("cand_len"),
        F.sum(F.size("ref_toks")).alias("ref_len"),
    )
    return (
        clipped.crossJoin(F.broadcast(lens))
        .select(
            "n",
            "clipped_matches",
            "cand_ngrams",
            F.expr(
                "(2 * cast(clipped_matches as decimal(38,0)) * 1000000"
                " + cand_ngrams) div (2 * cand_ngrams)"
            ).alias("precision_ppm"),
            "cand_len",
            "ref_len",
            F.expr(
                "(2 * cast(cand_len as decimal(38,0)) * 1000000"
                " + ref_len) div (2 * ref_len)"
            ).alias("length_ratio_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("n")
    )


# ---------------------------------------------------------------------------
# ROUGE-L (LCS-based graded text metric)
# ---------------------------------------------------------------------------

_ROUGE_SCHEMA = (
    "doc_id long, ref_len long, cand_len long, lcs_len long, "
    "rouge_p_ppm bigint, rouge_r_ppm bigint, rouge_f_ppm bigint"
)


def lcs_len(a: list[str], b: list[str]) -> int:
    """True longest-common-subsequence length via the row-max DP
    formulation dp[i][j] = max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1] +
    eq) — equivalent to the classic recurrence by monotonicity, and
    vectorizable: each row is one numpy maximum + one prefix-max scan
    (O(len(a)) numpy passes instead of O(len(a)*len(b)) python ops)."""
    if not a or not b:
        return 0
    bn = np.asarray(b, dtype=object)
    prev = np.zeros(len(b) + 1, dtype=np.int32)
    curr = np.zeros(len(b) + 1, dtype=np.int32)
    for x in a:
        eq = (bn == x).astype(np.int32)
        cand = np.maximum(prev[1:], prev[:-1] + eq)
        np.maximum.accumulate(cand, out=cand)
        curr[1:] = cand
        prev, curr = curr, prev
    return int(prev[-1])


def rouge_l_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (Lin, 2004) between the reference corpus and the same
    deterministic degradation bleu_eval grades — the ORDER-aware graded
    metric BLEU's n-gram clipping is not: LCS credits long in-order
    runs, so a shuffled candidate with perfect unigram overlap scores
    near zero here while unigram-BLEU stays high.  Emits per doc the
    exact LCS length and integer-ppm precision / recall / F1.

    The kernel computes the TRUE dynamic-programming LCS (general —
    nothing about the fixture degradation is assumed), one vectorized
    numpy row-scan per reference token, inside mapInPandas.  The DuckDB
    oracle reaches the same numbers through a CLOSED FORM valid only
    for this candidate generator (candidate preserves reference order,
    so the LCS is exactly the kept-and-unsubstituted token count) —
    two structurally unrelated computations that must agree, the
    audio_features oracle pattern.

    Scale shape: one map-side Arrow pass over doc rows (the degradation
    and both token arrays build inside the kernel batch — no shuffle
    at all before the check-gate sort); per-row cost O(ref * cand / W)
    with W-wide numpy rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                ref = text.split(" ")
                d = int(d)
                cand = [
                    "UNK" if (i + d) % BLEU_UNK_MOD == 0 else t
                    for i, t in enumerate(ref)
                    if (i + d) % BLEU_DROP_MOD != 0
                ]
                l = lcs_len(ref, cand)
                p = l * 1_000_000 // len(cand) if cand else 0
                r = l * 1_000_000 // len(ref) if ref else 0
                f = 2 * p * r // (p + r) if p + r else 0
                rows.append((d, len(ref), len(cand), l, p, r, f))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "ref_len", "cand_len", "lcs_len",
                    "rouge_p_ppm", "rouge_r_ppm", "rouge_f_ppm",
                ],
            )

    return (
        docs.mapInPandas(_score, schema=_ROUGE_SCHEMA)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# chrF (character n-gram F-score)
# ---------------------------------------------------------------------------

CHRF_MAX_N = 6  # standard chrF character-n-gram order (Popovic, WMT'15)
CHRF_BETA2 = 4  # beta = 2 -> beta^2 = 4 (recall weighted 2x)


def chrf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF components (Popovic, WMT'15) between the reference corpus
    and the SAME deterministic degradation bleu_eval / rouge_l_eval
    grade — the tokenization-free graded metric next to them: character
    n-grams (spaces removed, the standard) are robust to word-boundary
    noise that zeroes word-level BLEU n-grams, which is exactly the
    failure mode of OCR output ('ra te' vs 'rate').  Emits, per n in
    1..CHRF_MAX_N, the corpus clipped match count, candidate and
    reference n-gram totals, and integer-ppm chrP / chrR / chrF2
    (beta=2: recall weighted double, the published default).

    The candidate corpus is the bleu_eval degradation (token i of doc d
    dropped when (i+d) % BLEU_DROP_MOD == 0, replaced by 'UNK' when
    (i+d) % BLEU_UNK_MOD == 0), re-joined WITHOUT spaces per the chrF
    space-removal convention; the DuckDB oracle replays the identical
    rule.

    Scale shape: char n-grams are built ARRAY-side per doc (substring
    windows — no positional self-join), counted per (doc, n, gram) with
    map-side partial aggs, clipped via one keyed equi-join of candidate
    vs reference counts, and rolled up to exactly CHRF_MAX_N rows;
    per-doc n-gram cardinality is O(chars * CHRF_MAX_N), so nothing
    after the two groupBys exceeds n-gram-key cardinality."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("ref_toks"))
    cand_toks = F.expr(
        f"""
        transform(
          filter(
            transform(ref_toks, (t, i) -> struct(t as t, i as i)),
            s -> (s.i + doc_id) % {BLEU_DROP_MOD} != 0),
          s -> case when (s.i + doc_id) % {BLEU_UNK_MOD} = 0
                    then 'UNK' else s.t end)
        """
    )
    both = base.select(
        "doc_id",
        F.array_join("ref_toks", "").alias("ref_chars"),
        F.array_join(cand_toks, "").alias("cand_chars"),
    )

    def gram_rows(col: str, c: int, r: int):
        # all 1..CHRF_MAX_N char n-grams as a codegen'd double explode:
        # positions first, then a LITERAL 6-element array of substring
        # columns (posexplode index + 1 = n).  No lambda: transform()'s
        # interpreted per-element evaluation was the dominant cost of
        # the whole metric at the 10x corpus (same finding as the
        # exact-substring rank pipeline, commit d0966a0); the literal
        # array keeps every substring inside whole-stage codegen, and
        # the chars column is projected away before the first exchange.
        return (
            both.select("doc_id", F.col(col).alias("chars"))
            .select(
                "doc_id",
                "chars",
                F.explode(
                    F.sequence(F.lit(1), F.length("chars"))
                ).alias("p"),
            )
            .select(
                "doc_id",
                F.posexplode(
                    F.array(*[
                        F.expr(
                            f"if(p + {n - 1} <= length(chars),"
                            f" substring(chars, p, {n}), null)"
                        )
                        for n in range(1, CHRF_MAX_N + 1)
                    ])
                ).alias("n0", "gram"),
            )
            .filter(F.col("gram").isNotNull())
            .select(
                "doc_id",
                (F.col("n0") + 1).alias("n"),
                "gram",
                F.lit(c).alias("c"),
                F.lit(r).alias("r"),
            )
        )

    # one tagged union + one groupBy instead of two counts + a full
    # join on the high-cardinality (doc, n, gram) key — halves the
    # shuffles and cut the sf0.1 stage ~2x
    tagged = gram_rows("cand_chars", 1, 0).unionByName(
        gram_rows("ref_chars", 0, 1)
    )
    clipped = (
        tagged.groupBy("doc_id", "n", "gram")
        .agg(F.sum("c").alias("c_cnt"), F.sum("r").alias("r_cnt"))
        .groupBy("n")
        .agg(
            F.sum(F.least("c_cnt", "r_cnt")).alias("clipped_matches"),
            F.sum("c_cnt").alias("cand_ngrams"),
            F.sum("r_cnt").alias("ref_ngrams"),
        )
    )
    b2 = CHRF_BETA2
    return (
        clipped.select(
            "n",
            "clipped_matches",
            "cand_ngrams",
            "ref_ngrams",
            F.expr(
                "case when cand_ngrams = 0 then 0 else"
                " (2 * cast(clipped_matches as decimal(38,0)) * 1000000"
                " + cand_ngrams) div (2 * cand_ngrams) end"
            ).cast("bigint").alias("chrp_ppm"),
            F.expr(
                "case when ref_ngrams = 0 then 0 else"
                " (2 * cast(clipped_matches as decimal(38,0)) * 1000000"
                " + ref_ngrams) div (2 * ref_ngrams) end"
            ).cast("bigint").alias("chrr_ppm"),
        )
        .withColumn(
            "chrf2_ppm",
            F.expr(
                f"case when {b2} * chrp_ppm + chrr_ppm = 0 then 0 else"
                f" (2 * (1 + {b2}) * cast(chrp_ppm as decimal(38,0))"
                f" * chrr_ppm + ({b2} * chrp_ppm + chrr_ppm))"
                f" div (2 * ({b2} * chrp_ppm + chrr_ppm)) end"
            ).cast("bigint"),
        )
        .repartition(1)
        .sortWithinPartitions("n")
    )


# ---------------------------------------------------------------------------
# Cohen's kappa — inter-rater agreement (Cohen, 1960)
# ---------------------------------------------------------------------------

KAPPA_LEN_T = 200  # rater A: keep iff n_chars >= this
KAPPA_TOK_T = 40  # rater B: keep iff whitespace tokens >= this


def cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Educ. Psychol. Meas. 20:37, 1960) between two
    deterministic binary document raters — a char-length gate and a
    token-count gate — the chance-corrected agreement statistic every
    LLM-judge / human-label pipeline reports before trusting a rater
    pair (raw agreement is inflated whenever both raters mostly say
    'keep'; kappa subtracts exactly that).

    Exact rational form on the 2x2 contingency counts: with marginals
    a1 = n11+n10, b1 = n11+n01 over n docs,
      kappa = (n*(n11+n00) - (a1*b1 + a0*b0))
            / (n*n       - (a1*b1 + a0*b0))
    — a single half-away ppm division, no floats.  po/pe are emitted
    in ppm alongside the raw cells so a reader can audit the
    correction.

    Scale shape: one map-side projection to the two rater bits, one
    partial-agg scalar aggregate (four conditional counts), driver-free
    arithmetic on the 1-row result.  Nothing shuffles more than the
    four counters."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bits = docs.select(
        F.expr(
            f"case when n_chars >= {KAPPA_LEN_T} then 1 else 0 end"
        ).alias("ra"),
        F.expr(
            f"case when size(split(text, ' ')) >= {KAPPA_TOK_T}"
            " then 1 else 0 end"
        ).alias("rb"),
    )
    agg = bits.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("ra * rb")).alias("n11"),
        F.sum(F.expr("ra * (1 - rb)")).alias("n10"),
        F.sum(F.expr("(1 - ra) * rb")).alias("n01"),
        F.sum(F.expr("(1 - ra) * (1 - rb)")).alias("n00"),
    )
    return (
        agg.select(
            "n", "n11", "n10", "n01", "n00",
            F.expr(
                "(2 * (n11 + n00) * cast(1000000 as bigint) + n)"
                " div (2 * n)"
            ).alias("po_ppm"),
            F.expr(
                "(2 * ((n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10))"
                " * cast(1000000 as bigint) + n * n) div (2 * n * n)"
            ).alias("pe_ppm"),
            # sign-decomposed half-away division: kappa can be negative
            # and Spark div truncates where DuckDB // floors — rounding
            # |num| and re-applying the sign makes both engines agree
            F.expr(
                "case when n * n = (n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10) then 1000000 else"
                " (case when n * (n11 + n00) < (n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10) then -1 else 1 end)"
                " * ((2 * abs(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10)))"
                " * cast(1000000 as bigint)"
                " + (n * n - ((n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10))))"
                " div (2 * (n * n - ((n11 + n10) * (n11 + n01)"
                " + (n00 + n01) * (n00 + n10))))) end"
            ).alias("kappa_ppm"),
        )
        .where(F.col("n").isNotNull() & (F.col("n") > 0))
    )
