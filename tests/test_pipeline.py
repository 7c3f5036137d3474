"""End-to-end span-sequence-equality gate (the BASELINE.json invariant):
(kind, text, media_ref, order) per document, Spark pipeline vs the
layout-side ground truth — plus physical-plan assertions."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures.corpus import SPANS_TYPE
from ocr_spark.fixtures.render import expected_media_text
from ocr_spark.operators.pipeline import extract_documents


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_path):
    return spark.read.parquet(corpus_path)


def _edge_case_docs() -> pa.Table:
    """Spans given out of offset order, and the same document plus a
    ``#err`` media span: the error fails only its own document, whose
    media texts all stay empty."""
    crop = "img://iso/1#crop"
    spans = [
        {"kind": "media", "text": "", "media_ref": crop, "offset": 1},
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
    ]
    err = {"kind": "media", "text": "", "media_ref": "img://iso/2#err", "offset": 2}
    ok_expected = [spans[1], {**spans[0], "text": expected_media_text(crop)}]
    return pa.table(
        {
            "doc_id": ["edge-out-of-order", "edge-err"],
            "spans": pa.array([spans, spans + [err]], SPANS_TYPE),
            "expected_spans": pa.array(
                [ok_expected, [spans[1], spans[0], err]], SPANS_TYPE
            ),
            "expect_success": [True, False],
        }
    )


@pytest.fixture(scope="module")
def docs_df(spark, corpus_df, tmp_path_factory):
    """The corpus plus the edge cases, with their expected output."""
    path = str(tmp_path_factory.mktemp("edge") / "edge.parquet")
    pq.write_table(_edge_case_docs(), path)
    cols = ["doc_id", "spans", "expected_spans", "expect_success"]
    return corpus_df.select(cols).unionByName(spark.read.parquet(path))


# the id names the plan under test; exploded is the only one
@pytest.mark.parametrize("plan", [extract_documents], ids=["exploded"])
def test_span_sequence_equality(spark, docs_df, plan):
    out = plan(docs_df.select("doc_id", "spans"))
    joined = out.join(
        docs_df.select("doc_id", "expected_spans", "expect_success"), "doc_id"
    )
    total = docs_df.count()
    assert joined.count() == total  # no doc lost or duplicated

    wrong_status = joined.filter(
        F.col("success") != F.col("expect_success")
    ).count()
    assert wrong_status == 0

    # span-sequence equality on (kind, text, media_ref, order) for every
    # successful document
    mismatched = joined.filter(
        F.col("success")
        & (F.to_json("spans") != F.to_json("expected_spans"))
    ).count()
    assert mismatched == 0

    # failed documents keep their original spans (media text empty)
    failed_bad = joined.filter(
        ~F.col("success")
        & F.exists(
            "spans", lambda s: (s["kind"] == "media") & (s["text"] != "")
        )
    ).count()
    assert failed_bad == 0
    err = joined.filter(F.col("doc_id") == "edge-err").first()
    assert "ValueError" in err["message"]


def test_exploded_mode_shuffles_once_for_reassembly(spark, corpus_df):
    out = extract_documents(corpus_df.select("doc_id", "spans"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # regroup aggregation present; scan should not read expected_spans
    assert "partial_collect_list" in plan or "collect_list" in plan


def test_column_pruning_reaches_scan(spark, corpus_path):
    """Selecting only doc_id must not read the spans column (ReadSchema)."""
    df = spark.read.parquet(corpus_path).select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "spans" not in plan.split("ReadSchema")[-1]
