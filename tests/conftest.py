from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    spark = get_spark(cores=8, app_name="ocr_spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus_path(tmp_path_factory) -> str:
    """Small interleaved corpus WITH layout-side ground truth."""
    from ocr_spark.fixtures.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    write_corpus(path, 80, seed=42, with_expected=True)
    return path


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
