"""Shared fixtures. One local SparkSession per test session (JVM spins
up once); small deterministic corpus fixtures regenerated per run."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from ai_pdf_extraction_spark.session import build_session

    s = build_session(
        app_name="pytest",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_persists():
    """Each test is one persist scope: unpersist what its plans cached."""
    from ai_pdf_extraction_spark.persist import release

    yield
    release()


@pytest.fixture(scope="session")
def pages_rows():
    from ai_pdf_extraction_spark.corpus.generate import generate_pages

    return generate_pages(300, seed=42)


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory, pages_rows):
    """Corpus parquet + golden parquet written once per test session."""
    from ai_pdf_extraction_spark.corpus.generate import write_pages_parquet
    from ai_pdf_extraction_spark.oracle.run_reference import write_golden_parquet

    d = tmp_path_factory.mktemp("corpus")
    write_pages_parquet(str(d / "pages.parquet"), 300, seed=42)
    write_golden_parquet(str(d / "golden.parquet"), pages_rows)
    return str(d)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
