"""The content-keyed /tmp fixture cache (``ai_pdf_extraction_spark.fixtures``)."""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid

import pytest

from ai_pdf_extraction_spark.fixtures import cached


def test_cached_builds_once_and_publishes_atomically():
    calls = []

    def build(out):
        calls.append(out)
        with open(out, "w") as fh:
            fh.write("x")

    key = ("test", uuid.uuid4().hex)
    path = cached("test_fixture", key, build)
    try:
        assert re.fullmatch(r"/tmp/spark_graft_test_fixture_[0-9a-f]{12}", path)
        assert cached("test_fixture", key, build) == path
        assert len(calls) == 1 and calls[0] != path
        with open(path) as fh:
            assert fh.read() == "x"
        assert cached("test_fixture", key + (1,), build) != path
    finally:
        for p in glob.glob("/tmp/spark_graft_test_fixture_*"):
            os.remove(p)


def test_cached_build_failure_leaves_nothing():
    """A build that raises leaves neither the fixture path nor its
    temporary behind, and re-raises — the next call builds again."""
    key = ("test", uuid.uuid4().hex)

    def failing(out):
        os.mkdir(out)
        with open(os.path.join(out, "part-0"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        cached("test_failing", key, failing)
    path = cached("test_failing", key, os.mkdir)
    try:
        assert os.listdir(path) == []
        assert glob.glob(path + ".tmp-*") == []
    finally:
        shutil.rmtree(path)

