from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from milvus_cdc_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def scratch_tempdir(tmp_path_factory):
    """Every ``tempfile.mkdtemp`` of the run (tests and Hypothesis
    examples) lands in one fresh dir under pytest's basetemp, removed at
    the end of the session — after ``spark``, which depends on it."""
    path = tmp_path_factory.mktemp("tempfile")
    before = tempfile.tempdir
    tempfile.tempdir = str(path)
    yield path
    tempfile.tempdir = before
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(scratch_tempdir):
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
