from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest lives in, wherever it sits: a worktree, a CI
# clone or any second copy must test its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grape_vector_db_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# Measured slow-tier manifest (see pytest.ini): tests listed there get
# the `slow` marker so the default `-m "not slow"` tier fits the round
# driver's verify window. A nodeid absent from the manifest (e.g. a new
# test) defaults to the fast tier — add it to the manifest when a
# --durations run shows it >= 2s.
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as f:
            slow_ids = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="session")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
