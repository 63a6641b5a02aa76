from __future__ import annotations

import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from holcstore_spark import get_spark

    s = get_spark(app_name="holcstore-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_store_path():
    """A fresh (not yet existing) store path inside a per-test directory.

    Tests also open siblings of it (``tmp_store_path + "_acid"``,
    ``os.path.join(tmp_store_path, "..", "fresh")``); removing the whole
    parent at teardown removes those too.
    """
    parent = tempfile.mkdtemp(prefix="holc_test_")
    yield os.path.join(parent, "store")
    shutil.rmtree(parent, ignore_errors=True)
