"""Shared Spark fixtures for the test suite."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_etl_mailing_automation_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import tempfile

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = build_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")
        },
    )
    # one checkpoint dir for the session: detach's ``reliable`` mode
    # writes here
    s.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("checkpoints")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
