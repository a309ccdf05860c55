from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from gov_data_pipeline_spark.session import get_spark

    wh = tempfile.mkdtemp(prefix="spark_wh_")
    spark = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark


@pytest.fixture(scope="session")
def checkpoint_dir(spark, tmp_path_factory) -> str:
    """Reliable-checkpoint directory for the session, so operators can
    run with ``reliable_checkpoint=True`` (``DataFrame.checkpoint``)."""
    d = str(tmp_path_factory.mktemp("checkpoints"))
    spark.sparkContext.setCheckpointDir(d)
    return d


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle import duckdb_con

    con = duckdb_con(sf_dir)
    yield con
    con.close()
