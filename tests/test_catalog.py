"""``catalog.read_table``: the per-file schema cache and the
TIMESTAMP(NANOS) fallback of the ``events`` table."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from gov_data_pipeline_spark.catalog import read_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, jobs started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def nanos_conf(spark):
    """The session's ``nanosAsLong`` starts false and is restored after."""
    old = spark.conf.get(NANOS_AS_LONG)
    spark.conf.set(NANOS_AS_LONG, "false")
    yield
    spark.conf.set(NANOS_AS_LONG, old)


def test_second_read_of_a_file_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), tmp_path / "t.parquet")
    first, n = _jobs(spark, "catalog-first", lambda: read_table(spark, str(tmp_path), "t"))
    assert n >= 1  # schema inference is a Spark job
    again, n = _jobs(spark, "catalog-again", lambda: read_table(spark, str(tmp_path), "t"))
    assert n == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")

    def write(table):
        if layout == "file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table).write.mode("overwrite").parquet(path)

    write(pa.table({"a": [1, 2]}))
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    write(pa.table({"a": [1, 2], "b": ["x", "y"]}))
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_failed_events_read_leaves_nanos_conf_unset(spark, tmp_path, nanos_conf):
    with pytest.raises(AnalysisException) as err:
        read_table(spark, str(tmp_path / "no_such_dir"), "events")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert spark.conf.get(NANOS_AS_LONG) == "false"


def test_nanos_events_read_as_truncated_micros(spark, tmp_path, nanos_conf):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
        version="2.6",
    )
    for group in ("nanos-first", "nanos-cached"):
        df, n = _jobs(spark, group, lambda: read_table(spark, str(tmp_path), "events"))
        assert df.schema["ts"].dataType == TimestampType()
        got = sorted(df.select("event_id", F.unix_micros("ts")).collect())
        assert [r[1] for r in got] == [v // 1000 for v in ns]
    assert n == 0  # the second read reused the inferred schema
    assert spark.conf.get(NANOS_AS_LONG) == "true"
