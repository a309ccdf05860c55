"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``gov_data_pipeline_spark``; this module is a
thin aggregator over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)


def _with_root(path: str | None) -> str:
    parts = [p for p in (path or "").split(os.pathsep) if p]
    return os.pathsep.join(parts if _ROOT in parts else [_ROOT, *parts])


# Python workers unpickle the package's UDFs by module name, so the
# repo root must be on their PYTHONPATH too, not only on this process's
# sys.path: a running context passes its ``environment`` to the workers
# it starts, and a context started later inherits ``os.environ``.
if (_sc := SparkContext._active_spark_context) is not None:
    _sc.environment["PYTHONPATH"] = _with_root(_sc.environment.get("PYTHONPATH"))
os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH"))

from gov_data_pipeline_spark.queries import all_oracles, all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    from gov_data_pipeline_spark.queries.relational import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (same column names)."""
    return all_oracles()
