"""Query registry.

Each submodule declares two dicts:

- ``QUERIES``: name -> ``Callable[[SparkSession, str], DataFrame]``
  (the PySpark implementation; ``str`` is the fixture directory);
- ``ORACLE``: name -> ANSI SQL string DuckDB can run on the same
  parquet tables, producing the identical result (same column names —
  the driver's comparator sorts columns by name before hashing).

Every registered query carries an oracle — including the HLL++/quantile
sketches (q26), which use a *bounds* oracle: the Spark side emits the
exact statistic plus booleans asserting each sketch landed inside its
documented accuracy guarantee, and DuckDB computes the same exact values
with ``TRUE`` literals for the booleans. The hash sketches (md5
families) and the streaming operators (batch twins) carry full
value-hash oracles; ``tests/test_registry.py`` pins total coverage.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from gov_data_pipeline_spark.queries import (
    corpus_ops,
    dedup_sim,
    events_analytics,
    ingest,
    llm_queries,
    quality,
    relational,
    scalar,
    stats_ml,
    stream_queries,
    textops,
)

_MODULES = (
    relational, scalar, textops, ingest, dedup_sim, llm_queries,
    stream_queries, quality, corpus_ops, events_analytics, stats_ml,
)

# The driver's per-round correctness run samples the FIRST 50 entries of
# ``queries()`` (insertion order). The order is derived from the driver's
# records at the repo root: never-green queries first, then from the
# stalest latest-green round to the freshest, name order within a round.
# So each new CORRECTNESS_r*.json rotates the sample onto the queries
# verified longest ago. Without the records the order is by name.
# Tripwire: tests/test_registry.py::test_priority_rotation_is_fresh.
_REPO_ROOT = Path(__file__).resolve().parents[2]


def green_row(row: dict) -> bool:
    """Green means: value-hash match, or — for queries with no oracle
    SQL (the driver emits no hash there) — a rows-only match with no
    error recorded."""
    return row.get("hash_match") is True or (
        row.get("hash_match") is None
        and row.get("rows_match") is True
        and not row.get("err")
    )


def latest_green_rounds() -> dict[str, int]:
    """query name -> latest driver round in which it was green."""
    latest: dict[str, int] = {}
    for path in _REPO_ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if green_row(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    greens = latest_green_rounds()
    return {n: merged[n] for n in sorted(merged, key=lambda n: (greens.get(n, 0), n))}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE)
    return out
