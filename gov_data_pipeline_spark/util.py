"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def pin_partitioned(df: DataFrame, *part_cols: str) -> DataFrame:
    """``localCheckpoint`` that PRESERVES a hash partitioning, so every
    downstream groupBy/join/window keyed on ``part_cols`` (or a
    superset — ``HashPartitioning(k)`` satisfies clustering on
    ``(k, ...)``) plans with ZERO exchanges (guide §2.4: remove
    shuffles outright).

    Two facts make this work (probed on Spark 4.1):

    1. ``Dataset.localCheckpoint`` captures the physical plan's output
       partitioning into the replacement ``LogicalRDD`` — but ONLY
       when the executed plan is not wrapped in
       ``AdaptiveSparkPlanExec`` (under AQE the capture degrades to
       unknown partitioning and every consumer re-shuffles). The pin
       is therefore built in a clone of the caller's session with AQE
       off in the clone only, and the checkpointed plan comes back as
       a DataFrame of the caller's session. The caller's conf never
       changes, so consumers and concurrent queries plan under AQE.
       The clone is taken per pin, never cached: it copies every conf
       set at runtime up to now (``shuffle.partitions``,
       ``nanosAsLong``), and an older clone would miss later ones.
    2. ``repartition(cols)`` with no explicit count uses the session
       ``spark.sql.shuffle.partitions`` default, so two pins built in
       the same session are co-partitioned (same expressions, same
       width) and join exchange-free. The width is the session
       default — configuration, not a local constant; a cluster
       session sets it to cluster scale and AQE never needed to
       coalesce these pins anyway (they are sized by their consumers).

    With no ``part_cols`` the input's existing partitioning is
    captured as-is (useful when the plan already ends in the wanted
    exchange/aggregate). Cost model: one exchange of the pinned
    relation at construction buys every downstream consumer's exchange
    on that key — a win from two consumers up, and strictly a win when
    the plan already needed the exchange once.

    Correctness-neutral: partitioning never changes row content, and a
    failed capture only re-inserts exchanges (EnsureRequirements), so
    the worst case is the old plan, never a wrong result."""
    spark = df.sparkSession
    if part_cols:
        df = df.repartition(*[F.col(c) for c in part_cols])
    ofRows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    clone = spark._jsparkSession.cloneSession()
    clone.conf().set("spark.sql.adaptive.enabled", "false")
    pinned = ofRows(clone, df._jdf.logicalPlan()).localCheckpoint()
    return DataFrame(ofRows(spark._jsparkSession, pinned.logicalPlan()), spark)


def qcol(name: str) -> Column:
    """``F.col`` that treats ``name`` literally.

    Registry column names contain dots (``Рег. №``), which bare
    ``F.col`` parses as struct-field access. Backtick-quote (escaping
    embedded backticks) so the full string is one column name.
    """
    return F.col("`" + name.replace("`", "``") + "`")
