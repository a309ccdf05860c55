"""Storage-layout operators (engine extension): hash-bucketed tables
for shuffle-free co-located joins, and small-file compaction for
append-heavy sinks.

Both are write-time layout decisions whose payoff is every later scan
or join: ``write_bucketed`` pays the join shuffle once at ingest, and
``compact_parquet`` restores scan health after many micro-batch
appends. ``tests/test_storage_layout.py`` checks each against the
physical plan or the files on disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "error",
) -> None:
    """Persist ``df`` hash-bucketed (and per-file sorted) on
    ``bucket_cols`` — Spark's pre-shuffled storage layout.

    Every row lands in ``hash(bucket_cols) % num_buckets``; a later
    join or aggregation on the bucket columns between two tables
    bucketed the same way needs NO exchange — the shuffle was paid
    once at write time, then amortized over every downstream query.
    That is the canonical 100 TB fact⋈fact strategy: co-locate at
    ingest, never re-shuffle the big table again. ``sort_cols``
    additionally pre-sorts each bucket file so sort-merge joins skip
    their sort too.

    Bucketing metadata lives in the table catalog, so the write goes
    through ``saveAsTable`` (``path`` makes it an external table —
    the data survives the session even with an in-memory catalog).
    ``mode`` defaults to ``error`` like every other sink in the
    package — pass ``overwrite`` explicitly to replace a table.
    """
    # Pre-partition on the bucket hash so each task owns whole buckets:
    # one file per bucket instead of (tasks x buckets) shards — and
    # only single-file buckets let the reader trust the sort order.
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` each. Returns the output file count.

    The streaming ingest sinks (and any frequent-append producer)
    accumulate one small file per micro-batch; at 100 TB that turns
    every later scan into a listing + footer-read storm and starves
    the scheduler with sub-split tasks. Compaction is the maintenance
    pass that restores scan health: input size comes from the file
    listing (driver metadata only, no data read), the rewrite is one
    round-robin repartition to ceil(bytes/target) partitions, and
    ``sort_within_by`` optionally restores a clustering order
    (sortWithinPartitions — no extra shuffle) so min/max footer pruning
    keeps working after compaction.

    The rewrite lands in ``dest_path`` (write-then-swap is the caller's
    atomic publish step — object stores have no atomic directory
    rename, so the swap belongs to the catalog/manifest layer, not
    here).

    Hive-partitioned sources MUST pass ``partition_by`` with their
    partition columns: reading flattens the directory scheme into data
    columns, and without re-partitioning the write the compacted copy
    would silently lose partition pruning (and partition-value types
    can change under inference — pair with an explicit read schema in
    the catalog when that matters).
    """
    from pyspark.sql.functions import col

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(hconf)
    it = fs.listFiles(p, True)
    total = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet") or name.startswith("part-"):
            total += f.getLen()
    n_files = max(1, -(-total // target_file_bytes))  # ceil

    df = spark.read.parquet(src_path).repartition(n_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*[col(c) for c in sort_within_by])
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dest_path)
    # Report the files actually written (empty round-robin partitions
    # produce no file, so this can be < the computed partition count).
    dp = jvm.org.apache.hadoop.fs.Path(dest_path)
    dit = dp.getFileSystem(hconf).listFiles(dp, True)
    written = 0
    while dit.hasNext():
        if dit.next().getPath().getName().startswith("part-"):
            written += 1
    return written
