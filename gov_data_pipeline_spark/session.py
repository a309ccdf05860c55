"""SparkSession factory.

One place that owns the engine's Spark configuration so every entry point
(tests, bench, driver contract) gets the same tuned session.

Scale notes (the config is written for a real cluster; local[] only
changes master/memory):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion are all decided from observed stats,
  which is the only thing that survives a 100x data scale-up.
- ``spark.sql.shuffle.partitions`` is a *default*, not a plan: AQE
  coalesces it down for small stages and splits skewed partitions up.
  On a 1000-executor cluster you would raise the default (e.g. 2000+)
  and let AQE trim; locally it matches the core count.
- Arrow on: every pandas_udf / mapInPandas / toPandas crossing is
  Arrow-batched, never row-at-a-time pickle.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

# Unset, the session sizes itself to the host: every core it may run
# on, and a driver of at most 16 GiB and at most half of physical memory
# (a 32-core / 128 GiB host gets local[32] and 16 GiB).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
DEFAULT_DRIVER_MEM = os.environ.get(
    "SPARK_GRAFT_DRIVER_MEM",
    f"{min(16 * 1024, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**21)}m",
)

# Generated classes kept compiled (spark.sql.codegen.cache.maxEntries,
# an LRU keyed by generated source; Spark's default is 100). One
# curation pass (q75, q154, q155, q196) needs 168 distinct classes, so
# at 100 each class is evicted before its next use and every steady
# pass recompiled 161 of them (passes 3.7-4.5 s; 3.0-3.2 s at 4096,
# 4-vCPU host). Ingest needs 46. All 198 registry queries at sf0.01
# need ~2,700, so 1000 still recompiles 2,697 classes per round
# (default 4,011; 4096: 191). 4096 holds the whole working set;
# metaspace grew 196 -> 223 MB. A static conf: it takes effect only
# on the builder of a new session.
CODEGEN_CACHE_ENTRIES = 4096

# Tungsten page size (spark.buffer.pageSize) of a local session. Spark
# derives it from the execution pool, 16 MiB for a 2 GiB driver at
# local[4]. Each hash-aggregate or sort task takes at least one page,
# and a 16 MiB page is a G1 humongous allocation (regions are 1 MiB in a
# 2 GiB heap), so with every core busy on small stages (the AQE floor
# below) the driver's peak RSS grew; at 1 MiB it fell below the old
# level (SCALE.md, "Small shuffles, heavy stages"). A task holds at most
# 8192 pages (TaskMemoryManager's page table), and a task that asks for
# page 8193 fails rather than spills, so the size doubles until 8192
# pages cover the driver heap. An on-heap page is a long[] with a
# 16-byte header, so the page is 16 bytes short of its MiB, as Spark's
# own derived size is under G1: the array then fills whole G1 regions
# instead of running 16 bytes into one more. A page of half a region
# would still take a whole one (G1 gives each humongous object its own
# regions), so the size also doubles past half a region. A static conf:
# it takes effect only on the builder of a new session.
_PAGE_TABLE_SIZE = 8192
_LONG_ARRAY_HEADER = 16


def _mib(mem: str) -> float:
    """A JVM memory string in MiB; a bare number is MiB, as in
    spark.driver.memory."""
    s = mem.strip().lower().removesuffix("b")
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    return float(s[:-1]) * units[s[-1]] if s[-1] in units else float(s)


def page_size_bytes(driver_mem: str) -> int:
    """spark.buffer.pageSize for a local session whose driver has
    ``driver_mem`` of heap, 16 bytes short of 1 MiB up to a 2 GiB
    driver, of 2 MiB up to 4 GiB (2 MiB regions), of 1 MiB up to 8 GiB
    and of 2 MiB up to 16 GiB."""
    heap = _mib(driver_mem)
    # HotSpot's G1 region: the heap over 2048, rounded up to a power
    # of two, within 1-32 MiB.
    region = min(32, 2 ** max(0, math.ceil(math.log2(heap / 2048))))
    mib = 1
    while mib * _PAGE_TABLE_SIZE < heap or 2 * mib == region:
        mib *= 2
    return mib * 2**20 - _LONG_ARRAY_HEADER


def get_spark(
    app_name: str = "gov_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are overridable for tests; defaults size a local session
    to the host while keeping every setting valid for a multi-executor
    cluster.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- planner / optimizer -------------------------------------
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) underneath persisted
        # plans too: cache materialization otherwise runs at the raw
        # shuffle-partition default with no runtime coalescing, which
        # both wastes tasks locally and pins cluster cache writes at
        # whatever width the static plan guessed (q42's profile cache).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge (guide
        # §3.1 both knobs, §9 baseline): most engine joins key id-only
        # relations whose per-partition hash table is tiny, and SHJ
        # skips both sort passes. Two gates with DIFFERENT guarantees
        # (ADVICE r13): the AQE SMJ->SHJ rewrite is bounded by REAL
        # runtime partition sizes (every post-shuffle partition under
        # 64 MiB); the static preferSortMergeJoin=false path is only
        # ESTIMATE-gated (canBuildLocalHashMap: estimated plan size
        # under threshold x numShufflePartitions), so a badly
        # underestimated build side could in principle hand SHJ a
        # partition it must hold fully in memory. In this engine the
        # static picks come from localCheckpointed inputs whose sizes
        # are KNOWN (q168/q198 pins), not estimated, and everything
        # else resolves at runtime under AQE; joins above the bounds
        # stay sort-merge (spill-safe). Measured -8% on the join-heavy
        # headline subset at sf0.1 (interleaved best-of-6,
        # OPTIMIZATION_r13.md; re-confirmed on q02's shape in r14).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Joins accept co-partitioning on a SUBSET of their keys (r14):
        # two pins hash-partitioned on qid join on (qid, cid) without
        # re-shuffling — equal join keys imply equal qid imply the same
        # partition, so this is planner-only (never wrong results).
        # The default (true) is skew conservatism: clustering on fewer
        # keys concentrates rows. The engine's subset-keyed pins
        # (q190's per-query relations) are keyed by the SAME column
        # the downstream windows/aggregates partition by anyway, so
        # the parallelism ceiling is the query's own shape, not this
        # flag.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # AQE coalesces shuffle partitions down to 64 KiB, not Spark's
        # 1 MiB: a shuffle of a few hundred KiB that feeds a CPU-heavy
        # stage (q155's posting self-join and its score-and-rank) runs
        # on every core instead of as one task. A runtime conf.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # --- python <-> jvm ------------------------------------------
        # No Python call-site capture. With it on, every
        # pyspark.sql.functions call and Column operator also looks up
        # the active session, reads a conf, sets and clears a JVM origin
        # and walks the Python stack: F.col 519 -> 148 us, col + col
        # 408 -> 40 us. The cost: a runtime error's "== DataFrame =="
        # context names a JVM frame instead of the Python file:line;
        # the error class and message are unchanged. PySpark reads the
        # flag once per process, at the first column call (and caches
        # off when no session is active then).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- semantics ----------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: spark.sql.legacy.parquet.nanosAsLong is deliberately NOT
        # set here. catalog.read_table enables it only after a read of a
        # TIMESTAMP(NANOS) fixture actually fails without it — setting
        # it session-wide would make every OTHER parquet read silently
        # load nanos columns as epoch-nanos longs instead of erroring.
        # --- local-mode niceties (harmless on a cluster) -------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
    )
    if not master or master.split("[")[0] == "local":
        # The driver is the only executor, so its heap sizes the page
        # exactly. A cluster keeps Spark's per-executor derived size.
        builder = builder.config(
            "spark.buffer.pageSize", str(page_size_bytes(DEFAULT_DRIVER_MEM))
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
