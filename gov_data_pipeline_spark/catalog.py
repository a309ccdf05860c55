"""Fixture-table catalog.

The driver fixtures (TESTDATA.md) are one parquet file per table. This
module is the single place that knows the table names and loads them; the
rest of the engine takes DataFrames.

Design note: these are plain ``spark.read.parquet`` scans so Catalyst
keeps full pushdown freedom — predicate pushdown, column pruning and
(when the layout has partitions) partition pruning all reach the parquet
reader. At 100 TB the same call reads a partitioned directory tree; no
code change is needed because nothing here materializes data.

The one thing kept is each table file's inferred schema (``_SCHEMAS``).
Inference runs a Spark job that reads the parquet footers, plus a file
listing: 41 ms per read against 5 ms for a read with a given schema
(4-vCPU host, ``local[4]``), and a curation pass reads ``documents``
four times. An entry is reused only while the file's identity (path,
length and modification time of the file, or of every file under a
directory, listed through Hadoop's ``FileSystem`` so cluster paths work
alike) and the session's parquet inference confs are unchanged, so a
rewritten file is inferred again.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables a planner should broadcast in star joins.
DIM_TABLES = ("region", "nation", "supplier", "part", "customer")


# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (stamp, inferred schema): one entry per path, replaced when the
# stamp (file identity + inference confs) changes.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_identity(spark: SparkSession, path: str) -> tuple:
    """Sorted (path, length, modification time) of the file at ``path``,
    or of every file under it when it is a directory."""
    root = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    files, pending = [], [root]
    while pending:
        for st in fs.listStatus(pending.pop()):
            if st.isDirectory():
                pending.append(st.getPath())
            else:
                files.append(
                    (st.getPath().toString(), st.getLen(), st.getModificationTime())
                )
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    file or the session's inference confs changed since the last read."""
    try:
        identity = _file_identity(spark, path)
    except Py4JJavaError:
        # Not listable (missing, a glob): the reader raises its own error.
        return spark.read.parquet(path)
    stamp = (identity, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing physical-type quirks.

    ``events.parquet`` has shipped with ``ts`` as either TIMESTAMP(NANOS)
    (which Spark's parquet reader has no type for — we read it as
    epoch-nanos long via the legacy conf and truncate to microseconds,
    bit-identical to DuckDB's nanos→micros truncation) or as plain
    TIMESTAMP(MICROS). The conversion is gated on the *read* schema so
    either fixture vintage works: only a LongType ``ts`` is converted;
    a real timestamp column passes through untouched.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        try:
            df = _read_parquet(spark, path)
        except AnalysisException as e:
            if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            # Only the TIMESTAMP(NANOS) vintage needs the legacy conf;
            # setting it unconditionally would silently change how every
            # LATER parquet read in the shared session handles nanos
            # columns (they'd load as epoch-nanos longs instead of
            # erroring) — so it is enabled only after inference rejects
            # the nanos type, and never after any other failure.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Session-tz-agnostic: NTZ wall-clock == the naive timestamps
            # DuckDB reads; cast so downstream tz-aware ops behave the
            # same as the historical timestamp_micros() output under UTC.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table under ``sf_dir`` as a DataFrame."""
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for ``spark.sql``."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
