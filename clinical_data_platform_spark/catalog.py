"""Test-corpus catalog: typed access to the driver's parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. All loads go through :func:`table` so the
session timezone is pinned (oracle parity) and small dimensions can be
broadcast by callers.

At scale these would be catalog tables (Hive/Unity/Glue) with partitioning,
whose schema is known without reading a file; here they are single parquet
files. So that each file's footer is read only once, its schema is inferred
once per session, per value of the confs that change Parquet inference, and
per file identity (path, inode, mtime, size); every later read passes that
schema and runs no inference job. Only the schema is remembered: each call
returns a new relation with fresh attribute ids, so a query may self-join a
table (q7/q8 read ``nation`` twice). Catalyst still gets predicate pushdown
and column pruning on the scans.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import shuffle_partitions, tune_session

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

# Dimensions small enough to always broadcast (region: 5 rows, nation: 25,
# supplier/customer/part scale with sf but stay << the 10 MB AQE threshold
# at test scale; at 100 TB customer/part would be sort-merge/bucketed).
ALWAYS_BROADCAST = ("region", "nation", "supplier")


# Optional suite-mode scan cache: when a caller (bench_compare, a REPL
# session running many queries against one sf_dir) opts in, each table is
# .cache()'d on first touch so the N-th query reads Tungsten in-memory
# columnar batches instead of re-decoding parquet. Off by default — cached
# relations bypass parquet predicate pushdown, and single-query plans
# should keep their pushed filters.
_SCAN_CACHE: dict[tuple[str, str], DataFrame] = {}
_CACHE_ENABLED = False


def enable_scan_cache(enabled: bool = True) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = enabled
    if not enabled:
        for df in _SCAN_CACHE.values():
            df.unpersist()
        _SCAN_CACHE.clear()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    tune_session(spark)
    if _CACHE_ENABLED:
        key = (sf_dir, name)
        if key not in _SCAN_CACHE:
            _SCAN_CACHE[key] = _load(spark, sf_dir, name).cache()
        return _SCAN_CACHE[key]
    return _load(spark, sf_dir, name)


# SQL confs whose values change the schema Parquet inference produces.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# session -> {(conf values, abs path, st_ino, st_mtime_ns, st_size): schema}.
# Weak keys: a stopped, dropped session takes its schemas with it. Threads
# that race on one key (bench_compare's batched phase) each infer and store
# the same schema, so no lock is needed.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the first
    read of this file in this session under these inference confs. A path
    that is not a regular local file (a directory, a URI, a missing path)
    is inferred on every read, as a plain read would."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    key = None
    if st is not None and stat.S_ISREG(st.st_mode):
        key = (
            tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
            os.path.abspath(path),
            st.st_ino,
            st.st_mtime_ns,
            st.st_size,
        )
        schema = _SCHEMAS.get(spark, {}).get(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS.setdefault(spark, {})[key] = df.schema
    return df


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _read_events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to a microsecond TimestampType whatever the
    parquet physical type is — the corpus has shipped both TIMESTAMP(NANOS)
    (rejected by Spark's reader, SPARK-40819: read nanos as long via the
    legacy conf and integer-divide, the same truncation DuckDB applies when
    it narrows ns -> us) and plain TIMESTAMP(MICROS) (which Spark 4 infers
    as TIMESTAMP_NTZ for isAdjustedToUTC=false: cast to TimestampType —
    wall-clock identity under the UTC session tune_session pins)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(_read_parquet(spark, f"{sf_dir}/events.parquet"))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Map the scanned ts column to session-tz microsecond TimestampType."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts", "timestamp")
    if dtype == "bigint":  # nanos read as long under the legacy conf
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype.startswith("timestamp_ntz"):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for spark.sql plans)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin the scan up to the session's shuffle parallelism when
    the source yields fewer partitions (the test corpus is ONE small
    parquet file, so CPU-heavy per-document expressions otherwise run on
    one core — measured 10x+ on the shingle pipelines). At 100 TB the
    scan has thousands of splits and this is an identity no-op, so the
    extra exchange exists only in the degenerate small-scan case."""
    spark = df.sparkSession
    parallelism = shuffle_partitions(spark)
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage truncation for ITERATIVE plans (fixed-point loops with
    self-joins): eager ``localCheckpoint`` plus a reset of the inherited
    plan statistics.

    ``Dataset.localCheckpoint`` deliberately carries the optimized plan's
    statistics onto the resulting ``LogicalRDD`` (so broadcast decisions
    survive a checkpoint). For a loop whose body self-joins the running
    state that inheritance is a time bomb: Catalyst's size-only estimator
    multiplies child ``sizeInBytes``, so the carried BigInt's bit-length
    DOUBLES every round and stats estimation on the driver goes
    exponential — measured 7x wall-clock growth per round from round ~9,
    minutes by round 11, on a 100-row state table (the work is
    ``BigInteger.multiplyToomCook3`` under
    ``SizeInBytesOnlyStatsPlanVisitor``, executors idle). Rebuilding the
    DataFrame from the checkpointed InternalRow RDD drops the origin
    stats, so every round re-plans against the flat default estimate and
    per-round cost stays constant. Loop state is never the broadcast side
    at scale, so losing the inherited estimate costs nothing.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        # Classic-session fast path via JVM internals: rebuilding from the
        # checkpointed InternalRow RDD drops the inherited statistics.
        jdf = ck._jdf
        fresh = ck.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, ck.sparkSession)
    except Exception:
        # Spark Connect (no _jdf) or internal-API drift across versions:
        # the plain checkpoint is still correct — it merely keeps the
        # carried stats, so high-iteration loops re-plan more slowly.
        return ck
