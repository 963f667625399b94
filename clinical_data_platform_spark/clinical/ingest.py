"""CSV ingestion: land -> bronze.

Parity with ingestion/ingest_csv.py:16-29,90,141-146:
- 5-type schema lattice (string / int64 / float64 / bool / timestamp):
  Spark's inferSchema then normalized so downstream code sees the same
  canonical types the pandas sniffing produced.
- Bronze layout: Hive-partitioned ``study_id=… / domain=…``, snappy parquet
  — each domain is written to its own key directory, so a read of the root
  discovers both keys as partition columns and prunes on them (SURVEY §4).
- Chunked reads (chunk_read_csv) are moot: Spark's CSV source is natively
  split and parallel.
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..session import concurrently

_CANONICAL = {
    T.ByteType: T.LongType,
    T.ShortType: T.LongType,
    T.IntegerType: T.LongType,
    T.LongType: T.LongType,
    T.FloatType: T.DoubleType,
    T.DoubleType: T.DoubleType,
    T.BooleanType: T.BooleanType,
    T.TimestampType: T.TimestampType,
    T.DateType: T.TimestampType,
}


def canonical_type(dt: T.DataType) -> T.DataType:
    """Reduce any inferred type to the reference's 5-type lattice
    (int64/float64/bool/datetime/string — ingest_csv.py:16-29)."""
    for src, dst in _CANONICAL.items():
        if isinstance(dt, src):
            return dst()
    return T.StringType()


def read_csv_normalized(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return df.select(
        *[F.col(f.name).cast(canonical_type(f.dataType)).alias(f.name) for f in df.schema.fields]
    )


def infer_dtypes(df: DataFrame) -> dict[str, str]:
    """Canonical dtype names per column (the reference's report format)."""
    names = {
        T.LongType: "int64",
        T.DoubleType: "float64",
        T.BooleanType: "bool",
        T.TimestampType: "datetime64[ns]",
    }
    out = {}
    for f in df.schema.fields:
        ct = canonical_type(f.dataType)
        out[f.name] = next(
            (n for t, n in names.items() if isinstance(ct, t)), "string"
        )
    return out


def land_to_bronze(
    spark: SparkSession,
    csv_paths: dict[str, str],
    bronze_root: str,
    study_id: str = "STUDY001",
) -> None:
    """Ingest one CSV per domain into the partitioned bronze layout.

    csv_paths: {domain: csv_path}. Writes
    ``bronze_root/study_id=<sid>/domain=<D>/*.parquet`` (snappy). The
    domains land concurrently, each straight into its own partition
    directory with a plain overwrite: no two writes share an output
    directory, and re-landing one domain leaves the others in place.
    """

    def land(domain: str, path: str) -> None:
        read_csv_normalized(spark, path).write.mode("overwrite").option(
            "compression", "snappy"
        ).parquet(f"{bronze_root}/study_id={study_id}/domain={domain}")

    concurrently(spark, [partial(land, d, p) for d, p in csv_paths.items()])
