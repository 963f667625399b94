"""catalog.table: a table's parquet schema is inferred once per session,
inference confs and file identity, and never shared as a relation."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType, StringType, TimestampType

from __spark_entry__ import SF_SMOKE_DIR as SF
from clinical_data_platform_spark import catalog
from clinical_data_platform_spark.observability import profile_query


def read_jobs(spark, sf_dir: str, name: str) -> int:
    """Spark jobs one ``catalog.table`` call runs (counted by its job group)."""
    rec = profile_query(spark, name, lambda: catalog.table(spark, sf_dir, name))
    assert "error" not in rec, rec
    return rec["plans.builder_jobs"]


def test_second_read_in_a_session_runs_no_job(spark):
    s = spark.newSession()  # a session whose memo starts empty
    assert read_jobs(s, SF, "lineitem") >= 1
    assert read_jobs(s, SF, "lineitem") == 0
    assert catalog.table(s, SF, "lineitem").count() == spark.read.parquet(
        f"{SF}/lineitem.parquet"
    ).count()
    # a new relation per call: a self-join resolves (q7/q8 read nation twice)
    n1, n2 = catalog.table(s, SF, "nation"), catalog.table(s, SF, "nation")
    assert n1 is not n2
    pairs = n1.alias("a").join(n2.alias("b"), "n_regionkey").count()
    assert pairs == 5 * 5 * 5  # 5 regions of 5 nations each


def test_table_rewritten_at_same_path_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert catalog.table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = catalog.table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_inference_conf_change_is_reinferred(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": pa.array([b"a b", b"c"], pa.binary())}),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    s1 = spark.newSession()
    s1.conf.set(conf, "false")
    assert catalog.table(s1, sf, "documents").schema["text"].dataType == BinaryType()

    s2 = spark.newSession()
    s2.conf.set(conf, "true")
    assert read_jobs(s2, sf, "documents") >= 1
    df = catalog.table(s2, sf, "documents")
    assert df.schema["text"].dataType == StringType()
    assert sorted(r.text for r in df.collect()) == ["a b", "c"]

    # flipping the conf inside one session re-infers as well
    s1.conf.set(conf, "true")
    assert catalog.table(s1, sf, "documents").schema["text"].dataType == StringType()


def test_events_ts_stays_microsecond_timestamp_on_repeated_reads(spark):
    s = spark.newSession()
    first = catalog.table(s, SF, "events")
    assert read_jobs(s, SF, "events") == 0
    second = catalog.table(s, SF, "events")
    # DuckDB narrows the file's nanoseconds to microseconds, as the catalog does
    want = duckdb.sql(
        f"SELECT min(epoch_us(ts)), max(epoch_us(ts)) FROM '{SF}/events.parquet'"
    ).fetchone()
    for df in (first, second):
        assert df.schema["ts"].dataType == TimestampType()
        got = df.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))").first()
        assert tuple(got) == want
