"""plans/textops.py edge-input semantics, checked against the DuckDB oracle
on tiny fixture corpora."""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from clinical_data_platform_spark.plans import all_oracles
from clinical_data_platform_spark.plans.textops import rm3_query_expansion

from .helpers import assert_frames_match

_VOCAB = ["join", "hash", "scan", "sort", "merge", "spark", "row", "key", "big", "slow", "data", "fast"]


def write_documents(sf_dir, texts) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": ["en"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": [None if t is None else len(t) for t in texts],
            }
        ),
        sf_dir / "documents.parquet",
    )


def test_rm3_null_and_empty_text_match_oracle(spark, tmp_path):
    """A NULL-text document counts in n_docs but not in avgdl; an
    empty-text one counts as length 0 in both."""
    rng = random.Random(53)
    texts = [" ".join(rng.choices(_VOCAB, k=rng.randint(3, 14))) for _ in range(24)]
    texts[4], texts[9] = None, ""
    write_documents(tmp_path, texts)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = con.execute(all_oracles()["rm3_query_expansion"]).fetchdf()
    assert len(want) == 10
    assert_frames_match(rm3_query_expansion(spark, str(tmp_path)), want, context="rm3")
