"""SDTM standardizers: bronze -> silver.

Parity with the reference mappers (standards/cdisc_sdtm_mapping.py:13-94):
rename + project (columns NOT in the map are dropped) + cast-with-
null-on-error. Spark ``cast`` already yields NULL on bad input, which is
exactly pandas' ``errors="coerce"`` (SURVEY §1.2); pandas' 3-valued
``boolean`` dtype is Spark's natively-nullable BooleanType.

Each mapper is a pure column projection — no shuffle, fully pushdown- and
prune-friendly at any scale.
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..session import concurrently

# domain -> ordered {source_col: target_col}; values define the output
# projection (extra input columns are dropped, mapper semantics)
_DOMAIN_COLUMNS: dict[str, dict[str, str]] = {
    "DM": {c: c for c in ["STUDYID", "SUBJID", "ARM", "SEX", "AGE"]},
    "AE": {c: c for c in ["STUDYID", "SUBJID", "AESTDTC", "AEENDTC", "AESEV", "AESER", "AEOUT"]},
    "LB": {c: c for c in ["STUDYID", "SUBJID", "LBTESTCD", "LBORRES", "LBORRESU", "LBLNOR", "LBHNOR"]},
    "VS": {c: c for c in ["STUDYID", "SUBJID", "VSTESTCD", "VSORRES", "VSORRESU"]},
    "EX": {c: c for c in ["STUDYID", "SUBJID", "EXTRT", "EXDOSE", "EXSTDTC", "EXENDTC"]},
}

# target col -> spark type for the coercing casts each mapper applies
_DOMAIN_CASTS: dict[str, dict[str, str]] = {
    "DM": {"AGE": "double"},
    "AE": {"AESTDTC": "timestamp", "AEENDTC": "timestamp", "AESER": "boolean"},
    "LB": {"LBORRES": "double", "LBLNOR": "double", "LBHNOR": "double"},
    "VS": {"VSORRES": "double"},
    "EX": {"EXDOSE": "double", "EXSTDTC": "timestamp", "EXENDTC": "timestamp"},
}


def _mapper(domain: str):
    cols, casts = _DOMAIN_COLUMNS[domain], _DOMAIN_CASTS[domain]

    def map_domain(df: DataFrame) -> DataFrame:
        out = []
        for src, dst in cols.items():
            c = F.col(src).alias(dst)
            if dst in casts:
                # try_cast = pandas errors="coerce": NULL on malformed input
                # (plain cast THROWS under Spark 4's default ANSI mode)
                c = F.col(src).try_cast(casts[dst]).alias(dst)
            out.append(c)
        return df.select(*out)

    return map_domain


map_dm = _mapper("DM")
map_ae = _mapper("AE")
map_lb = _mapper("LB")
map_vs = _mapper("VS")
map_ex = _mapper("EX")

DOMAIN_MAPPERS = {"DM": map_dm, "AE": map_ae, "LB": map_lb, "VS": map_vs, "EX": map_ex}


def standardize_bronze_to_sdtm(
    spark, bronze_root: str, out_dir: str, domains: tuple[str, ...] = ("DM", "AE", "LB", "VS", "EX")
) -> dict[str, StructType]:
    """Bronze (study_id=/domain= partitioned parquet) -> silver parquet per
    domain (cdisc_sdtm_mapping.py:97-113), the domains written concurrently.
    Partition pruning on domain= is automatic from the path filter. Returns
    ``{domain: schema written}`` so a reader of ``<out_dir>/<domain>.parquet``
    needs no schema inference."""

    def standardize(domain: str) -> StructType:
        df = DOMAIN_MAPPERS[domain](spark.read.parquet(f"{bronze_root}/domain={domain}"))
        df.write.mode("overwrite").parquet(f"{out_dir}/{domain}.parquet")
        return df.schema

    schemas = concurrently(spark, [partial(standardize, d) for d in domains])
    return dict(zip(domains, schemas))
