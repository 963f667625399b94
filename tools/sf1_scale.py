"""The scale lane's corpus synthesizer: ``replicate`` writes a copy of a
data dir's tables grown ``factor`` times. bench_scale.py times its queries
on the source and on this copy; perfbench's ``dedup_scale`` workload
follows the same rules.

Replication rules (why the 10x corpus is a FAIR scale-up, not 10 copies of
the same problem):
- fact keys are offset per replica (orderkey/custkey/partkey/suppkey/
  event_id/user_id/doc_id/vec_id), so joins see 10x distinct keys and
  shuffles carry 10x volume — never 10x duplicates of one key;
- dims (nation/region) stay fixed, exactly like real TPC-H scaling;
- document TEXT is passed through a replica-specific bijective character
  rotation (F.translate over the 10 highest-frequency letters), so each
  replica's shingle universe is isomorphic to sf0.1's but disjoint across
  replicas: per-shingle document frequencies — the quantity the sum(df^2)
  bound lives on — keep the sf0.1 distribution while the corpus grows 10x.
  Naive copying would instead make every document a 10-way duplicate and
  quadratically explode the TRUE pair count, measuring a data artifact
  rather than the engine;
- embeddings get a replica-specific circular dimension shift (norm- and
  geometry-preserving within a replica, decorrelated across replicas) so
  cell populations grow 10x without manufacturing 10-way exact duplicates.
"""

from __future__ import annotations

import os


def replicate(spark, src: str, out: str, factor: int) -> None:
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import TABLES, table

    os.makedirs(out, exist_ok=True)
    # bijective rotation alphabet: the 10 most frequent English letters —
    # almost every shingle contains one, so cross-replica shingle overlap
    # is negligible while each replica stays isomorphic to the original
    alpha = "etaoinsrhl"

    def key_offset(df, col, r, step):
        return df.withColumn(col, F.col(col) + F.lit(r * step))

    for name in TABLES:
        src_df = table(spark, src, name)
        if name in ("nation", "region"):
            src_df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
            continue
        # per-table key step: beyond any real key in the source
        steps = {
            "customer": ("c_custkey",),
            "supplier": ("s_suppkey",),
            "part": ("p_partkey",),
            "orders": ("o_orderkey", "o_custkey"),
            "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
            "events": ("event_id", "user_id"),
            "documents": ("doc_id",),
            "embeddings": ("vec_id",),
        }[name]
        maxes = src_df.agg(
            *[F.max(c).alias(c) for c in steps]
        ).collect()[0].asDict()
        parts = []
        for r in range(factor):
            d = src_df
            for c in steps:
                d = key_offset(d, c, r, int(maxes[c]) + 1)
            if name == "documents":
                rot = alpha[r:] + alpha[:r]
                d = d.withColumn("text", F.translate("text", alpha, rot))
            if name == "embeddings":
                dim = 64
                shift = r % dim
                if shift:
                    d = d.withColumn(
                        "embedding",
                        F.concat(
                            F.slice("embedding", shift + 1, dim - shift),
                            F.slice("embedding", 1, shift),
                        ),
                    )
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(32).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
