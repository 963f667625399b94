"""Deduplication operators for large-scale text corpora.

Four tiers, cheapest first — all pure DataFrame ops, designed so each stage
is shuffle-bounded by the number of *candidate pairs*, never O(n^2):

1. exact_dedup          — md5 fingerprint of normalized text, hash groupBy.
2. ngram_jaccard_pairs_inverted / containment_pairs — word n-gram
                          shingles, pairs counted by posting_pair_counts,
                          the one posting-list pair expansion, capped at
                          POSTING_DF_CAP docs per shingle; exact Jaccard
                          (or containment) on those pairs.
                          ngram_jaccard_pairs is the uncapped exhaustive
                          self-join the capped path is tested against.
3. minhash_signatures / minhash_lsh_candidates — k seeded xxhash64 min-
                          hashes, banded LSH bucketing; candidate pairs come
                          from band-bucket joins (near-dup at 100 TB scale).
4. simhash64            — 64-bit simhash per doc; near-dups share simhash
                          up to a small Hamming distance.

The reference has no dedup surface (batch clinical data); these are the
north-star extensions (BASELINE.json) built Spark-first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import driverexact
from ..functions.text import fingerprint, tokens, word_shingles
from ..session import shuffle_partitions


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-identity dedup: canonical fingerprint -> keep min id.

    Returns (fingerprint, keep_id, n_copies). Hash groupBy: one shuffle on
    the 128-bit fingerprint, perfectly parallel, no skew (hash keys)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exploded (id, shingle) inverted-index input. Distinct shingles per
    doc so Jaccard math is set-based.

    The token array is materialized as its own projection first — if the
    split() expression is inlined into the shingle lambda, Catalyst
    re-evaluates it per element access (O(len^2) regex splits per doc).
    Also repartitions to the session's shuffle parallelism: a small file
    arrives as one partition, and shingling is CPU-bound, so fan out before
    the heavy expression rather than after."""
    parallelism = shuffle_partitions(df.sparkSession)
    # repartition the RAW text, then tokenize: a projection does not move
    # across the exchange, so tokenizing before the repartition would run
    # the regex split serially on the single input partition
    tok = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .repartition(parallelism)
        .select(
            "doc_id",
            tokens(F.lower(F.col("__text"))).alias("__toks"),
        )
    )
    return tok.select(
        "doc_id",
        F.explode(word_shingles(F.col("__toks"), n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, via a shingle
    self-join with no posting cap: the exhaustive reference the capped
    posting_pair_counts path is tested against. Shuffle cost is
    sum over shingles of df(shingle)^2 — a test-scale tool, not a 100 TB
    plan.
    """
    sh = shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b"))
    jacc = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(jacc, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, array<long> signature): k seeded xxhash64 min-hashes over the
    shingle set. One explode + one groupBy; signature width is a constant."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[f"h{s}" for s in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, band) — docs that agree on
    all rows of at least one band. The band hash groupBy keeps the join
    local to tiny buckets; this is the scale path for fuzzy dedup."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "-",
                                *[
                                    F.element_at("signature", b * rows + r + 1).cast(
                                        "string"
                                    )
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash per document from token hashes, packed into a long.

    NOTE: the signature is effectively 63 bits wide — bit 63 (the sign
    bit) is intentionally left unused so the packed value stays a
    non-negative BIGINT on both Spark and DuckDB. Hamming-distance
    comparisons are self-consistent, but signatures are NOT
    interchangeable with true 64-bit simhash implementations.

    Explode tokens -> per (doc, bit) signed contribution -> sign vector ->
    packed long. Two shuffles total (token groupBy, doc groupBy); the 63-way
    bit expansion happens as an array, not 63 jobs."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    contrib = tok.select(
        "doc_id",
        F.array(
            *[
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1)
                .otherwise(-1)
                .alias(f"b{i}")
                for i in range(63)
            ]
        ).alias("bits"),
    )
    summed = contrib.groupBy("doc_id").agg(
        *[F.sum(F.element_at("bits", i + 1)).alias(f"s{i}") for i in range(63)]
    )
    packed = summed.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(63)
            ],
            F.lit(0),
        ).alias("simhash"),
    )
    return packed


def simhash_md5_16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash whose bit source is md5 — the oracle-checkable twin
    of simhash64 (DuckDB reproduces the identical hex, so bit extraction,
    signed sums, and packing are value-verified; the 64-bit xxhash64
    variant stays the production path).

    Bit j of a token = bit (3 - j%4) of hex digit (1 + j//4) of
    md5(token). Documents with no tokens drop out (explode of an empty
    array) in both engines. Same two-shuffle plan as simhash64."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    digit = [
        F.conv(F.substring("h", 1 + j // 4, 1), 16, 10).cast("int")
        for j in range(16)
    ]
    contrib = tok.select(
        "doc_id",
        *[
            F.when(
                F.shiftright(digit[j], 3 - j % 4).bitwiseAND(F.lit(1)) == 1, 1
            )
            .otherwise(-1)
            .alias(f"b{j}")
            for j in range(16)
        ],
    )
    summed = contrib.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(16)]
    )
    packed = sum(
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(16)
        ],
        F.lit(0),
    )
    return summed.select("doc_id", packed.cast("long").alias("simhash16"))


def minhash_md5_hashes(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, i, mh): the md5 min-hash family over a (doc_id, shingle)
    table — min over md5(i || '|' || shingle) per (doc, hash index).
    Factored out of minhash_md5_candidates so composed plans (the
    estimator audit) can build it ONCE and feed both the LSH banding
    and their own signature consumers."""
    return (
        sh.select(
            "doc_id",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(
            F.min(
                F.md5(F.concat(F.col("i").cast("string"), F.lit("|"), F.col("shingle")))
            ).alias("mh")
        )
    )


def minhash_md5_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash-LSH whose hash family is md5(i || '|' || shingle) —
    slower per byte than the xxhash64 family in minhash_lsh_candidates,
    but portable: DuckDB computes the identical lowercase hex, so this
    variant is EXACTLY oracle-checkable end-to-end (signatures, banding,
    and the candidate pair set), not just rows-only.

    Plan shape is identical to the fast path: explode shingles x hash
    indices, partial-final MIN per (doc, hash), band signatures by
    string-concat, then an equi self-join on (band, signature) — candidate
    generation stays bucket-local at any scale.

    ``shingles``: optional prebuilt (doc_id, shingle) table — pass the
    SAME shingle_table output to sibling detectors so a composed plan
    tokenizes the corpus once instead of once per detector.
    ``hashes``: optional prebuilt (doc_id, i, mh) min-hash table (the
    exact expression below) — pass it when the composing plan ALSO
    consumes the signatures (e.g. the estimator audit) so the
    shingle x hash-index expansion and its md5 family run once."""
    rows = num_hashes // bands
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    h = hashes if hashes is not None else minhash_md5_hashes(sh, num_hashes)
    sig = (
        h.withColumn("band", F.floor(F.col("i") / F.lit(float(rows))).cast("long"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mh"))),
                    lambda x: x["mh"],
                ),
                ",",
            ).alias("sig")
        )
    )
    a = sig.select(F.col("doc_id").alias("id_a"), "band", "sig")
    b = sig.select(F.col("doc_id").alias("id_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# The quadratic-blowup guard of every posting-list pair expansion: a key
# (shingle, fingerprint, token) held by more entities than this never
# expands pairs. Stopword-only n-grams and boilerplate fingerprints are the
# keys it drops; every oracle mirrors it as a HAVING count(*) filter.
POSTING_DF_CAP = 1000


def posting_pair_counts(elems: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """(id_a, id_b, n_common) with id_a < id_b: how many keys two entities
    share, counting only keys held by 2 to POSTING_DF_CAP entities.
    ``elems`` must hold one row per (id, key).

    Builds the inverted index (groupBy key -> sorted id list) and expands
    each posting list's pairs with a higher-order function: one shuffle
    to build postings and one to count pairs, pair-expansion work bounded
    by sum(df^2) like a key self-join but with no join hash table.
    POSTING_DF_CAP is read at call time.

    The posting array is collected before the cap filters it, so one
    degenerate hot key buffers its full id list in the aggregation before
    being discarded. A count-aggregate pre-filter closes that window but
    cost bleu_near_dup_pairs +1.1 s on a ~6 s query (7.36 vs 6.25 s
    isolated min-of-3, sf0.1) for a cap that never binds on the shipped
    documents (max trigram df 25)."""
    postings = elems.groupBy(key_col).agg(
        F.array_sort(F.collect_list(id_col)).alias("docs")
    )
    postings = postings.filter(F.size("docs") >= 2)
    postings = postings.filter(F.size("docs") <= POSTING_DF_CAP)
    # pair expansion is CPU-bound but byte-light: AQE's size-based coalesce
    # would squeeze it onto one task, so pin the fan-out explicitly
    parallelism = shuffle_partitions(postings.sparkSession)
    postings = postings.repartition(parallelism)
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        postings.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def ngram_jaccard_pairs_inverted(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Jaccard over word-n-gram shingle sets from posting_pair_counts —
    the same result as ngram_jaccard_pairs wherever no shingle exceeds
    POSTING_DF_CAP. Set sizes stay uncapped: the cap drops ultra-common
    shingles from intersection counting only.

    ``shingles``: optional prebuilt (doc_id, shingle) table (see
    minhash_md5_candidates) so composed detectors share one tokenize."""
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    inter = posting_pair_counts(sh, "doc_id", "shingle")
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b"))
    jacc = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    # sizes has one row per document — data-sized, so no broadcast hint:
    # at billions of docs a forced broadcast build OOMs executors. Plain
    # equi-join; AQE still picks broadcast when the side is actually small.
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_common", F.round(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle-set CONTAINMENT |A∩B| / |A| (Broder
    1997's second resemblance measure) — catches a short document quoted
    or embedded inside a longer one, which symmetric Jaccard misses
    (|A∩B|/|A∪B| stays small when |B| >> |A|). Emits one directed row
    per pair whose smaller side is >= threshold contained in the larger
    (ties by id), with both set sizes so the consumer sees the asymmetry.

    Plan: posting_pair_counts, like ngram_jaccard_pairs_inverted; only
    the final scoring expression differs, so the 100 TB properties carry
    over unchanged.

    ``shingles``: optional prebuilt (doc_id, shingle) table (see
    minhash_md5_candidates) so composed detectors share one tokenize."""
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    inter = posting_pair_counts(sh, "doc_id", "shingle")
    sa = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b")
    )
    # per-document sizes table is data-sized: no broadcast hint (AQE decides)
    scored = inter.join(sa, "id_a").join(sb, "id_b")
    # direct the pair: smaller set (ties by id) is the contained side
    a_small = (F.col("size_a") < F.col("size_b")) | (
        (F.col("size_a") == F.col("size_b")) & (F.col("id_a") < F.col("id_b"))
    )
    id_contained = F.when(a_small, F.col("id_a")).otherwise(F.col("id_b"))
    id_container = F.when(a_small, F.col("id_b")).otherwise(F.col("id_a"))
    size_contained = F.when(a_small, F.col("size_a")).otherwise(F.col("size_b"))
    size_container = F.when(a_small, F.col("size_b")).otherwise(F.col("size_a"))
    containment = F.col("n_common") / size_contained
    return (
        scored.select(
            id_contained.alias("id_contained"),
            id_container.alias("id_container"),
            size_contained.alias("size_contained"),
            size_container.alias("size_container"),
            "n_common",
            (F.floor(containment * 1e6) / 1e6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# connected_components' driver-replay bound: 1M long pairs is ~16 MB, the
# order of Spark's own autoBroadcastJoinThreshold. The candidate pair set
# is the pruned output of banded/df-capped generation, not the corpus.
# The gate itself is functions/driverexact.driver_rows.
_CC_LOCAL_MAX_PAIRS = 1_000_000


def _cc_local(pairs: DataFrame, tbl) -> DataFrame:
    """Driver-side union-find over ``tbl``, the fetched rows of ``pairs``.

    Classic weighted quick-union with path halving over the Arrow-fetched
    pair list, then each class is relabeled to its MIN member id — the
    same (node, component=min reachable id) contract as the distributed
    loop. O(E alpha(N)) on one core: microseconds at the scale the
    _CC_LOCAL_MAX_PAIRS gate admits, and zero Spark jobs beyond the
    fetch, which is what retires the per-round scheduling floor the r8
    stall forensics measured on this operator."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path halving
            parent[x], x = root, parent[x]
        return root

    src, dst = (tbl.column(c).to_pandas().tolist() for c in ("src", "dst"))
    for a, b in zip(src, dst):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # roots chosen by min-union are already class minima; one more pass
    # resolves every node to its root
    import pandas as pd

    nodes = sorted(parent)
    out = pd.DataFrame(
        {"node": nodes, "component": [find(n) for n in nodes]}
    )
    schema = "node {t}, component {t}".format(
        t=pairs.schema["src"].dataType.simpleString()
    )
    return pairs.sparkSession.createDataFrame(out, schema=schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Dedup clusters: connected components over candidate pairs.

    Size-adaptive (r8 verdict item 3 — the per-round driver/scheduling
    cost of the propagation loop was THE measured stall class of the
    suite): below the ``_CC_LOCAL_MAX_PAIRS`` gate (``driver_rows``)
    the graph is solved with driver-side union-find
    (``_cc_local``) — the same small-side escape hatch Spark's AQE applies
    to joins — otherwise iterative min-label propagation runs
    distributed: each round one join + one groupBy over a self-looped
    edge table, lineage truncated with catalog.iter_checkpoint (the
    labels state feeds joins every round — plain localCheckpoint would
    carry multiplied sizeInBytes stats), convergence detected by the
    strictly-decreasing sum of labels (one tiny scan of the checkpointed
    state, replacing the old join-of-two-checkpoints changed-count whose
    plan re-analysis dominated the r8 in-flight stall capture).

    Returns (node, component) where component = min node id reachable —
    the canonical "keep" document per near-duplicate cluster.
    """
    from ..catalog import iter_checkpoint

    pairs, tbl = driverexact.driver_rows(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
        _CC_LOCAL_MAX_PAIRS,
    )
    if tbl is not None:
        return _cc_local(pairs, tbl)

    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select("src").distinct()
    # self-loops fold the "keep my own component" term into the edge
    # table, so one propagation hop is a single join + groupBy that
    # references the labels state exactly ONCE (the old left-join form
    # referenced it twice, which doubles the analyzed subtree per
    # consumer)
    edges = (
        sym.unionByName(nodes.select("src", F.col("src").alias("dst")))
        .distinct()
        .cache()
    )
    labels = iter_checkpoint(
        nodes.select(F.col("src").alias("node")).withColumn(
            "component", F.col("node")
        )
    )
    prev_sum = None
    for _ in range(max_iter):
        labels = iter_checkpoint(
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("src", "node")
        )
        # per-node labels only ever decrease, so the total is strictly
        # decreasing until the fixed point: equal consecutive sums ==
        # converged. decimal(38,0) keeps the sum exact for any id range.
        cur = labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels


def _ppjoin_doc_table(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, ordered df-ascending shingle structs, full shingle set, size).

    full_set and set_size are PROJECTED off the ordered array rather than
    aggregated separately — one collect_list buffer per doc instead of
    three (collect_list + collect_set + count), and the shingle strings
    are stored once."""
    sh = shingle_table(df, id_col, text_col, n)
    parallelism = shuffle_partitions(df.sparkSession)
    # Explicit hash exchanges, not AQE-sized ones: the session runs AQE
    # with parallelismFirst=false (right for the floor-dominated suite),
    # but every stage here is CPU-dense per byte (sort+join on shingle,
    # collect_list + array_sort per doc), so bytes-based coalescing
    # serialized them onto 3-4 tasks (measured 17.5 s docs-table at 50k
    # docs; ~6 s after claiming the parallelism). sh32 feeds both the df
    # count and the join probe side with the SAME partitioning, so the
    # exchange is planned once (ReusedExchange) and the join adds none.
    sh32 = sh.repartition(parallelism, "shingle")
    dfreq = sh32.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh32.join(dfreq, "shingle")
        .repartition(parallelism, id_col)
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                "ordered"
            ),
        )
        .select(
            id_col,
            "ordered",
            F.col("ordered.shingle").alias("full_set"),
            F.size("ordered").cast("long").alias("set_size"),
        )
    )


def _ppjoin_candidates(
    docs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing a token within BOTH prefixes,
    after the LENGTH filter: J(a,b) >= t implies t*max(|a|,|b|) <=
    min(|a|,|b|), so size-mismatched pairs are dropped inside the join
    before the distinct — provably lossless, like the prefix itself."""
    plen = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size"))
        + 1
    ).cast("int")
    pref = (
        docs.select(
            F.col(id_col),
            F.col("set_size"),
            F.explode(F.slice(F.col("ordered"), F.lit(1), plen)).alias("ps"),
        )
        .select(id_col, "set_size", F.col("ps.shingle").alias("shingle"))
        # claim the join parallelism explicitly (CPU-dense self-join;
        # see _ppjoin_doc_table) — both join branches share this
        # exchange, so the self-join plans it once and adds none
        .repartition(shuffle_partitions(docs.sparkSession), "shingle")
    )
    length_ok = (
        F.greatest(F.col("size_a"), F.col("size_b")) * F.lit(threshold)
        <= F.least(F.col("size_a"), F.col("size_b"))
    )
    return (
        pref.select(
            F.col(id_col).alias("id_a"),
            F.col("set_size").alias("size_a"),
            "shingle",
        )
        .join(
            pref.select(
                F.col(id_col).alias("id_b"),
                F.col("set_size").alias("size_b"),
                "shingle",
            ),
            "shingle",
        )
        .filter((F.col("id_a") < F.col("id_b")) & length_ok)
        .select("id_a", "id_b")
        .distinct()
        # the candidate table is BYTES-small (two longs per row) but the
        # downstream verify is CPU-dense (array_intersect per pair), so
        # AQE's bytes-based coalescing collapses the distinct() output to
        # ONE partition and serializes verification (measured 14.8 s on
        # one core vs <1 s fanned out). Re-expand explicitly.
        .repartition(shuffle_partitions(docs.sparkSession))
    )


def ppjoin_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact Jaccard join with prefix filtering (Chaudhuri et al. 2006;
    Bayardo et al. 2007 "Scaling Up All Pairs"): order each document's
    shingles by ascending global document frequency (rarest first, ties
    by shingle), index only the first ``|d| - ceil(t*|d|) + 1`` of them,
    and generate candidates from the prefix inverted index — any pair
    with Jaccard >= t provably shares a prefix token, so the filter
    loses nothing, while common tokens (which drive the quadratic
    posting-list expansion) never enter the index. Candidates are then
    verified EXACTLY via array_intersect over the full shingle sets.

    At 100 TB this is the principled upgrade over the raw inverted-index
    join + frequency cap: pruning strength adapts to the threshold
    instead of a fixed df cutoff, and the verify step touches only
    surviving pairs with per-doc bounded arrays.

    The doc table (shingle explode -> df-annotation join -> per-doc
    ordered collect) is consumed THREE times downstream — candidate
    generation plus both sides of the verify join — so it is
    localCheckpoint'ed: without truncation Spark re-executes the whole
    subtree per consumer, which tripled this operator's wall-clock
    (measured 20.6 s -> 8.3 s at sf0.1). At cluster scale the same
    role is played by persisting the doc table (or writing it once).
    It is fanned out before the checkpoint for the same reason the
    candidates are after theirs: AQE coalesces the bytes-small groupBy
    output to one partition, which would serialize the CPU-dense
    prefix-explode and verify map sides that read the checkpoint."""
    parallelism = shuffle_partitions(df.sparkSession)
    docs = (
        _ppjoin_doc_table(df, id_col, text_col, n)
        .repartition(parallelism)
        .localCheckpoint()
    )
    cand = _ppjoin_candidates(docs, id_col, threshold)
    da = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("full_set").alias("set_a"),
        F.col("set_size").alias("size_a"),
    )
    db = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("full_set").alias("set_b"),
        F.col("set_size").alias("size_b"),
    )
    n_common = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    jacc = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_common", n_common.cast("long"))
        .filter(jacc >= threshold)
        .select("id_a", "id_b", "n_common", F.round(jacc, 6).alias("jaccard"))
    )
