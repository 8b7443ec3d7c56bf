"""Corpus sampling + sequence packing for training-data pipelines
(BASELINE.json north star; no reference counterpart — the reference is
batch features only).

All content-keyed and deterministic: sampling/splitting decisions hash
the DOCUMENT TEXT (``text.poly_hash``), not row position or RNG state,
so results are stable under repartitioning, resharding, and re-runs —
the property a 100 TB pipeline needs for reproducible training sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrow
from ..functions.prefix import exclusive_prefix
from .text import poly_hash, token_count


def stratified_sample(
    docs: DataFrame,
    n_per_stratum: int,
    strata_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: within each stratum keep the
    ``n_per_stratum`` docs with the smallest (content hash, id) — a
    uniform-ish, content-keyed draw with exact per-stratum counts.

    One shuffle (window partition on strata). With many small strata the
    partitions stay balanced; a single giant stratum degrades to a
    per-stratum sort, which AQE splits fine since the key cardinality
    inside the window is the hash (near-unique).
    """
    strata_cols = strata_cols or ["lang"]
    w = Window.partitionBy(*strata_cols).orderBy("_h", id_col)
    return (
        docs.withColumn("_h", poly_hash(text_col))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
        .withColumnRenamed("_h", "sample_hash")
    )


def hash_split(
    docs: DataFrame,
    test_permille: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Content-keyed train/test split: a doc lands in 'test' iff its
    content bucket (0..999) < test_permille. Pure projection —
    scale-free, and duplicate texts always land on the same side (no
    leakage across the split from exact dups).

    The raw polynomial hash of near-identical texts differs only in the
    low digits (the last chars feed the accumulator directly), so
    ``% 1000`` would correlate the split with trailing content. A Knuth
    multiplicative mix + top-bits extraction avalanches it; every step
    stays in int64 and is exact in both engines (power-of-two division).
    """
    h = poly_hash(text_col)
    mixed = (h * F.lit(2654435761)) % F.lit(4294967296)
    bucket = F.floor(mixed * 1000 / F.lit(4294967296))
    return docs.withColumn(
        "split", F.when(bucket < test_permille, F.lit("test")).otherwise(F.lit("train"))
    )


PACK_SCHEMA = "group string, doc_id long, n_tokens long, pack_id long"


def sequence_packing(
    docs: DataFrame,
    budget: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy first-fit sequence packing: walking each group in id
    order, append the doc to the current pack unless its tokens would
    overflow ``budget``, else start a new pack (an over-budget doc gets
    its own pack). The token-budget analog of the exact-reset volume
    bar sampler — same per-group sequential state machine, so the same
    scale shape: groups pack independently (``arrow.groups``, one
    shuffle on the group key), state is O(1) per group.
    """
    budget = int(budget)

    def _pack(cols):
        pack_ids = []
        cum = 0
        pid = 0
        for t in cols["n_tokens"]:
            t = int(t)
            if cum > 0 and cum + t > budget:
                pid += 1
                cum = 0
            cum += t
            pack_ids.append(pid)
        return {**cols, "pack_id": pack_ids}

    base = docs.select(
        F.col(group_col).cast("string").alias("group"),
        F.col(id_col).alias("doc_id"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    return arrow.groups(base, "group", _pack, PACK_SCHEMA, order=("doc_id",))


def mixture_sample(
    docs: DataFrame,
    target_weight,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture rebalancing: downsample each group so the kept
    corpus approaches the target mixture ``target_weight`` (a Column of
    unnormalized per-row target weights, constant within a group —
    e.g. a lookup on ``source``).

    keep-rate_g = (t_g / a_g) / max_h(t_h / a_h), where t is the
    normalized target share and a the actual share — the dominant group
    keeps rate 1.0, everything else scales down; no group is ever
    upsampled. The keep decision is content-keyed (same avalanche
    bucket as ``hash_split``), so it is deterministic and reshard-
    stable. Two small aggregates + broadcast joins — the doc table
    streams through once.
    """
    d = docs.withColumn("_tw", target_weight)
    grp = d.groupBy(group_col).agg(
        F.count("*").alias("_n"), F.first("_tw").alias("_w")
    )
    tot = grp.agg(
        F.sum("_n").cast("double").alias("_ntot"), F.sum("_w").alias("_wtot")
    )
    grp = grp.crossJoin(F.broadcast(tot)).withColumn(
        "_ratio", (F.col("_w") / F.col("_wtot")) / (F.col("_n") / F.col("_ntot"))
    )
    rmax = grp.agg(F.max("_ratio").alias("_rmax"))
    rates = (
        grp.crossJoin(F.broadcast(rmax))
        .withColumn("keep_rate", F.col("_ratio") / F.col("_rmax"))
        .select(group_col, "keep_rate")
    )
    h = poly_hash(text_col)
    mixed = (h * F.lit(2654435761)) % F.lit(4294967296)
    bucketf = mixed.cast("double") / F.lit(4294967296.0)
    return (
        d.drop("_tw")
        .join(F.broadcast(rates), group_col)
        .where(bucketf < F.col("keep_rate"))
    )


def doc_chunks(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-budget token chunks with overlap
    (the pretraining chunker: stride = chunk − overlap; the last chunk
    may run short). Projection + posexplode — no shuffle at all; chunk
    content is fingerprinted (md5) so downstream dedup/packing can run
    on chunks without re-reading text.

    Shape note: the token array is materialized BEFORE the explode and
    the per-chunk ``slice`` runs after it — the Generate node is a
    project-collapse barrier, so the text is split once per doc, not
    once per chunk (``transform(sequence, i -> slice(t, ...))`` would
    re-inline the split per element — the O(n²) trap documented in
    ``text.shingle_hashes_from_tokens``).
    """
    from .text import tokens

    stride = chunk_tokens - overlap
    t = tokens(text_col)
    n = F.size(t)
    nc = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        (F.lit(1) + F.floor((n - chunk_tokens + stride - 1) / F.lit(float(stride)))).cast("int")
    )
    d1 = docs.select(F.col(id_col), t.alias("_t"), nc.alias("_nc"))
    d2 = d1.select(
        id_col,
        "_t",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id", "_i"),
    )
    chunk = F.concat_ws(" ", F.slice("_t", F.col("chunk_id") * stride + 1, F.lit(chunk_tokens)))
    return d2.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        chunk.alias("_c"),
    ).select(
        id_col,
        "chunk_id",
        F.size(F.split("_c", " ")).cast("long").alias("n_tokens"),
        F.md5("_c").alias("chunk_md5"),
    )


#: doc ids per chunk of :func:`weighted_sample`'s cumulative weight
_WEIGHT_CHUNK = 8192


def weighted_sample(
    docs: DataFrame,
    k: int = 64,
    weight=None,
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Exact weighted sampling WITH replacement: ``k`` deterministic
    draws where doc ``d`` is selected with probability ``w_d / W`` —
    the mixture-construction primitive (sample a training subset
    proportional to token count, quality score, or any integer
    weight). Returns one row per draw: (draw_id, doc_id, weight).

    Exactness contract: every step is int64 arithmetic (bucket and
    chunk indices use integer DIV, never a double division that loses
    exactness past 2^53), so both engines agree bit-for-bit at ANY
    cumulative weight. The classic A-ES top-k scheme needs
    ``u^(1/w)`` (libm pow — last-ulp rank flips between builds), so
    instead each draw inverts the cumulative weight function: draw j's
    point is ``p_j = mix(seed, j) mod W`` (multiplicative avalanche in
    int64; modulo bias O(W/2^61) — negligible, documented), and the
    selected doc is the one whose interval [cum_lo, cum_hi) in
    doc_id-order contains ``p_j``.

    Scale shape: docs chunk by ``id // 8192`` (assumes dense-ish ids —
    pre-densify sparse id spaces first; empty chunks give no row), the
    chunk sums take their offsets from the one exclusive prefix
    (``prefix.exclusive_prefix``, int64, so exact on both sides), and
    the interval lookup is a bucketed containment join (bucket = value
    // max_weight, each interval spans ≤ 2 buckets, the k draws
    broadcast): no cartesian, no corpus sort, no ``Exchange
    SinglePartition``."""
    w_expr = token_count() if weight is None else weight
    d = docs.select(
        F.col(id_col).alias("doc"), w_expr.cast("long").alias("w")
    ).where(F.col("w") > 0)
    d = d.withColumn("_ck", F.expr(f"doc DIV {_WEIGHT_CHUNK}"))
    per_chunk = d.groupBy("_ck").agg(F.sum("w").alias("_cw"))
    offsets = exclusive_prefix(per_chunk, "_ck", sums={"_off": "_cw"})
    wloc = Window.partitionBy("_ck").orderBy("doc").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        d.join(F.broadcast(offsets), "_ck")
        .withColumn("_hi", F.sum("w").over(wloc) + F.col("_off"))
        .withColumn("_lo", F.col("_hi") - F.col("w"))
    )
    scalars = d.agg(F.sum("w").alias("W"), F.max("w").alias("B")).collect()[0]
    total, bucket = int(scalars["W"] or 0), int(scalars["B"] or 1)
    spark = docs.sparkSession
    if total <= 0:
        return spark.createDataFrame([], f"draw_id long, {id_col} long, weight long")
    # k draws: multiplicative avalanche of (seed, j), exact in int64
    draws = spark.range(k).select(
        F.col("id").alias("draw_id"),
        (
            ((F.col("id") + F.lit(seed)) * F.lit(2654435761)
             + F.lit(seed).cast("long") * F.lit(40503))
            % F.lit(2305843009213693951)  # 2^61 - 1 (Mersenne)
            % F.lit(total)
        ).alias("_p"),
    ).withColumn("_bkt", F.expr(f"_p DIV {bucket}"))
    iv = cum.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.expr(f"_lo DIV {bucket}"),
                F.expr(f"(_hi - 1) DIV {bucket}"),
            )
        ),
    )
    return (
        iv.join(F.broadcast(draws), "_bkt")
        .where((F.col("_p") >= F.col("_lo")) & (F.col("_p") < F.col("_hi")))
        .select(
            "draw_id",
            F.col("doc").alias(id_col),
            F.col("w").alias("weight"),
        )
    )
