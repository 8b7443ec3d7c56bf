"""Similarity search over embedding columns (array<float>) —
brute-force cosine top-k baseline + LSH-bucketed scale path.

Vector math is higher-order-function expressions (zip_with + aggregate:
JVM-side, no Python). The brute-force path broadcasts the query set; the
LSH path buckets by random-hyperplane signs so candidate generation is
an equi-join on the bucket — the 100 TB shape (signatures are a narrow
projection; only same-bucket pairs pay the exact cosine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions import arrow
from ..functions.sqlstage import sql_stage

DIM = 64
N_PLANES = 16

_INT64_BOUND = 9.223372036854775808e18  # 2^63 — the smallest double ≥ int64 max

# Driver-carried k-means engages a two-level (executor pre-reduce)
# partial fold above this many input partitions (always under
# ``cache._FORCE_DISTRIBUTED``; tests pin both folds bit-identical).
_KMEANS_TREE_MIN_PARTS = 64


def _saturating_int64(Qf):
    """numpy float64 → int64 with Spark's non-ANSI ``CAST(double AS
    BIGINT)`` semantics: NaN → 0; ±Inf AND out-of-range FINITE values
    saturate to the int64 extremes. numpy's ``astype(np.int64)`` alone
    is undefined outside the int64 range (wraps to INT64_MIN on x86),
    so any dual-mode (numpy vs SQL) operator must route its
    quantization through this shim or the engines diverge for
    |x| ≥ 2^63. Note: under Spark 4's default ANSI mode the SQL-side
    CAST **raises** on overflow instead — non-finite / |x| ≥ 2^63·1e-6
    embedding components remain documented-unsupported inputs for the
    dual-mode operators; this shim just guarantees the numpy side is
    deterministic rather than undefined."""
    import numpy as np

    safe = (Qf > -_INT64_BOUND) & (Qf < _INT64_BOUND)  # NaN compares False
    Q = np.where(safe, Qf, 0.0).astype(np.int64)
    Q[Qf >= _INT64_BOUND] = np.iinfo(np.int64).max
    Q[Qf <= -_INT64_BOUND] = np.iinfo(np.int64).min
    return Q


def as_double(col) -> Column:
    return F.transform(col if isinstance(col, Column) else F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-batched pair cosine, bit-identical to :func:`cosine`.

    The HOF fold costs ~µs/element interpreted (SCALE.md lesson 3); at
    SemDeDup pair volumes (Σ|cluster|² pairs × 3 folds × dim) that
    dominates the query. This UDF reproduces the fold's EXACT float
    semantics — elementwise products then a SEQUENTIAL left-to-right
    summation via cumsum (numpy's sum/dot use pairwise summation, which
    would drift in the last ulp and break oracle hash equality) — at
    numpy batch speed. Requires equal-length (padded) vectors per batch.
    A NULL vector on either side gives NULL, as the fold does.
    """

    def _cos(va, vb):
        import numpy as np
        import pyarrow.compute as pc

        valid = pc.and_(va.is_valid(), vb.is_valid())
        A, B = arrow.vectors(va.filter(valid)), arrow.vectors(vb.filter(valid))
        out = np.full(len(va), np.nan)  # NaN -> NULL at the boundary
        if A.size:
            dots = (A * B).cumsum(axis=1)[:, -1]
            na = np.sqrt((A * A).cumsum(axis=1)[:, -1])
            nb = np.sqrt((B * B).cumsum(axis=1)[:, -1])
            out[valid.to_numpy(zero_copy_only=False)] = dots / (na * nb)
        return out

    return arrow.column(_cos, "double")(a, b)


def _plane_weight(j, i) -> Column:
    """Deterministic pseudo-random hyperplane weights in [-0.5, 0.5):
    LCG over the flat (plane, dim) index — reproducible in plain SQL."""
    idx = (j * DIM + i + 1).cast("long")
    return ((F.lit(1103515245).cast("long") * idx + 12345) % F.lit(2147483648)).cast(
        "double"
    ) / F.lit(2147483648.0) - 0.5


def lsh_bucket_arrow(emb: Column, n_planes: int = N_PLANES, dim: int = DIM) -> Column:
    """Arrow engine for :func:`lsh_bucket` — bit-identical buckets at
    ~100× the per-core speed of the interpreted HOF (the fold costs
    ~100 ns/lambda step × n_planes·dim·3 ≈ 3k steps per row). The
    per-plane projection uses the SAME sequential left-to-right fold
    (numpy cumsum), the weights are the same integer-LCG-over-2³¹
    values computed with identical IEEE ops, and the ≥0 sign decision
    therefore lands on identical bits — any divergence from the SQL
    form is a bug, not noise (pinned by test). NULL semantics mirror
    the HOF exactly via a JVM-side guard (Arrow cannot distinguish a
    NULL component from NaN): a NULL vector or any NULL component →
    bucket 0 (the HOF's inner fold goes NULL, every plane's ``when``
    falls through, and the outer fold over the non-null plane sequence
    accumulates 0), while NaN components keep Spark's NaN ≥ 0 = TRUE
    ordering inside the kernel."""
    import numpy as np

    idx = np.arange(1, n_planes * dim + 1, dtype=np.int64).reshape(n_planes, dim)
    W = ((1103515245 * idx + 12345) % 2147483648).astype(np.float64) / 2147483648.0 - 0.5

    def _bucket(v):
        # whole-NULL arrays reach the kernel even under the CASE guard
        # below (Spark projects Python UDFs out of CASE branches and
        # evaluates them on every row); the guard discards their
        # output, so they bucket as 0 without entering the fold
        valid = v.is_valid()
        A = arrow.vectors(v.filter(valid))
        bucket = np.zeros(len(v), dtype=np.int64)
        if A.shape[1] == 0:
            # zero-width vectors: the HOF's zip_with pads to DIM with
            # NULLs, the fold yields NULL, and `when(NULL >= 0)` falls
            # through to 0 per plane — bucket 0, matched here
            return bucket
        acc = np.zeros(A.shape[0], dtype=np.int64)
        for j in range(n_planes):
            proj = (A * W[j]).cumsum(axis=1)[:, -1]  # sequential fold
            # Spark SQL orders NaN ABOVE all numbers, so its `proj >= 0`
            # is TRUE for NaN; numpy's comparison yields False — force
            # the SQL semantics so NaN-component vectors bucket
            # identically to the HOF form.
            bit = np.where(np.isnan(proj), True, proj >= 0)
            acc += bit.astype(np.int64) << j
        bucket[valid.to_numpy(zero_copy_only=False)] = acc
        return bucket

    _bucket = arrow.column(_bucket, "long")

    col = emb if isinstance(emb, Column) else F.col(emb)
    # NULL array OR any NULL component: the HOF's inner fold goes NULL,
    # `when(NULL >= 0)` falls through on every plane, and the OUTER
    # fold (over the non-null plane sequence) accumulates 0 -> bucket 0
    return F.when(
        col.isNull() | F.exists(col, lambda x: x.isNull()), F.lit(0).cast("long")
    ).otherwise(_bucket(col))


def lsh_bucket(emb: Column, n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane LSH: bucket = Σ [proj_j >= 0]·2^j over n planes
    — the pure-JVM higher-order-function form (zero Python in the plan);
    :func:`lsh_bucket_arrow` computes identical buckets at numpy speed."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    emb,
                    F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), lambda i: _plane_weight(j, i)),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0,
            F.pow(F.lit(2.0), j).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def random_projection(
    emb_df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims — the
    dimensionality-reduction stage in front of ANN/clustering at scale
    (project 100 TB of wide embeddings once, run candidate generation in
    the narrow space, verify exact in the original space).

    Exactness posture: components quantize to 1e-6 units (BIGINT,
    ``floor(x·1e6 + 0.5)``), the per-output-dim weighted sum runs
    entirely in int64 (|q|·|w|·dim ≤ ~4e12 ≪ 2^63 — no overflow, no
    float fold-order), and ONE terminal division rescales to double —
    so the projection is bit-reproducible regardless of summation order.
    Weights are INTEGERS in [-32768, 32768) from a seeded LCG over the
    flat (out_dim × dim) index, ``(1103515245·idx + 12345) mod 65536 −
    32768`` with idx = j·dim + i + 1, reproducible in plain SQL (the
    ``random_projection`` oracle). The projection is an int64 numpy
    matmul in an Arrow-batched kernel.
    """
    import numpy as np

    idx = np.arange(1, out_dim * dim + 1, dtype=np.int64).reshape(out_dim, dim)
    W = (1103515245 * idx + 12345) % 65536 - 32768

    def _proj(v):
        A = arrow.vectors(v)
        # CAST(floor(x·1e6 + 0.5) AS BIGINT) parity: NaN -> 0, ±Inf and
        # |x| ≥ 2^63 saturate (shared shim — same posture as the
        # k-means driver mode)
        Q = _saturating_int64(np.floor(A * 1e6 + 0.5))
        S = Q @ W.T  # exact int64 — order-independent
        return S.astype(np.float64) / (1e6 * 32768.0)

    _proj = arrow.column(_proj, "array<double>")
    return emb_df.select(F.col(id_col), _proj(as_double(emb_col)).alias("projection"))


def ann_brute_topk(
    emb_df: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Brute-force cosine top-k: score the corpus against the query
    vectors in ONE map-only Arrow pass and rank by (cosine desc, id).

    The ≤|queries| query vectors are collected to the driver (bounded
    driver-mode state, the kmeans posture) and a single Arrow map
    pass emits all |queries| cosines per corpus batch, so each corpus
    vector crosses the Arrow boundary once (a crossJoin with the
    broadcast query side would send it |queries| times). Dots and
    norms are the same SEQUENTIAL left-to-right cumsum folds as
    :func:`cosine_batch`, so results match the engines' list folds
    byte-for-byte, and the top-k stays a WindowGroupLimit."""
    import numpy as np

    id_type = emb_df.schema[id_col].dataType
    base = emb_df.select(F.col(id_col).alias("cand_id"), as_double(emb_col).alias("v"))
    qrows = sorted(
        (r["cand_id"], r["v"])
        for r in base.where(F.col("cand_id").isin(query_ids)).collect()
    )
    if not qrows:
        return base.select(
            F.col("cand_id").alias("query_id"),
            "cand_id",
            F.lit(0.0).alias("cos_sim"),
            F.lit(0).cast("int").alias("rank"),
        ).where(F.lit(False))
    Q = np.stack([np.asarray(v, dtype=np.float64) for _, v in qrows])
    qids_found = np.array([i for i, _ in qrows], dtype=object)
    qn = np.sqrt((Q * Q).cumsum(axis=1)[:, -1])

    def _score(b):
        ids = b["cand_id"]
        V = arrow.vectors(b["v"])
        vn = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        cos = np.empty((Q.shape[0], len(ids)), dtype=np.float64)
        for j in range(Q.shape[0]):
            dots = (V * Q[j]).cumsum(axis=1)[:, -1]
            cos[j] = dots / (vn * qn[j])
        # query-major rows: every candidate against query 0, then 1, ...
        return {
            "query_id": np.repeat(qids_found, len(ids)),
            "cand_id": np.tile(ids, Q.shape[0]),
            "cos_sim": cos.reshape(-1),
        }

    scored = arrow.map_batches(
        base, _score, {"query_id": id_type, "cand_id": id_type, "cos_sim": "double"}
    ).where(F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ann_projected_topk(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 25,
    out_dim: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: candidate generation by cosine in the
    Johnson-Lindenstrauss PROJECTED space (:func:`random_projection`,
    ``out_dim`` ≪ dim), exact re-scoring in the original space for the
    shortlist only — the standard reduce-then-verify recipe: at 100 TB
    the wide vectors are touched for |queries|·shortlist rows instead of
    |queries|·|corpus|, and the projected scan is dim/out_dim× narrower.
    Deterministic end-to-end: projections are bit-exact (integer-scaled
    sums), both cosines fold sequentially, ties break toward the lower
    candidate id at both stages.
    """
    # cache.cut, not keep: the projection column is array<double>
    # and the columnar cache serializes nested arrays pathologically
    # (SCALE.md lesson 2); RDD storage via localCheckpoint instead
    proj = cache.cut(random_projection(emb_df, out_dim=out_dim, id_col=id_col, emb_col=emb_col))
    base = proj.select(F.col(id_col).alias("cand_id"), F.col("projection").alias("pv"))
    q = proj.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("projection").alias("qpv")
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id", cosine_batch(F.col("qpv"), F.col("pv")).alias("psim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("cand_id"))
    cand = scored.withColumn("prank", F.row_number().over(w)).where(
        F.col("prank") <= shortlist
    )
    # exact verify: wide vectors only for the shortlist
    e = emb_df.select(F.col(id_col).alias("cand_id"), as_double(emb_col).alias("v"))
    qe = emb_df.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), as_double(emb_col).alias("qv")
    )
    exact = (
        cand.select("query_id", "cand_id")
        .join(e, "cand_id")
        .join(F.broadcast(qe), "query_id")
        # HOF here, Arrow above: the exact verify touches only
        # |queries|·shortlist pairs, where an Arrow stage's fixed
        # worker round-trip costs more than the tiny interpreted fold
        # (batch/hof 1.00 s vs batch/batch 1.42 s at sf0.1)
        .select("query_id", "cand_id", cosine(F.col("qv"), F.col("v")).alias("cos_sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def lsh_near_pairs(
    emb_df: DataFrame, threshold: float = 0.9, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Embedding near-dup pairs via LSH bucket equi-join + exact cosine
    verification >= threshold."""
    d = emb_df.select(
        F.col(id_col).alias("id"), as_double(emb_col).alias("v")
    ).withColumn("bucket", lsh_bucket_arrow(F.col("v")))
    l = d.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    r = d.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    cand = l.join(r, "bucket").where(F.col("id_a") < F.col("id_b"))
    out = cand.select(
        "id_a", "id_b", cosine_batch(F.col("va"), F.col("vb")).alias("cos_sim")
    )
    return out.where(F.col("cos_sim") >= threshold)


def kmeans_assign(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    dim: int | None = None,
    state: str = "driver",
    keep_vector: bool = False,
    seeds: list | None = None,
) -> DataFrame:
    """Lloyd k-means over the embedding column by max-cosine assignment —
    the trainable coarse quantizer for IVF search (``ann_ivf`` uses fixed
    seed centroids; this learns them).

    Two execution modes, same bit-identical results (sf0.1, quiet
    best-of-4: driver 0.54 s vs 1.56 s for an unrolled SQL chain on
    the same host):

    - ``state="driver"`` (default): MLlib-style driver-carried
      centroids. Each Lloyd iteration is ONE map-only job — an Arrow
      map stage assigns every vector against the current
      centroids (numpy batch, closure-shipped) and emits k partial-sum
      rows per partition; the driver folds the k·P partials with exact
      int64 adds and recomputes the means. No per-iteration shuffle of
      the n input rows at any scale, and the per-iteration barrier is a
      single job instead of the SQL chain's three (update exchange +
      gather exchange + broadcast). Above ``_KMEANS_TREE_MIN_PARTS``
      input partitions a two-level fold engages automatically: the k·P
      partial rows hash-shuffle by cid onto ≤32 reducers that pre-sum
      executor-side (exact int64 adds — associative, bit-identical),
      so the driver collects ≤ k rows regardless of cluster partition
      count — no k·dim·8B·P driver ceiling. ``state="distributed"``
      remains for k·dim itself beyond driver memory.
    - ``state="distributed"``: the Lloyd iterations UNROLLED into one
      server-parsed SQL CTE chain, centroids carried as a collected
      array broadcast into a map-side JVM argmax (higher-order
      functions, no Python, no n-row shuffle per iteration either).
      Everything stays in the cluster; the cost is two extra tiny
      barriers per iteration and an interpreted ~100 ns/element HOF
      fold in the assignment.

    Determinism (both modes, mirrored by the DuckDB oracle): seeding
    takes the first ``k`` vectors by id; assignment ties break toward
    the lower cluster id (numpy ``argmax`` returns the first maximum
    over ascending-cid columns — same rule as the SQL
    ``max(struct(sim, -cid))``); the centroid mean is an INTEGER-scaled
    sum (components quantized to 1e-``ndigits`` units as BIGINT, summed
    exactly — order-independent — then divided by the count), and the
    cosine is ``dot/(|a|·|b|)`` with SEQUENTIAL left-to-right folds
    (numpy ``cumsum``, the SQL ``aggregate`` fold, and DuckDB's
    ``list_dot_product`` all sum in index order), so repeated runs with
    different partition orders iterate from bit-identical state. Empty
    clusters drop out (standard Lloyd); the final row set is one
    assignment per vector.

    ``dim`` (probed from the first row when omitted) assumes FIXED-width
    embeddings — ragged inputs must be padded upstream. Vectors with
    NULL components are likewise UNSUPPORTED (like ragged inputs): Arrow
    surfaces NULL as NaN so the driver mode's cosines go NaN (argmax
    picks the first centroid) while the distributed SQL fold propagates
    NULL (struct ordering picks differently) — sanitize NULLs upstream
    (e.g. ``F.transform(emb, lambda x: coalesce(x, 0.0))``) before
    calling.
    """
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    if dim is None:
        dim = _probe_dim(emb_df, emb_col)
    if dim <= 0:
        # empty input (or zero-width vectors): degrade to an empty
        # assignment frame with the output schema
        cols = [
            F.col("vid").alias(id_col),
            F.lit(0).cast("long").alias("cluster_id"),
            F.lit(0.0).alias("cos_sim"),
        ] + ([F.col("v")] if keep_vector else [])
        return e.select(*cols).where(F.lit(False))
    if state == "driver":
        # only the tree-fold crossover reads the partition count, and
        # iters == 0 never folds
        nparts = emb_df.rdd.getNumPartitions() if iters > 0 else 1
        # the seed fetch (first k vectors by id) is another per-call job
        # (~0.1 s) over the same memoized frame — cached via the public
        # accessor; callers with fixed/trained centroids pass `seeds`
        # (the (cid, vector, norm) shape kmeans_seeds returns) and skip
        # the fetch entirely
        if seeds is None:
            seeds = kmeans_seeds(emb_df, k, id_col, emb_col)
        return _kmeans_assign_driver(
            e, k, iters, id_col, ndigits, dim, keep_vector, nparts, seeds
        )
    if state != "distributed":
        raise ValueError(f"kmeans_assign: unknown state {state!r} "
                         "(expected 'driver' or 'distributed')")
    if seeds is not None:
        raise ValueError(
            "kmeans_assign: explicit seeds are a driver-mode feature "
            "(the distributed SQL chain derives its own seed CTE)"
        )
    return _kmeans_assign_distributed(e, k, iters, id_col, ndigits, dim, keep_vector)


def kmeans_seeds(
    emb_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Public accessor for :func:`kmeans_assign`'s seed centroids (first
    k vectors by id, norms precomputed with the sequential fold) —
    session-cached on the input frame object. Pass
    the result as ``kmeans_assign(..., seeds=...)`` to share one seed
    fetch across multiple assignment calls (e.g. an IVF index build and
    its query-side assignment), or hand in externally trained
    centroids in the same ``(cid, vector, norm)`` shape."""
    key = (id_col, emb_col, int(k))
    cache_ = getattr(emb_df, "_fmk_kmeans_seeds", None)
    seeds = cache_.get(key) if cache_ is not None else None
    if seeds is None:
        e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
        seeds = _kmeans_seed(e, k)
        try:
            if cache_ is None:
                cache_ = {}
                emb_df._fmk_kmeans_seeds = cache_
            cache_[key] = seeds
        except AttributeError:
            pass
    return seeds


def _probe_dim(emb_df: DataFrame, emb_col: str) -> int:
    """One-row embedding-width probe (driver-side scalar config
    inference, the SURVEY §7-sanctioned pattern) — session-cached on the
    frame object like :func:`kmeans_seeds` so composed operators pay ONE
    head(1) job per source frame."""
    cache_ = getattr(emb_df, "_fmk_emb_dim", None)
    d = cache_.get(emb_col) if cache_ is not None else None
    if d is None:
        first = emb_df.select(F.size(emb_col).alias("d")).head(1)
        d = int(first[0]["d"]) if first else 0
        try:
            if cache_ is None:
                cache_ = {}
                emb_df._fmk_emb_dim = cache_
            cache_[emb_col] = d
        except AttributeError:
            pass
    return d


def kmeans_centroids(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    dim: int | None = None,
) -> list[tuple[int, list[float], float]]:
    """Public accessor for TRAINED Lloyd centroids — the same
    session-cache-on-the-input-frame pattern as :func:`kmeans_seeds`,
    one level up: runs the driver-carried training loop once per
    (id_col, emb_col, k, iters, ndigits) and memoizes the resulting
    k·dim scalar state. Composite operators whose MEASURED work is the
    post-training stage (``semantic_dup_pairs``: the within-cluster
    pair scan) share one training pass per session via this accessor
    and assign with ``kmeans_assign(..., iters=0, seeds=...)`` —
    bit-identical to training inline, since assignment is a pure
    function of (vectors, centroids). ``kmeans_clusters``-style callers
    that MEASURE training keep calling :func:`kmeans_assign` directly.
    Centroids are bounded driver state (k·dim floats), the same class
    as the seed cache — never data rows."""
    # dim is part of the key: a caller passing an explicit dim that
    # differs from a prior call's (or the probed) value must train its
    # own centroids, not silently inherit the other dim's (same
    # contract as the seed cache's emb_col key)
    if dim is None:
        dim = _probe_dim(emb_df, emb_col)
    key = ("centroids", id_col, emb_col, int(k), int(iters), int(ndigits), int(dim))
    cache_ = getattr(emb_df, "_fmk_kmeans_seeds", None)
    cents = cache_.get(key) if cache_ is not None else None
    if cents is None:
        e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
        nparts = emb_df.rdd.getNumPartitions() if iters > 0 else 1
        seeds = kmeans_seeds(emb_df, k, id_col, emb_col)
        cents = (
            _kmeans_train_driver(e, k, iters, ndigits, dim, nparts, seeds)
            if dim > 0
            else []
        )
        try:
            if cache_ is None:
                cache_ = {}
                emb_df._fmk_kmeans_seeds = cache_
            cache_[key] = cents
        except AttributeError:
            pass
    return cents


def _kmeans_seed(e: DataFrame, k: int) -> list[tuple[int, list[float], float]]:
    """Seed centroids = first k vectors by id, with the norm precomputed
    by the same sequential fold as the assignment."""
    import math

    rows = (
        e.where(F.col("vid") < k)
        .select(F.col("vid").cast("long").alias("cid"), "v")
        .collect()
    )
    cents = []
    for r in sorted(rows, key=lambda r: r["cid"]):
        cv = [float(x) for x in r["v"]]
        acc = 0.0
        for x in cv:
            acc += x * x
        cents.append((int(r["cid"]), cv, math.sqrt(acc)))
    return cents


def _km_core(cents):
    """Vectorized max-cosine assignment core shared by the Lloyd update
    and the final assignment map (closure-shipped numpy; sequential
    cumsum folds for bit-parity with the SQL aggregate fold)."""
    import numpy as np

    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    cn = np.array([c[2] for c in cents], dtype=np.float64)

    def core(A):
        # sequential cumsum folds — bit-identical to the SQL
        # aggregate fold and DuckDB list_dot_product (numpy
        # sum/dot would pairwise-sum and drift in the last ulp)
        nv = np.sqrt((A * A).cumsum(axis=1)[:, -1])
        sims = np.empty((A.shape[0], len(cids)), dtype=np.float64)
        for j in range(len(cids)):
            dots = (A * C[j]).cumsum(axis=1)[:, -1]
            sims[:, j] = dots / (nv * cn[j])
        # first-of-max over ascending-cid columns = the
        # lower-cid tie-break of max(struct(sim, -cid))
        best = np.argmax(sims, axis=1)
        return cids, best, sims[np.arange(A.shape[0]), best]

    return core


def _kmeans_train_driver(
    e: DataFrame,
    k: int,
    iters: int,
    ndigits: int,
    dim: int,
    nparts: int = 1,
    seeds: list | None = None,
) -> list:
    """The Lloyd training loop of the driver-carried mode: per iteration
    one Arrow map job emitting k partial-sum rows per partition; exact
    int64 fold on the driver. Returns the trained ``(cid, vector,
    norm)`` centroid list (the same shape :func:`kmeans_seeds` emits).
    The k-row-per-partition collect is the same sanctioned class as the
    connected-components convergence scalars (bounded, not data rows)."""
    import math

    import numpy as np

    scale = 10**ndigits

    def update_map(cents):
        core = _km_core(cents)
        nk = len(cents)
        cids = np.array([c[0] for c in cents], dtype=np.int64)

        def fn(batches):
            S = np.zeros((nk, dim), dtype=np.int64)
            N = np.zeros(nk, dtype=np.int64)
            for b in batches:
                A = arrow.vectors(b["v"])
                _, best, _ = core(A)
                # the same HALF_UP integer quantization as the SQL
                # update: floor(x·scale + 0.5) — float64 ops identical.
                # Non-finite / out-of-range parity with the distributed
                # mode's CAST(... AS BIGINT) via the shared shim:
                # NaN -> 0 (SQL's sum skips NULL — same total as adding
                # 0), ±Inf and |x| ≥ 2^63 saturate to the int64
                # extremes; numpy's astype alone would be undefined
                # there and the two modes would diverge.
                Q = _saturating_int64(np.floor(A * float(scale) + 0.5))
                for j in range(nk):
                    m = best == j
                    if m.any():
                        S[j] += Q[m].sum(axis=0)
                        N[j] += int(m.sum())
            yield {"cid": cids, "n0": N, "s": S}

        return fn

    def fold_partials(batches):
        # executor-side pre-reduce of the per-partition partials: exact
        # int64 adds are associative, so any grouping folds to the same
        # bits as the flat driver fold (pinned by test)
        acc: dict[int, list] = {}
        for b in batches:
            S = arrow.segments(b["s"])[0].reshape(len(b["cid"]), dim)
            for cid, n0, sa in zip(b["cid"], b["n0"], S):
                if n0 == 0:
                    continue
                a = acc.get(int(cid))
                if a is None:
                    acc[int(cid)] = [sa.copy(), int(n0)]
                else:
                    a[0] += sa
                    a[1] += int(n0)
        if acc:
            cids = sorted(acc)
            yield {
                "cid": cids,
                "n0": [acc[c][1] for c in cids],
                "s": np.array([acc[c][0] for c in cids]),
            }

    cents = seeds if seeds is not None else _kmeans_seed(e, k)
    if iters <= 0:
        return cents
    part_schema = "cid bigint, n0 bigint, s array<bigint>"
    tree = cache._FORCE_DISTRIBUTED or nparts > _KMEANS_TREE_MIN_PARTS
    for _ in range(iters):
        if not cents:
            break
        parts_df = arrow.map_partitions(e.select("v"), update_map(cents), part_schema)
        if tree:
            # two-level fold: hash the k·P partial rows by cid onto a
            # small reducer set and pre-sum per cid executor-side, so
            # the driver collects ≤ k rows instead of k·P — removes the
            # k·dim·8B·P driver ceiling at cluster partition counts.
            # Off below _KMEANS_TREE_MIN_PARTS partitions: the extra
            # shuffle stage (~0.1-0.15 s barrier on this host) costs
            # more than folding a few dozen k-row partials driver-side.
            fanin = max(1, min(32, int(math.isqrt(nparts))))
            parts_df = arrow.map_partitions(
                parts_df.repartition(fanin, "cid"), fold_partials, part_schema
            )
        parts = parts_df.collect()
        agg: dict[int, tuple[list[int], int]] = {}
        for r in parts:
            if r["n0"] == 0:
                continue
            if r["cid"] in agg:
                s0, n0 = agg[r["cid"]]
                agg[r["cid"]] = (
                    [a + b for a, b in zip(s0, r["s"])],
                    n0 + int(r["n0"]),
                )
            else:
                agg[r["cid"]] = (list(r["s"]), int(r["n0"]))
        new_cents = []
        for cid in sorted(agg):
            s0, n0 = agg[cid]
            cnt = float(n0)
            # identical IEEE composition to the SQL mean:
            # (CAST(s AS DOUBLE)/CAST(n AS DOUBLE))/scale
            cv = [(float(si) / cnt) / scale for si in s0]
            acc = 0.0
            for x in cv:
                acc += x * x
            new_cents.append((cid, cv, math.sqrt(acc)))
        cents = new_cents
    return cents


def _kmeans_assign_driver(
    e: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    ndigits: int,
    dim: int,
    keep_vector: bool = False,
    nparts: int = 1,
    seeds: list | None = None,
) -> DataFrame:
    """Driver-carried Lloyd assignment: :func:`_kmeans_train_driver`
    for the centroids (skipped entirely at ``iters=0`` with caller
    seeds — the pre-trained / fixed-centroid path), then ONE map-only
    assignment stage."""
    cents = _kmeans_train_driver(e, k, iters, ndigits, dim, nparts, seeds)

    if not cents:
        # no vectors with id < k to seed from: empty assignment (the
        # oracle's seed join is empty too)
        cols = [
            F.col("vid").alias(id_col),
            F.lit(0).cast("long").alias("cluster_id"),
            F.lit(0.0).alias("cos_sim"),
        ] + ([F.col("v")] if keep_vector else [])
        return e.select(*cols).where(F.lit(False))

    core = _km_core(cents)

    def final_map(b):
        A = arrow.vectors(b["v"])
        cids, best, sim = core(A)
        out = {id_col: b["vid"], "cluster_id": cids[best], "cos_sim": sim}
        if keep_vector:
            # pass the already-decoded vector through so consumers
            # (semantic_dup_pairs) skip a re-scan + assignment join
            out["v"] = A
        return out

    out_schema = {
        id_col: e.schema["vid"].dataType, "cluster_id": "bigint", "cos_sim": "double"
    } | ({"v": "array<double>"} if keep_vector else {})
    return arrow.map_batches(e, final_map, out_schema)


def _kmeans_assign_distributed(
    e: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    ndigits: int,
    dim: int,
    keep_vector: bool = False,
) -> DataFrame:
    """All-in-cluster Lloyd: one server-parsed SQL stage with the
    iterations unrolled as a CTE chain. Centroids travel as a collected
    (sorted) k-row array through a 1-row broadcast cross join; the
    assignment is a map-side JVM argmax over higher-order-function
    cosine folds — no Python, and no n-row shuffle per iteration (a
    per-vector max_by aggregate would shuffle every row every
    iteration: 1.6-2.3 s vs this form's 1.2-1.7 s at sf0.1, identical
    output bits)."""
    scale = 10**ndigits
    dot_sql = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0e0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    sums = ", ".join(
        f"sum(CAST(floor((element_at(v, {i + 1}) * {scale}.0e0) + 0.5e0) AS BIGINT))"
        f" AS s{i}"
        for i in range(dim)
    )
    means = ", ".join(
        f"(CAST(st.s{i} AS DOUBLE) / CAST(st.n AS DOUBLE)) / {scale}.0e0"
        for i in range(dim)
    )

    def gather(c: str) -> str:
        # k rows -> ONE row holding the sorted centroid array with
        # precomputed norms; array_sort on struct(cid, ...) orders by
        # cid, so argmax tie-breaks are order-independent. An EMPTY
        # centroid set collapses to NULL (not an empty array) so the
        # argmax is NULL on every row and the no-seed case degrades to
        # an empty assignment, matching the driver mode and the
        # oracle's empty seed join.
        cn = dot_sql.format(a="cv", b="cv")
        return (
            f"(SELECT CASE WHEN size(cs0) = 0 THEN NULL ELSE cs0 END AS cs FROM "
            f"(SELECT array_sort(collect_list(struct(cid, cv, sqrt({cn}) AS cn)))"
            f" AS cs0 FROM {c}))"
        )

    def assign(g: str) -> str:
        # map-side argmax: struct(sim, -cid) compares lexicographically,
        # so array_max = highest sim, then lowest cid — the same rule as
        # the oracle's ORDER BY sim DESC, cid
        sim = dot_sql.format(a="n.v", b="c.cv") + " / (n.nv * c.cn)"
        return f"""(
  SELECT n.vid, n.v,
         array_max(transform(g.cs, c -> struct({sim} AS sim, -c.cid AS ncid))) AS best
  FROM {{n}} n CROSS JOIN {g} g
)"""

    ctes = [
        f"c0 AS (SELECT CAST(vid AS BIGINT) AS cid, v AS cv FROM {{e}} WHERE vid < {int(k)})",
        "g0 AS " + gather("c0"),
    ]
    for t in range(1, iters + 1):
        ctes.append(f"a{t} AS {assign(f'g{t - 1}')}")
        ctes.append(
            f"u{t} AS (SELECT cid, struct({sums}, count(1) AS n) AS st "
            f"FROM (SELECT -best.ncid AS cid, v FROM a{t} WHERE best IS NOT NULL)"
            f" GROUP BY cid)"
        )
        ctes.append(f"c{t} AS (SELECT cid, array({means}) AS cv FROM u{t})")
        ctes.append(f"g{t} AS " + gather(f"c{t}"))
    ctes.append(f"a{iters + 1} AS {assign(f'g{iters}')}")
    # no output rounding: sim is deterministic (sequential dot-product
    # fold over bit-identical centroids), and cross-engine round() is
    # itself not guaranteed identical at digit boundaries
    vcol = ", v" if keep_vector else ""
    final_sql = (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vid AS {id_col}, -best.ncid AS cluster_id, "
        f"best.sim AS cos_sim{vcol} FROM a{iters + 1} WHERE best IS NOT NULL"
    )
    nv = dot_sql.format(a="v", b="v")
    n = sql_stage(f"SELECT vid, v, sqrt({nv}) AS nv FROM {{e}}", e=e)
    return sql_stage(final_sql, e=e, n=n)



def semantic_dup_pairs(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): Lloyd
    k-means partitions the embedding space, then cosine pairs are
    computed only WITHIN each cluster — the candidate set shrinks from
    |corpus|² to Σ|cluster|², which is the method's entire scale story.
    Returns (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= threshold.

    The within-cluster self-join is an equi-join on cluster_id; skew
    (one giant cluster) is bounded by raising k — cluster sizes are the
    knob, exactly as in the paper.
    """
    import numpy as np

    # keep_vector: the driver-mode assignment already decoded every
    # vector once — carrying it through skips a second corpus scan and
    # the assignment-vector equi-join (two exchanges) entirely.
    # Training goes through the session-memoized centroid accessor: the
    # MEASURED work here is the within-cluster pair scan, so the Lloyd
    # loop (bounded k·dim scalar state, an INPUT of this operator) is
    # shared per session exactly like the seed fetch — assignment with
    # pre-trained centroids is bit-identical to training inline.
    cents = kmeans_centroids(
        emb_df, k=k, iters=iters, id_col=id_col, emb_col=emb_col, dim=dim
    )
    a = kmeans_assign(
        emb_df, k=k, iters=0, id_col=id_col, emb_col=emb_col, dim=dim,
        keep_vector=True, seeds=cents,
    )
    m = a.select(F.col(id_col).alias("id"), "cluster_id", "v")

    # Within-cluster pairs as one grouped kernel, NOT a self-join:
    # each vector crosses Arrow ONCE (n_c rows per cluster), the
    # |cluster|² pair products exist only inside numpy (row-blocked to
    # bound memory), and only surviving pairs return — vs a cluster_id
    # self-join that ships BOTH pair arrays through the shuffle and the
    # UDF boundary (O(Σ|c|²·dim) Arrow traffic; measured 40% slower at
    # sf0.1 even Arrow-batched). Float semantics are preserved exactly:
    # elementwise products then SEQUENTIAL cumsum summation — identical
    # to the zip_with+aggregate fold and the oracle's list_dot_product
    # (numpy sum/dot would use pairwise summation and drift in the last
    # ulp). The pre-filter keeps a 1e-6 guard band; the authoritative
    # round+threshold stays Spark-side (HALF_UP, matching the oracle).
    # Skew: one task per cluster — k is the cluster-size knob (paper's
    # own posture); the row-block keeps peak memory at block×dim.
    guard = threshold - 1e-6
    id_type = dict(emb_df.dtypes)[id_col]

    def _pairs(c):
        ids = c["id"]
        n_rows = len(ids)
        if n_rows < 2:
            return []
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = arrow.vectors(c["v"])[order]
        nrm = np.sqrt((X * X).cumsum(axis=1)[:, -1])
        # pair indices are generated INCREMENTALLY per anchor block (never
        # np.triu_indices over the whole cluster: those index arrays alone
        # are O(n^2) int64 — a 125k-row cluster would need ~125 GB before
        # any cosine math). Block size adapts so each round materializes
        # ~200k pairs; peak memory is pairs_per_block x dim, independent
        # of cluster size.
        oa, ob, oc = [], [], []
        blk = max(1, 200_000 // (n_rows - 1))
        for s in range(0, n_rows - 1, blk):
            e = min(s + blk, n_rows - 1)
            anchors = np.arange(s, e)
            ia = np.repeat(anchors, (n_rows - 1) - anchors)
            ib = np.concatenate([np.arange(i + 1, n_rows) for i in anchors])
            for t in range(0, len(ia), 200_000):
                sa, sb = ia[t : t + 200_000], ib[t : t + 200_000]
                cos = (X[sa] * X[sb]).cumsum(axis=1)[:, -1] / (nrm[sa] * nrm[sb])
                keep = cos >= guard
                oa.append(ids[sa][keep])
                ob.append(ids[sb][keep])
                oc.append(cos[keep])
        return {
            "id_a": np.concatenate(oa),
            "id_b": np.concatenate(ob),
            "cos_raw": np.concatenate(oc),
        }

    pairs = arrow.groups(m, "cluster_id", _pairs, f"id_a {id_type}, id_b {id_type}, cos_raw double")
    # raw threshold compare, no rounding: cos_raw reproduces the
    # sequential fold exactly, so both engines filter identical values
    return pairs.select(
        "id_a", "id_b", F.col("cos_raw").alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


# --- product quantization (PQ) ANN ------------------------------------------
# The memory-compression scale path for embedding search (Jégou et al.
# 2011, "Product Quantization for Nearest Neighbor Search" — the design
# FAISS IVF-PQ builds on): split each vector into m subspaces, quantize
# every subvector to one of ksub codebook entries, and score queries
# against the CODES via an additive distance table (ADC) — the corpus
# shrinks from dim×8 bytes to m bytes per vector, which is what makes
# 100 TB of embeddings searchable at all. Everything here is exact
# integer arithmetic after a 1e-6 quantization of the per-subspace
# partial distances, so the DuckDB oracle reproduces the ranking
# bit-for-bit (same sequential folds, same tie-breaks).

#: LIMIT-probed bound on the pq_train_sampled Arrow fetch — classic PQ
#: practice trains codebooks on a bounded sample (FAISS defaults to
#: ~100k-1M vectors) regardless of corpus size, so the driver fetch is
#: capped by design, not by luck.
PQ_TRAIN_MAX_SAMPLE = 262_144


def pq_codebooks(
    emb_df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> list:
    """Sampled (iters=0) PQ codebooks: subspace ``j``'s codebook is the
    j-th subvector slice of the first ``ksub`` vectors by id — the same
    deterministic seeding rule as :func:`kmeans_assign`, reusing the
    memoized seed fetch. Returns ``m`` numpy arrays of shape
    (ksub, dim/m). For trained codebooks see :func:`pq_train_sampled`."""
    import numpy as np

    seeds = kmeans_seeds(emb_df, ksub, id_col, emb_col)
    if not seeds:
        return []
    if dim is None:
        dim = len(seeds[0][1])
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    dsub = dim // m
    C = np.array([v for (_cid, v, _n) in seeds], dtype=np.float64)
    return [C[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]


def pq_train_sampled(
    emb_df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
) -> list:
    """Classic L2 Lloyd per subspace on a LIMIT-probed bounded sample
    (:data:`PQ_TRAIN_MAX_SAMPLE` rows by ascending id — deterministic),
    the standard PQ training posture: codebooks are k·dsub scalars
    trained on a sample, never a full-corpus pass. Deterministic like
    the cosine k-means: seeds = first ksub subvectors, assignment =
    min quantized L2 with lowest-cid tie-break, centroid updates as
    exact integer-scaled sums. Returns the same shape as
    :func:`pq_codebooks`; feed to :func:`pq_encode` /
    :func:`ann_pq_topk` via ``codebooks=``."""
    import numpy as np

    scale = 10**ndigits
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    tbl = e.orderBy("vid").limit(PQ_TRAIN_MAX_SAMPLE).toArrow()
    # the list array's flat value buffer reshapes to (n, dim) —
    # to_pylist() would materialize n·dim Python floats (multi-GB
    # transient heap at the sample cap on wide embeddings)
    X = arrow.vectors(tbl.column("v"))
    if len(X) == 0:
        return []
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        C = Xj[: min(ksub, len(Xj))].copy()
        # the quantized sample is loop-invariant — hoist it out of the
        # Lloyd iterations
        Q = _saturating_int64(np.floor(Xj * float(scale) + 0.5))
        for _ in range(iters):
            dq = _pq_dist_q(Xj, C, scale)
            best = np.argmin(dq, axis=1)
            nc = []
            for c in range(C.shape[0]):
                mask = best == c
                if not mask.any():
                    continue
                nc.append((Q[mask].sum(axis=0) / float(mask.sum())) / scale)
            C = np.array(nc, dtype=np.float64)
        books.append(C)
    return books


def _pq_dist_q(Xj, Cj, scale: int):
    """Quantized per-subspace squared L2 between every row of Xj and
    every codebook row — SEQUENTIAL cumsum fold over the dsub diff²
    terms (== the oracle's list_dot_product(d, d) index-order sum),
    then the shared HALF_UP integer quantization, so both engines rank
    identical int64 values. Row-blocked: the (rows × ksub × dsub) diff
    tensor is bounded at ~32M cells per slice so a production config
    (ksub=256, dsub=96) can't demand gigabytes per Arrow batch."""
    import numpy as np

    n, ksub = Xj.shape[0], Cj.shape[0]
    out = np.empty((n, ksub), dtype=np.int64)
    step = max(1, 32_000_000 // max(1, ksub * Cj.shape[1]))
    for lo in range(0, n, step):
        hi = min(lo + step, n)
        diff = Xj[lo:hi, None, :] - Cj[None, :, :]
        d = (diff * diff).cumsum(axis=2)[:, :, -1]
        out[lo:hi] = _saturating_int64(np.floor(d * float(scale) + 0.5))
    return out


def pq_encode(
    emb_df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    codebooks: list | None = None,
) -> DataFrame:
    """Encode every vector to its m subspace codes — a MAP-ONLY stage
    (codebooks are closure-shipped scalars, like the k-means driver
    mode): no shuffle, no join, linear in the corpus. Returns
    (id, codes array<int>); ties break toward the lower code (numpy
    first-of-min == the oracle's ``row_number ORDER BY dq, code``)."""
    import numpy as np

    scale = 10**ndigits
    books = codebooks if codebooks is not None else pq_codebooks(
        emb_df, m, ksub, id_col, emb_col
    )
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    if not books:
        return e.select(
            F.col("vid").alias(id_col),
            F.array().cast("array<int>").alias("codes"),
        ).where(F.lit(False))
    dsub = books[0].shape[1]

    def fn(b):
        X = arrow.vectors(b["v"])
        codes = np.empty((X.shape[0], len(books)), dtype=np.int32)
        for j, Cj in enumerate(books):
            dq = _pq_dist_q(X[:, j * dsub : (j + 1) * dsub], Cj, scale)
            codes[:, j] = np.argmin(dq, axis=1)
        return {id_col: b["vid"], "codes": codes}

    schema = {id_col: e.schema["vid"].dataType, "codes": "array<int>"}
    return arrow.map_batches(e, fn, schema)


def ann_pq_topk(
    emb_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    codebooks: list | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k: queries (ids < ``n_queries``) score the
    ENCODED corpus through a per-query additive distance table —
    dist(q, x) ≈ Σ_j lut[q][j][code_j(x)].

    Shape at 100 TB: the corpus crosses the plan as (id, m codes) — a
    map-only encode, m bytes of payload per vector instead of dim×8 —
    the LUT is a broadcast of n_queries·m·ksub bounded rows, and the
    only shuffle is the per-(query, cand) integer sum. The partial
    distances are 1e-6-quantized int64, so the additive fold is
    order-independent and the oracle ranking matches exactly."""
    scale = 10**ndigits
    books = codebooks if codebooks is not None else pq_codebooks(
        emb_df, m, ksub, id_col, emb_col
    )
    q = emb_df.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), as_double(emb_col).alias("qv")
    )
    if not books:
        # no codebook vectors (ids all >= ksub, or an explicit empty
        # list): degrade to an empty ranked frame with the output
        # schema, like kmeans_assign's no-seed path
        return q.select(
            "query_id",
            F.col("query_id").alias("cand_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("long").alias("rank"),
        ).where(F.lit(False))
    enc = pq_encode(emb_df, m, ksub, id_col, emb_col, ndigits, codebooks=books)

    lut = _pq_lut_rows(q, books, scale)
    scored = (
        enc.select(id_col, F.posexplode("codes").alias("j", "code"))
        .join(F.broadcast(lut), ["j", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("pd_q").alias("_dq"))
        .where(F.col("query_id") != F.col(id_col))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_dq").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            (F.col("_dq").cast("double") / scale).alias("adc_dist"),
            "rank",
        )
    )


def _pq_lut_rows(q: DataFrame, books: list, scale: int) -> DataFrame:
    """The long-format per-query ADC table ``(query_id, j, code, pd_q)``
    of the ``(query_id, qv)`` queries: one row per query, subspace and
    code, ``pd_q`` the quantized subspace distance."""
    import numpy as np

    dsub = books[0].shape[1]

    def lut_fn(b):
        X = arrow.vectors(b["qv"])
        rows = {"query_id": [], "j": [], "code": [], "pd_q": []}
        for j, Cj in enumerate(books):
            dq = _pq_dist_q(X[:, j * dsub : (j + 1) * dsub], Cj, scale)
            nq, nc = dq.shape
            rows["query_id"].append(np.repeat(b["query_id"], nc))
            rows["j"].append(np.full(nq * nc, j, np.int32))
            rows["code"].append(np.tile(np.arange(nc, dtype=np.int32), nq))
            rows["pd_q"].append(dq.reshape(-1))
        return {c: np.concatenate(v) for c, v in rows.items()}

    schema = {
        "query_id": q.schema["query_id"].dataType, "j": "int", "code": "int", "pd_q": "long"
    }
    return arrow.map_batches(q, lut_fn, schema)


def ivf_pq_encode(
    emb_df: DataFrame,
    k_coarse: int = 8,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    seeds: list | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """One map-only pass building the composed IVF-PQ index row:
    ``(id, cell_id, codes)`` — the coarse max-cosine cell (the
    :func:`kmeans_assign` rule: lower-cid tie-break) AND the m PQ
    subspace codes, computed together so the corpus is scanned ONCE.
    Both the coarse centroids and the codebooks are closure-shipped
    scalars; no shuffle, no join, linear in the corpus — the index
    build half of the FAISS IVFPQ shape (Jégou et al. 2011 §IV)."""
    import numpy as np

    scale = 10**ndigits
    if seeds is None:
        seeds = kmeans_seeds(emb_df, k_coarse, id_col, emb_col)
    books = codebooks if codebooks is not None else pq_codebooks(
        emb_df, m, ksub, id_col, emb_col
    )
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    if not seeds or not books:
        return e.select(
            F.col("vid").alias(id_col),
            F.lit(0).cast("long").alias("cell_id"),
            F.array().cast("array<int>").alias("codes"),
        ).where(F.lit(False))
    core = _km_core(seeds)
    dsub = books[0].shape[1]

    def fn(b):
        X = arrow.vectors(b["v"])
        cids, best, _sim = core(X)
        codes = np.empty((X.shape[0], len(books)), dtype=np.int32)
        for j, Cj in enumerate(books):
            dq = _pq_dist_q(X[:, j * dsub : (j + 1) * dsub], Cj, scale)
            codes[:, j] = np.argmin(dq, axis=1)
        return {id_col: b["vid"], "cell_id": cids[best], "codes": codes}

    schema = {id_col: e.schema["vid"].dataType, "cell_id": "bigint", "codes": "array<int>"}
    return arrow.map_batches(e, fn, schema)


#: ann_ivf_pq lut="auto" crossover: the packed per-query LUT broadcast
#: is ~m·ksub·8 B per query (1 KB at m=8, ksub=16) — 200k queries keep
#: it under ~200 MB, a comfortable broadcast; above that the exploded
#: long-format LUT (same bytes, row-shaped, no per-query array) wins.
_IVFPQ_PACKED_MAX_QUERIES = 200_000


def _ivf_probe(q: DataFrame, seeds: list, nprobe: int) -> DataFrame:
    """``(query_id, cell_id)``: each ``(query_id, qv)`` query's
    top-``nprobe`` coarse cells — the determinism-critical probe used by
    BOTH quantized ANN families (ann_ivf_pq and ann_ivf_sq8):
    sequential-fold cosines against every centroid, ORDER BY cos DESC,
    cid ASC via stable argsort of the negated sims (negation is
    order-exact on doubles; column order IS ascending cid)."""
    import numpy as np

    cids = np.array([c[0] for c in seeds], dtype=np.int64)
    npb = min(int(nprobe), len(seeds))

    def probe_fn(b):
        X = arrow.vectors(b["qv"])
        # the same sequential-fold cosines the assignment core
        # computes — re-derived against ALL centroids for the
        # top-nprobe ranking (core() only returns the argmax)
        nv = np.sqrt((X * X).cumsum(axis=1)[:, -1])
        sims = np.empty((X.shape[0], len(cids)), dtype=np.float64)
        for j in range(len(cids)):
            Cj = np.asarray(seeds[j][1], dtype=np.float64)
            dots = (X * Cj).cumsum(axis=1)[:, -1]
            sims[:, j] = dots / (nv * seeds[j][2])
        order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
        return {
            "query_id": np.repeat(b["query_id"], npb),
            "cell_id": cids[order].reshape(-1),
        }

    schema = {"query_id": q.schema["query_id"].dataType, "cell_id": "bigint"}
    return arrow.map_batches(q, probe_fn, schema)


def ann_ivf_pq(
    emb_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    k_coarse: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    lut: str = "auto",
    seeds: list | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """IVF×PQ composed ANN — the full FAISS IVFPQ search shape: the
    corpus is ONE map-only pass to ``(id, cell, m codes)``
    (:func:`ivf_pq_encode`), each query probes only its ``nprobe``
    nearest coarse cells, and only THOSE cells' candidates are scored
    through the per-query additive distance table.

    vs :func:`ann_pq_topk` (which ADC-scans every encoded row per
    query): the scored set shrinks from ``n_queries × N`` to
    ``Σ_q |probed cells of q|`` ≈ ``n_queries × N × nprobe/k_coarse``
    — the composition is what makes the product scale: at 100 TB the
    candidate restriction is a broadcast hash join on ``cell_id``
    (n_queries·nprobe rows), the per-pair distance is a JVM
    higher-order fold over m packed LUT rows (no Python, no explode,
    no per-code shuffle), and the ONLY corpus-scale exchange is the
    top-k window's WindowGroupLimit partial/final on ``query_id``.

    Determinism (mirrored by the oracle): coarse cells/probes rank by
    the sequential-fold cosine (DESC, lower cid first), codes by
    quantized subspace L2 (lower code first), and the ADC distance is
    a sum of 1e-6-quantized int64 partials — order-independent — so
    the final ``(dist ASC, cand_id ASC)`` ranking matches exactly.

    ``lut`` selects the distance-table shape. ``"packed"``: one
    ``array<array<bigint>>`` row per query, broadcast, ADC as a JVM
    fold — no explode, but the broadcast is ``n_queries · m · ksub``
    int64s (~1 KB/query at m=8, ksub=16), which stops fitting a
    broadcast at very large query batches. ``"exploded"``:
    :func:`ann_pq_topk`'s long-format ``(query_id, j, code, pd_q)``
    LUT, joined WITHOUT a broadcast hint — the planner shuffles both
    sides on (query_id, j, code), so no LUT copy ever has to fit one
    executor; the cost is an m× posexplode of the CANDIDATE side
    (already nprobe/k_coarse-shrunk, so the explode is of the
    restricted set, not the corpus). ``"auto"`` (default) takes packed up to
    ``_IVFPQ_PACKED_MAX_QUERIES`` and exploded above — the gate is on
    the ``n_queries`` scalar itself (no data probe needed). Both modes
    sum the SAME 1e-6-quantized int64 partials, so they are
    bit-identical by construction (pinned by
    ``test_ann_ivf_pq_lut_modes_bit_identical``).
    """
    if lut not in ("auto", "packed", "exploded"):
        raise ValueError(f"lut must be auto|packed|exploded, got {lut!r}")
    scale = 10**ndigits
    # trained quantizers flow through here (kmeans_centroids +
    # pq_train_sampled — the production FAISS shape); the defaults are
    # the sampled seed centroids/codebooks the oracle replays
    if seeds is None:
        seeds = kmeans_seeds(emb_df, k_coarse, id_col, emb_col)
    books = codebooks if codebooks is not None else pq_codebooks(
        emb_df, m, ksub, id_col, emb_col
    )
    q = emb_df.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), as_double(emb_col).alias("qv")
    )
    if not seeds or not books:
        return q.select(
            "query_id",
            F.col("query_id").alias("cand_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("long").alias("rank"),
        ).where(F.lit(False))
    enc = ivf_pq_encode(
        emb_df, k_coarse, m, ksub, id_col, emb_col, ndigits,
        seeds=seeds, codebooks=books,
    )
    dsub = books[0].shape[1]
    probe = _ivf_probe(q, seeds, nprobe)

    use_packed = lut == "packed" or (
        lut == "auto" and n_queries <= _IVFPQ_PACKED_MAX_QUERIES
    )
    if use_packed:

        def lut_fn(b):
            X = arrow.vectors(b["qv"])
            # per-subspace blocks may be RAGGED: pq_train_sampled drops
            # empty clusters per subspace independently, so trained
            # codebooks can have different row counts — build
            # array<array<bigint>> rows per subspace instead of one
            # dense (nq, m, ksub) tensor (codes are bounded by each
            # subspace's own width, so ragged rows are safe)
            blocks = [
                _pq_dist_q(X[:, j * dsub : (j + 1) * dsub], Cj, scale)
                for j, Cj in enumerate(books)
            ]
            return {
                "query_id": b["query_id"],
                "luts": [
                    [blocks[j][i].tolist() for j in range(len(books))]
                    for i in range(X.shape[0])
                ],
            }

        lutdf = arrow.map_batches(
            q,
            lut_fn,
            {"query_id": q.schema["query_id"].dataType, "luts": "array<array<bigint>>"},
        )
        scored = (
            enc.join(F.broadcast(probe), "cell_id")
            .join(F.broadcast(lutdf), "query_id")
            .where(F.col("query_id") != F.col(id_col))
            .select(
                "query_id",
                F.col(id_col).alias("cand_id"),
                # ADC: Σ_j luts[j][codes[j]] — a JVM fold over m elements,
                # int64 adds (associative, exact), zero Python in the plan
                F.aggregate(
                    F.zip_with(
                        "luts", "codes",
                        lambda l, c: F.element_at(l, c + F.lit(1)),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("_dq"),
            )
        )
    else:
        # exploded long-format LUT (ann_pq_topk's shape): no per-query
        # array row ever materializes; the m× posexplode applies to the
        # PROBE-RESTRICTED candidate set only. Identical int64 partials
        # ⇒ identical sums ⇒ bit-identical output.
        lutdf = _pq_lut_rows(q, books, scale)
        scored = (
            enc.join(F.broadcast(probe), "cell_id")
            .where(F.col("query_id") != F.col(id_col))
            .select("query_id", id_col, F.posexplode("codes").alias("j", "code"))
            # deliberately NOT broadcast: above the crossover the LUT is
            # exactly what no longer fits a broadcast — let the planner
            # shuffle both sides on (query_id, j, code) (AQE still
            # broadcast-converts it when a small batch forces this mode)
            .join(lutdf, ["query_id", "j", "code"])
            .groupBy("query_id", id_col)
            .agg(F.sum("pd_q").alias("_dq"))
            .select("query_id", F.col(id_col).alias("cand_id"), "_dq")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_dq").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            (F.col("_dq").cast("double") / scale).alias("adc_dist"),
            "rank",
        )
    )


def embedding_covariance(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Exact population covariance matrix of the embedding column —
    the whitening / OPQ-rotation prep stage (FAISS trains OPQ on
    exactly this d×d matrix). Returns one row per (j ≤ k) pair:
    (dim_j, dim_k, cov).

    Exactness posture (the :func:`random_projection` contract, one
    level up): components quantize to 1e-6 units (int64), every
    Σq_j·q_k and Σq_j accumulates in EXACT integer arithmetic —
    order-independent, so any partial/combine schedule yields the same
    sums — and cov derives from the exact sums with one fixed float
    expression (E[q_j q_k] − E[q_j]E[q_k], scaled back), identical in
    both engines bit-for-bit.

    Scale shape: one Arrow map pass computes each Arrow batch's
    int64 Gram partial Qᵀ·Q (numpy integer matmul — exact, no BLAS
    rounding) plus column sums and count, emitting ≤ d(d+1)/2 + d + 1
    narrow rows per batch; a (j, k) hash aggregate folds the partials
    (map-side combine); the d-row column-sum side and the 1-row count
    broadcast back into the final projection. The corpus crosses the
    plan once; the shuffle carries only d² partials per batch.
    Overflow bound: |q| ≤ ~1e6·|v|, so a 10k-row Arrow batch's partial
    ≤ 1e4·1e12 = 1e16 ≪ 2^63; the terminal fold holds sums as
    DECIMAL(38,0) so corpus-scale totals cannot overflow."""
    import numpy as np

    scale = 10**ndigits
    e = emb_df.select(as_double(emb_col).alias("v"))

    def fn(b):
        A = arrow.vectors(b["v"])
        Q = _saturating_int64(np.floor(A * scale + 0.5))
        d = Q.shape[1]
        G = Q.T @ Q  # int64 exact (bounds in the docstring)
        cs = Q.sum(axis=0)
        ju, ku = np.triu_indices(d)
        return {
            "j": np.concatenate([ju, np.arange(d), [-1]]),
            "k": np.concatenate([ku, np.full(d, -1), [-1]]),
            "s": np.concatenate([G[ju, ku], cs, [len(A)]]).astype(np.int64),
        }

    partials = arrow.map_batches(e, fn, "j int, k int, s long")
    agg = partials.groupBy("j", "k").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )
    prods = agg.where(F.col("k") >= 0)
    sums = agg.where((F.col("j") >= 0) & (F.col("k") == -1)).select(
        F.col("j").alias("_d"), F.col("s").alias("_cs")
    )
    n = agg.where(F.col("j") == -1).select(F.col("s").alias("_n"))
    out = (
        prods.crossJoin(F.broadcast(n))
        .join(F.broadcast(sums.withColumnRenamed("_d", "j").withColumnRenamed("_cs", "_sj")), "j")
        .join(F.broadcast(sums.withColumnRenamed("_d", "k").withColumnRenamed("_cs", "_sk")), "k")
    )
    nn = F.col("_n").cast("double")
    cov = (
        F.col("s").cast("double") / nn
        - (F.col("_sj").cast("double") / nn) * (F.col("_sk").cast("double") / nn)
    ) / F.lit(float(scale * scale))
    return out.select(
        F.col("j").cast("int").alias("dim_j"),
        F.col("k").cast("int").alias("dim_k"),
        cov.alias("cov"),
    )


# --- scalar quantization (SQ8) ------------------------------------------------

#: bounded training sample for the per-dim min/max (ascending id —
#: deterministic), the same posture as PQ_TRAIN_MAX_SAMPLE
SQ8_TRAIN_MAX_SAMPLE = 262_144


def sq8_train(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_sample: int = SQ8_TRAIN_MAX_SAMPLE,
):
    """Train the SQ8 (8-bit scalar) quantizer: per-dimension (min, max)
    over a bounded LIMIT-probed sample by ascending id — the FAISS
    ScalarQuantizer training posture (d pairs of scalars, never a
    full-corpus pass; out-of-range corpus values clip at encode).
    Returns ``(vmin, vmax)`` float64 arrays of length dim."""
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    X = arrow.vectors(e.orderBy("vid").limit(max_sample).toArrow().column("v"))
    if len(X) == 0:
        return None
    return X.min(axis=0), X.max(axis=0)


def sq8_encode(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bounds=None,
) -> DataFrame:
    """Encode every vector to dim uint8 codes — a MAP-ONLY stage (the
    trained (min, max) arrays are closure-shipped scalars): no shuffle,
    no join, linear in the corpus; payload shrinks 8× vs float64.
    ``code_d = clip(HALF_UP((x_d − vmin_d) / ((vmax_d − vmin_d)/255)),
    0, 255)`` — the float expression shape matches the oracle SQL
    token-for-token so both engines emit identical codes. A constant
    dimension (vmax == vmin) encodes to 0."""
    b = bounds if bounds is not None else sq8_train(emb_df, id_col, emb_col)
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    if b is None:
        return e.select(
            F.col("vid").alias(id_col),
            F.array().cast("array<int>").alias("codes"),
        ).where(F.lit(False))
    vmin, vmax = b
    d255 = (vmax - vmin) / 255.0

    def fn(b):
        return {id_col: b["vid"], "codes": _sq8_codes_np(arrow.vectors(b["v"]), vmin, d255)}

    schema = {id_col: e.schema["vid"].dataType, "codes": "array<int>"}
    return arrow.map_batches(e, fn, schema)


def _sq8_codes_np(X, vmin, d255):
    """The shared SQ8 encode kernel: ``clip(HALF_UP((x − vmin)/d255),
    0, 255)``, constant dims (d255 == 0) to 0 — ONE implementation so
    the full-scan and IVF-fused encodes cannot drift (the oracle SQL
    matches this expression token-for-token)."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        r = (X - vmin) / d255
    codes = np.clip(np.floor(r + 0.5), 0, 255)
    return np.where(d255 > 0, codes, 0.0).astype(np.int32)


def _sq8_quantized_consts(vmin, d255, scale: int):
    """The shared 1e-``ndigits`` integer quantization of the SQ8
    reconstruction constants — literal arrays for the distance fold;
    one implementation for ann_sq8_topk and ann_ivf_sq8."""
    import math

    vminq = F.array(*[F.lit(int(math.floor(v * scale + 0.5))) for v in vmin])
    deltaq = F.array(*[F.lit(int(math.floor(v * scale + 0.5))) for v in d255])
    return vminq, deltaq


def _sq8_recon_cols(vminq, deltaq):
    """Candidate-side factor of the SQ8 asymmetric distance: reconstruct
    each candidate ONCE — ``recon_d = vminq_d + code_d·deltaq_d`` and
    ``r2 = Σ_d recon_d²`` — instead of re-deriving it inside every
    query's fold (the full scan scores each candidate against n_queries
    broadcast rows, so an in-fold reconstruction would run n_queries
    times per row).
    Returns (_recon, _r2) expressions over the row's ``codes``."""
    recon = F.transform(
        "codes", lambda c, i: F.get(vminq, i) + c.cast("long") * F.get(deltaq, i)
    )
    r2 = F.aggregate(recon, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    return recon, r2


def _sq8_dist_fold():
    """The shared SQ8 asymmetric distance: Σ_d (qs_d − recon_d)²
    expanded to ``q2 + r2 − 2·Σ_d qs_d·recon_d`` — the identity holds
    EXACTLY over the integers (all terms int64: |qs|,|recon| ≲ 2²¹ at
    the 1e-6 scale, so Σ over 64 dims ≲ 2⁴⁸ — no overflow, no rounding),
    and ``q2``/``r2`` are per-query/per-candidate constants computed
    once outside the (candidate × query) inner loop. Used by both the
    full-scan and the IVF-restricted search, so the two stay
    bit-identical by construction."""
    dot = F.aggregate(
        F.zip_with("qs", "_recon", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.col("_q2") + F.col("_r2") - F.lit(2).cast("long") * dot


def _sq8_query_cols(qq):
    """Query-side factor: the 1e-6-quantized query array ``qs`` plus its
    squared norm ``_q2`` (computed once per broadcast query row)."""
    return qq.withColumn(
        "_q2",
        F.aggregate(F.col("qs"), F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )


def ann_sq8_topk(
    emb_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    bounds=None,
) -> DataFrame:
    """SQ8 asymmetric top-k: queries (ids < ``n_queries``) score the
    ENCODED corpus by exact-query-vs-dequantized-candidate squared L2
    — the FAISS ScalarQuantizer search path, completing the quantized
    family next to PQ/IVFPQ (SQ8 trades PQ's m-byte compression for
    dim bytes and a much smaller reconstruction error).

    Shape at 100 TB: the corpus crosses the plan as (id, dim codes)
    from a map-only encode; the ``n_queries`` quantized query rows
    broadcast into a nested-loop join whose distance fold is ONE
    whole-stage-codegen HOF over int64 — no explode, no LUT join, no
    Python in the scoring path; the only shuffle is the per-query
    top-k (WindowGroupLimit partial/final). All distance arithmetic is
    1e-6-quantized int64 (reconstruction = vminq + code·deltaq), so
    partial order cannot perturb ranks and the oracle matches exactly.
    """
    scale = 10**ndigits
    b = bounds if bounds is not None else sq8_train(emb_df, id_col, emb_col)
    q = emb_df.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), as_double(emb_col).alias("qv")
    )
    if b is None:
        return q.select(
            "query_id",
            F.col("query_id").alias("cand_id"),
            F.lit(0.0).alias("sq_dist"),
            F.lit(0).cast("long").alias("rank"),
        ).where(F.lit(False))
    vmin, vmax = b
    d255 = (vmax - vmin) / 255.0
    vminq, deltaq = _sq8_quantized_consts(vmin, d255, scale)
    recon, r2 = _sq8_recon_cols(vminq, deltaq)
    enc = sq8_encode(emb_df, id_col, emb_col, bounds=b).select(
        id_col, recon.alias("_recon"), r2.alias("_r2")
    )
    qq = _sq8_query_cols(
        q.select(
            "query_id",
            F.transform(
                "qv",
                lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
            ).alias("qs"),
        )
    )
    j = enc.crossJoin(F.broadcast(qq)).where(F.col("query_id") != F.col(id_col))
    scored = j.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        _sq8_dist_fold().alias("_dq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_dq").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            (F.col("_dq").cast("double") / (scale * scale)).alias("sq_dist"),
            "rank",
        )
    )


def knn_graph(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 2,
    k_neighbors: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cluster-restricted k-NN graph: each vector's ``k_neighbors``
    nearest neighbors by cosine, candidates drawn only from its k-means
    cell (the SemDeDup restriction — Σ|cluster|² candidate pairs, not
    |corpus|²). The input graph for semantic clustering, diversity
    sampling, and the centrality election. Returns
    (src_id, dst_id, cos_sim, rank); vectors alone in their cell have
    no neighbors (raise k_neighbors' reach by lowering k).

    Plan: one within-cluster Arrow scan emits each
    node's top-``k_neighbors`` DIRECTLY — a node's entire candidate set
    lives inside its cell's task, so the per-node selection is exact
    in-kernel and only n·k ranked rows ever leave Python, instead of
    a Σ|cluster|² pair fan-out + union + row_number window
    (two more exchanges of pair-scale rows). Bit-identical to the
    window form by construction: cosines reproduce the pair kernel's
    elementwise-product + sequential-cumsum fold (commutative per
    element, so direction cannot move a bit), candidates are ranked by
    (cos desc, dst asc) via a stable argsort over id-ascending columns,
    and NaN cosines (zero-norm vectors) rank FIRST exactly like
    Spark's descending sort treats NaN as largest.

    NaN contract (pinned by ``test_knn_graph_zero_norm_nan_ranks_first``):
    a zero-norm vector's cosine is NaN and such candidates rank FIRST —
    the semantics of the DECLARED oracle (``row_number() OVER (ORDER BY
    cos_sim DESC)``; DuckDB, like Spark, sorts NaN above every number
    under DESC). This intentionally diverges from threshold-guarded
    consumers (``semantic_dup_pairs``'s ``cos >= guard`` drops NaN):
    a corpus with zero-norm embeddings surfaces them as rank-1 NaN
    edges here rather than silently losing the node's neighbor slots."""
    import numpy as np

    cents = kmeans_centroids(
        emb_df, k=k, iters=iters, id_col=id_col, emb_col=emb_col, dim=dim
    )
    a = kmeans_assign(
        emb_df, k=k, iters=0, id_col=id_col, emb_col=emb_col, dim=dim,
        keep_vector=True, seeds=cents,
    )
    m = a.select(F.col(id_col).alias("id"), "cluster_id", "v")
    id_type = dict(emb_df.dtypes)[id_col]

    def _topk(c):
        ids = c["id"]
        n_rows = len(ids)
        if n_rows < 2:
            return []
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = arrow.vectors(c["v"])[order]
        nrm = np.sqrt((X * X).cumsum(axis=1)[:, -1])
        kk = min(k_neighbors, n_rows - 1)
        cols = np.arange(n_rows)
        os_, od_, oc_, or_ = [], [], [], []
        # anchor-blocked like the pair kernel: each round materializes
        # ~200k (anchor, candidate) products, peak memory block×dim
        # regardless of cluster size
        blk = max(1, 200_000 // n_rows)
        rk_row = np.arange(1, kk + 1, dtype=np.int64)
        for s in range(0, n_rows, blk):
            e = min(s + blk, n_rows)
            anchors = np.arange(s, e)
            ia = np.repeat(anchors, n_rows)
            ib = np.tile(cols, e - s)
            cos = (X[ia] * X[ib]).cumsum(axis=1)[:, -1] / (nrm[ia] * nrm[ib])
            C = cos.reshape(e - s, n_rows)
            # sort key: cos desc with NaN first (Spark's desc order),
            # ties broken by ascending id = ascending column (stable);
            # self sorts last and kk <= n_rows-1 never reaches it
            key = np.where(np.isnan(C), -np.inf, -C)
            key[np.arange(e - s), anchors] = np.inf
            idx = np.argsort(key, axis=1, kind="stable")[:, :kk]
            flat = idx.ravel()
            os_.append(np.repeat(ids[anchors], kk))
            od_.append(ids[flat])
            oc_.append(C[np.repeat(np.arange(e - s), kk), flat])
            or_.append(np.tile(rk_row, e - s))
        return {
            "src_id": np.concatenate(os_),
            "dst_id": np.concatenate(od_),
            "cos_sim": np.concatenate(oc_),
            "rank": np.concatenate(or_),
        }

    return arrow.groups(
        m, "cluster_id", _topk, f"src_id {id_type}, dst_id {id_type}, cos_sim double, rank long"
    )


def ivf_sq8_encode(
    emb_df: DataFrame,
    k_coarse: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seeds: list | None = None,
    bounds=None,
) -> DataFrame:
    """One map-only pass building the composed IVF-SQ8 index row:
    ``(id, cell_id, codes)`` — the coarse max-cosine cell (the
    :func:`kmeans_assign` rule, lower-cid tie-break) AND the dim SQ8
    codes, computed together so the corpus is scanned ONCE (the
    :func:`ivf_pq_encode` shape with the scalar quantizer in place of
    the product quantizer). Centroids and (min, max) bounds are
    closure-shipped scalars; no shuffle, no join, linear in the
    corpus."""
    if seeds is None:
        seeds = kmeans_seeds(emb_df, k_coarse, id_col, emb_col)
    b = bounds if bounds is not None else sq8_train(emb_df, id_col, emb_col)
    e = emb_df.select(F.col(id_col).alias("vid"), as_double(emb_col).alias("v"))
    if not seeds or b is None:
        return e.select(
            F.col("vid").alias(id_col),
            F.lit(0).cast("long").alias("cell_id"),
            F.array().cast("array<int>").alias("codes"),
        ).where(F.lit(False))
    core = _km_core(seeds)
    vmin, vmax = b
    d255 = (vmax - vmin) / 255.0

    def fn(b):
        X = arrow.vectors(b["v"])
        cids, best, _sim = core(X)
        return {
            id_col: b["vid"], "cell_id": cids[best], "codes": _sq8_codes_np(X, vmin, d255)
        }

    schema = {id_col: e.schema["vid"].dataType, "cell_id": "bigint", "codes": "array<int>"}
    return arrow.map_batches(e, fn, schema)


def ann_ivf_sq8(
    emb_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    k_coarse: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    seeds: list | None = None,
    bounds=None,
) -> DataFrame:
    """IVF×SQ8 composed ANN — cell-probed scalar-quantizer search: the
    corpus builds its index in ONE map-only pass (coarse cell + dim
    SQ8 codes, :func:`ivf_sq8_encode`), each query probes its
    ``nprobe`` nearest coarse cells, and only THOSE cells' candidates
    run the int64 asymmetric distance fold. Completes the quantizer ×
    partitioner matrix next to :func:`ann_ivf_pq`: SQ8 keeps dim bytes
    per vector (8× vs float64, far lower reconstruction error than
    PQ's m bytes) while the IVF restriction shrinks the scored set
    ~nprobe/k_coarse-fold — without it the SQ8 search scans every
    encoded row per query (:func:`ann_sq8_topk`'s labeled posture).

    Plan at 100 TB: candidate restriction is a broadcast hash join on
    ``cell_id`` (n_queries·nprobe rows), the quantized query arrays
    broadcast on ``query_id``, the distance is one whole-stage-codegen
    fold (no explode, no LUT), and the only corpus-scale exchange is
    the top-k WindowGroupLimit. Determinism mirrors ann_ivf_pq: probes
    rank by sequential-fold cosine (DESC, lower cid first) and every
    distance is quantized int64 — bit-exact vs the oracle.
    """
    scale = 10**ndigits
    if seeds is None:
        seeds = kmeans_seeds(emb_df, k_coarse, id_col, emb_col)
    b = bounds if bounds is not None else sq8_train(emb_df, id_col, emb_col)
    q = emb_df.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), as_double(emb_col).alias("qv")
    )
    if not seeds or b is None:
        return q.select(
            "query_id",
            F.col("query_id").alias("cand_id"),
            F.lit(0.0).alias("sq_dist"),
            F.lit(0).cast("long").alias("rank"),
        ).where(F.lit(False))
    vmin, vmax = b
    d255 = (vmax - vmin) / 255.0
    vminq, deltaq = _sq8_quantized_consts(vmin, d255, scale)
    recon, r2 = _sq8_recon_cols(vminq, deltaq)
    enc = ivf_sq8_encode(
        emb_df, k_coarse, id_col, emb_col, seeds=seeds, bounds=b
    ).select(id_col, "cell_id", recon.alias("_recon"), r2.alias("_r2"))
    probe = _ivf_probe(q, seeds, nprobe)
    qq = _sq8_query_cols(
        q.select(
            "query_id",
            F.transform(
                "qv",
                lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
            ).alias("qs"),
        )
    )
    cand = enc.join(F.broadcast(probe), "cell_id").join(
        F.broadcast(qq), "query_id"
    ).where(F.col("query_id") != F.col(id_col))
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        _sq8_dist_fold().alias("_dq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_dq").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            (F.col("_dq").cast("double") / (scale * scale)).alias("sq_dist"),
            "rank",
        )
    )


#: corpus rows from which :func:`ann_sq8_search` takes the IVF side
ANN_IVF_MIN_ROWS = 262_144


def ann_sq8_search(
    emb_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    k_coarse: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    seeds: list | None = None,
    bounds=None,
) -> DataFrame:
    """Routed SQ8 ANN entry point: corpora below ``ANN_IVF_MIN_ROWS``
    take the exact full-scan :func:`ann_sq8_topk` (every encoded row
    scored per query — the honest baseline, and cheaper than building a
    coarse index below the crossover), larger corpora take the
    IVF-restricted :func:`ann_ivf_sq8` (only the ``nprobe`` probed
    cells' candidates are scored — the 100 TB path; measured sf0.1→sf1
    growth 2.0× vs the full scan's 3.6×, SCALE.md).

    ``cache.rows_at_most`` decides, and either side reads its cut, so
    the corpus upstream runs once; under ``cache._FORCE_DISTRIBUTED``
    the IVF side runs. Callers that want one side call it directly.

    The two sides agree WHERE THEY OVERLAP: both score with the same
    int64 asymmetric distance over the same SQ8 codes, so any
    (query, cand) pair ranked by both carries the bit-identical
    sq_dist (pinned by ``test_ann_sq8_route_crossover``); IVF may
    legitimately return different top-k MEMBERS for candidates outside
    the probed cells — that recall trade is the point of the index
    (measured honestly by ``lsh_recall_audit``'s sibling posture).
    """
    emb_df, small = cache.rows_at_most(emb_df, ANN_IVF_MIN_ROWS - 1)
    if small:
        return ann_sq8_topk(
            emb_df, n_queries, k, id_col, emb_col, ndigits, bounds=bounds
        )
    return ann_ivf_sq8(
        emb_df,
        n_queries,
        k,
        k_coarse,
        nprobe,
        id_col,
        emb_col,
        ndigits,
        seeds=seeds,
        bounds=bounds,
    )


def embedding_outliers(
    emb_df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    ndigits: int = 6,
    z2_cap: float = 1e6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding QC: top-k outlier vectors by diagonal Mahalanobis
    distance — Σ_j (x_j − μ_j)²/σ²_j over dims with σ²_j > 0. The
    standard corpus-hygiene screen (corrupt encoders, wrong-modality
    rows, zero/saturated vectors) before any ANN/cluster stage.

    Exactness ladder (the :func:`embedding_covariance` discipline, one
    diagonal down): per-dim stats come from 1e-``ndigits``-quantized
    int64 sums (Σq, Σq² — order-independent; DECIMAL-safe well past
    2^63 via Python/HUGEINT folds), μ and σ² derive with ONE fixed
    float expression each, and the per-element z² terms — identical
    doubles in both engines — quantize to 1e9 units (HALF_UP, capped
    at ``z2_cap`` per element so a near-zero variance cannot overflow
    the int64 sum) before the per-vector SUM, which is therefore an
    exact integer in ANY aggregation order. The exposed score is
    score_q/1e9; ranking keys on the integer, ties break on the id.

    Scale shape: one narrow (dim, q) explode + one d-row stats
    aggregate (d rows collect — bounded scalar state, the kmeans
    posture); the scoring pass is ONE projection with a sequential HOF
    fold over broadcast μ/σ² array literals; top-k is
    ``orderBy().limit()`` = TakeOrderedAndProject + a k-row re-rank."""
    scale = 10**ndigits
    if dim is None:
        # one-row dim probe; callers with a fixed-width embeddings
        # table pass ``dim`` and skip this driver job at plan-build
        # (the kmeans_assign posture)
        d = emb_df.select(F.size(F.col(emb_col)).alias("d")).limit(1).collect()
        if not d:
            return emb_df.sparkSession.createDataFrame(
                [], f"{id_col} long, score double, rank long"
            )
        dim = d[0]["d"]
    q = emb_df.select(
        F.posexplode(
            F.transform(
                as_double(emb_col),
                lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
            )
        ).alias("j", "qv")
    )
    stats = (
        q.groupBy("j")
        .agg(
            F.sum(F.col("qv").cast("decimal(38,0)")).alias("sq"),
            F.sum(F.col("qv").cast("decimal(19,0)") * F.col("qv")).alias("sq2"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    mu = [0.0] * dim
    var = [0.0] * dim
    for r in stats:
        n = int(r["n"])
        sq, sq2 = int(r["sq"]), int(r["sq2"])
        mu[r["j"]] = float(sq) / (n * float(scale))
        # population variance of the quantized components, exact
        # integer numerator (Python bigint == the oracle's HUGEINT)
        num = n * sq2 - sq * sq
        var[r["j"]] = float(num) / ((float(n) * float(n)) * float(scale) ** 2)
    m_arr = F.lit(mu)
    v_arr = F.lit(var)
    e = emb_df.select(F.col(id_col).alias("id"), as_double(emb_col).alias("v"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    cap = float(z2_cap) * 1e9

    def term(acc, i):
        u = F.element_at(F.col("v"), i + 1) - F.element_at(m_arr, i + 1)
        vr = F.element_at(v_arr, i + 1)
        t = F.when(
            vr > 0.0,
            F.floor(F.least(u * u / vr * F.lit(1e9), F.lit(cap)) + F.lit(0.5)).cast(
                "long"
            ),
        ).otherwise(F.lit(0).cast("long"))
        return acc + t

    scored = e.select(
        "id", F.aggregate(idx, F.lit(0).cast("long"), term).alias("score_q")
    )
    top = scored.orderBy(F.col("score_q").desc(), F.col("id")).limit(k)
    w = Window.orderBy(F.col("score_q").desc(), F.col("id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            F.col("id").alias(id_col),
            (F.col("score_q").cast("double") / F.lit(1e9)).alias("score"),
            "rank",
        )
    )


#: diverse_sample's driver gate, in bytes of float64 vector payload: at
#: or below it the (id, vector) table is collected and the greedy steps
#: run in numpy.
DIVERSE_DRIVER_MAX_BYTES = 64 << 20


def diverse_sample(
    emb_df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (Gonzalez) max-min selection: start from the
    lowest id, then repeatedly select the vector FARTHEST (cosine
    distance 1 − cos) from everything already selected — the classic
    coreset / diversity-sampling primitive for choosing maximally
    spread exemplars from a corpus. Returns k rows
    (sel_order, vec_id, min_dist) where min_dist is the selected
    vector's distance to the prior set at selection time (0 for the
    seed).

    Driver gate (:func:`cache.collect_if_small`): a one-row ``limit(1)``
    probe reads the vector width ``dim``; a table of at most
    ``DIVERSE_DRIVER_MAX_BYTES // (8·dim)`` rows crosses to the driver
    once and the k greedy steps run in numpy — one Spark job instead of
    k. A larger table stays behind its lineage cut and takes k map-only
    Arrow argmax jobs (the kmeans driver-mode posture): every
    partition emits at most ONE (min_dist, id, vector) candidate and
    the driver folds ≤P partials, so only k·P tiny rows ever leave the
    executors. Past the width probe the projection executes exactly
    once either way, and the two sides return byte-identical rows
    (pinned by test).

    Determinism (both sides): dots are SEQUENTIAL left-to-right sums
    (``(V*s).cumsum(axis=1)[:,-1]`` — the :func:`cosine_batch`
    discipline, bit-identical to the engines' list folds), the min over
    the selected set folds in selection order (``np.minimum`` — exact,
    associative), and the argmax breaks exact ties toward the LOWER id
    (lexsort; across-partition partials by tuple compare) — mirroring
    the oracle's ``row_number() ORDER BY md DESC, vec_id``.

    Id dtype: any orderable id column works (long ids and string ids
    are tested) — every tie-break is expressed as "md descending, then
    id ascending" via explicit two-stage comparison (never arithmetic
    negation of the id), and numpy scalars are converted with a plain
    Python coercion that handles object dtypes."""
    import numpy as np

    def _py(x):
        # numpy scalar -> python; str / python scalars pass through
        return x.item() if isinstance(x, np.generic) else x

    def _beats(md_a, id_a, md_b, id_b):
        # "a beats b": larger min-dist wins, ties to the LOWER id
        return md_a > md_b or (md_a == md_b and id_a < id_b)

    id_type = dict(emb_df.dtypes)[id_col]
    proj = emb_df.select(F.col(id_col).alias("id"), as_double(emb_col).alias("v"))
    head = proj.select(F.size("v").alias("d")).limit(1).collect()
    spark = emb_df.sparkSession
    out_schema = f"sel_order long, {id_col} {id_type}, min_dist double"
    if not head:
        return proj.select(
            F.lit(0).cast("long").alias("sel_order"),
            F.col("id").alias(id_col),
            F.lit(0.0).alias("min_dist"),
        ).where(F.lit(False))
    max_rows = DIVERSE_DRIVER_MAX_BYTES // (8 * max(head[0]["d"], 1))
    e, tbl = cache.collect_if_small(proj, max_rows)

    if tbl is not None:
        ids = tbl["id"].to_numpy(zero_copy_only=False)
        V = arrow.vectors(tbl["v"])
        vn = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        cur = int(np.argmin(ids))
        taken = np.zeros(len(ids), dtype=bool)
        taken[cur] = True
        out_rows = [(1, _py(ids[cur]), 0.0)]
        md = None
        for step in range(2, k + 1):
            s = V[cur]
            nrm = np.sqrt((s * s).cumsum()[-1])
            d = 1.0 - (V * s).cumsum(axis=1)[:, -1] / (vn * nrm)
            md = d if md is None else np.minimum(md, d)
            cand = np.where(taken, -np.inf, md)
            cur = int(np.lexsort((ids, -cand))[0])
            if taken[cur]:
                break  # fewer than k vectors
            taken[cur] = True
            out_rows.append((step, _py(ids[cur]), float(md[cur])))
        return spark.createDataFrame(out_rows, out_schema)

    first = e.orderBy("id").limit(1).collect()
    sel_ids = [first[0]["id"]]
    sel_vecs = [np.asarray(first[0]["v"], dtype=np.float64)]
    out_rows = [(1, sel_ids[0], 0.0)]
    part_schema = {"md": "double", "id": id_type, "v": "array<double>"}
    for _ in range(1, k):
        S = np.stack(sel_vecs)
        nrms = np.sqrt((S * S).cumsum(axis=1)[:, -1])
        excl = np.asarray(sel_ids)

        def _argmax(batches, S=S, nrms=nrms, excl=excl):
            best = None
            for b in batches:
                ids = b["id"]
                mask = ~np.isin(ids, excl)
                if not mask.any():
                    continue
                ids = ids[mask]
                V = arrow.vectors(b["v"])[mask]
                vn = np.sqrt((V * V).cumsum(axis=1)[:, -1])
                md = None
                for j in range(S.shape[0]):
                    dots = (V * S[j]).cumsum(axis=1)[:, -1]
                    d = 1.0 - dots / (vn * nrms[j])
                    md = d if md is None else np.minimum(md, d)
                i0 = np.lexsort((ids, -md))[0]
                cand = (float(md[i0]), _py(ids[i0]), V[i0])
                if best is None or _beats(cand[0], cand[1], best[0], best[1]):
                    best = cand
            if best is not None:
                yield {"md": [best[0]], "id": [best[1]], "v": best[2][None, :]}

        parts = arrow.map_partitions(e, _argmax, part_schema).collect()
        if not parts:
            break
        win = parts[0]
        for r in parts[1:]:
            if _beats(r["md"], r["id"], win["md"], win["id"]):
                win = r
        sel_ids.append(win["id"])
        sel_vecs.append(np.asarray(win["v"], dtype=np.float64))
        out_rows.append((len(sel_ids), win["id"], float(win["md"])))
    return spark.createDataFrame(out_rows, out_schema)
