"""Retrieval operators for training-data pipelines: inverted-index
build, BM25 ranked search, and link-analysis (PageRank) over the
near-duplicate graph.

Beyond-reference surface (the reference engine has no retrieval tier;
BASELINE.json north star): a 100 TB curation pipeline needs an index
over its corpus (dedup forensics, contamination lookups, mixture
audits), a ranked-retrieval primitive (BM25 is the lexical baseline
every retrieval paper reports), and a graph-centrality score for
choosing the canonical document inside a near-dup cluster (keep the
"most linked" page, not an arbitrary min-id). All three are pure
DataFrame compositions — no UDFs anywhere in this module.

Scale shapes:

- ``inverted_index``: two token-keyed aggregations plus a
  ``row_number``-capped postings window that compiles to
  ``WindowGroupLimit`` (partial per-partition limit before the final),
  so a stopword's billion-row posting list never materializes — the
  cap bounds state per token on both the map and reduce side.
- ``bm25_topk``: per-doc term frequencies are a narrow let-bound
  projection (no explode), corpus statistics fold to ONE broadcast
  row, and the top-k is ``orderBy().limit()`` — Spark's distributed
  ``TakeOrderedAndProject``, not a SinglePartition window sort.
- ``pagerank``: each iteration is one hash join + one integer-sum
  aggregation over the edge list (the classic message-passing round);
  the edge list is pinned once via the tracked-cache registry so the
  upstream LSH candidate build runs once, not once per iteration.
  All rank arithmetic is int64 fixed-point (micro-units with integer
  DIV), so partial-sum order cannot perturb results — both engines
  agree bit-for-bit, and so would any executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from . import text as TX

#: fixed-point unit for integer PageRank (1.0 == 1e12 micro-units)
PR_UNIT = 1_000_000_000_000


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_cap: int = 32,
) -> DataFrame:
    """Build an inverted index over whitespace tokens: one row per
    term with document frequency, total term frequency, and a capped
    champion list of the first ``postings_cap`` doc ids (ascending).

    Returns (token, df, total_tf, postings) where ``postings`` is a
    comma-joined string (cross-engine-stable representation; array
    columns stringify differently between Arrow and DuckDB pandas
    bridges).

    Plan: explode → (token, doc) counts → (a) token-keyed stats
    aggregation (map-side partial combine) and (b) a
    ``row_number() <= cap`` window that the optimizer compiles to
    ``WindowGroupLimit`` partial/final — each map task keeps at most
    ``cap`` rows per token before the shuffle, so skewed terms
    (stopwords at 100 TB) cross the exchange as ``cap`` rows, never as
    their full posting list. Both branches and the final join share
    the same hash partitioning on ``token``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), F.explode(TX.tokens(text_col)).alias("token")
    ).where(F.col("token") != "")
    tfs = toks.groupBy("token", "doc").agg(F.count(F.lit(1)).alias("tf"))
    stats = tfs.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("token").orderBy("doc")
    top = (
        tfs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= postings_cap)
        .groupBy("token")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc")), ",").alias("postings")
        )
    )
    return stats.join(top, "token").select("token", "df", "total_tf", "postings")


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones): score every
    document against ``terms`` and return the top ``k`` rows
    (doc_id, score), score descending, doc_id ascending on ties.

    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); per-term score
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)); the document score is
    the FIXED-ORDER sum over ``terms`` (no group-dependent float
    summation order). Cross-engine caveat: the expression tree is
    identical on both sides, but ``ln`` itself may differ in the last
    ulp between the JVM and libm — EXACT score ties break
    deterministically on doc_id, while a sub-ulp near-tie straddling
    the k-cut could in principle select a different row (the same
    residual hazard class as the cosine-threshold queries;
    ``tfidf_keywords`` sidesteps it with a rational idf, which BM25's
    definition does not admit).

    Plan shape: ONE let-bound tokenizer pass per row feeds dl AND every
    per-term tf — the bind's body returns a struct of all |terms|+1
    counts, and the struct lands in its own projection before the
    field unpack so CollapseProject cannot re-inline the split (the
    SCALE.md let-bind-once discipline; the previous form let-bound one
    ``tokens()`` call PER TERM plus one for dl — |terms|+1 full split
    passes, doubled by the stats/scoring dual scan). Corpus stats
    (N, Σdl, per-term df) fold to ONE row that re-enters via
    broadcast; the top-k is ``orderBy().limit()`` =
    ``TakeOrderedAndProject`` (each task keeps k rows; no
    SinglePartition sort). The projection subtree is read twice
    (stats + scoring) — both are pushdown-pruned scans of (id, text)
    only.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")

    # NB: the per-term filter lambdas close over `w` but F.filter
    # BUILDS the expression immediately inside the comprehension, so
    # Python late binding never bites; the outer body keeps arity 1
    # (a 2-arg lambda would be read as (element, index) by the HOFs)
    def _counts_body(t):
        return F.struct(
            F.size(t).cast("long").alias("dl"),
            *[
                F.size(F.filter(t, lambda x: x == F.lit(w)))
                .cast("long")
                .alias(f"tf{i}")
                for i, w in enumerate(terms)
            ],
        )

    packed = docs.select(
        F.col(id_col).alias("doc_id"),
        TX.let_bind(TX.tokens(text_col), _counts_body).alias("_o"),
    )
    proj = packed.select(
        "doc_id",
        F.col("_o.dl").alias("_dl"),
        *[F.col(f"_o.tf{i}").alias(f"_tf{i}") for i in range(len(terms))],
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = proj.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df_t = F.col(f"_df{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("_n") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl") / avgdl
        )
        score = score + F.when(
            F.col(f"_tf{i}") > 0, idf * tf * F.lit(k1 + 1.0) / norm
        ).otherwise(F.lit(0.0))
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


#: pagerank's driver gate (the ``dedup.CC_DRIVER_MAX_EDGES`` bound
#: applied to the rank fixpoint): at or below this many pairs the edge
#: list (≈ 32 MB at the bound) is collected and the integer recurrence
#: runs vectorized on the driver; above it the distributed loop never
#: touches the driver.
PR_DRIVER_MAX_EDGES = 2_000_000
#: Largest accepted ``unit``: every intermediate of the recurrence
#: (``unit·15``, ``85·Σcontrib`` with Σcontrib ≤ unit) stays below
#: 2^63 on both sides of the gate.
PR_MAX_UNIT = 10**15

_INT_DTS = ("tinyint", "smallint", "int", "bigint")


def _pagerank_driver(spark, tbl, iters: int, unit: int, out_dt: str) -> DataFrame:
    """Driver replica of :func:`pagerank`'s integer fixpoint for the
    gated side. ``tbl``: a pyarrow table of (src, dst) pairs; ``out_dt``
    the Spark int dtype of the id column (the distributed side's
    union-widened type, so the gate is schema-invisible).

    Exactness: the distributed rounds are int64 ``DIV`` on non-negative
    operands throughout (contribution ``r DIV deg``, update
    ``(unit*15) DIV (100*n) + (85*s) DIV 100``), so numpy ``//`` over
    the same edge multiset reproduces every bit; message sums use
    ``np.add.reduceat`` segments (int64, no float accumulator)."""
    import numpy as np
    import pyarrow as pa

    _pa_int = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
    }
    out_type = _pa_int[out_dt]
    a = tbl.column("src").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    b = tbl.column("dst").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if len(a) == 0:
        empty = pa.table(
            {"id": pa.array([], type=out_type), "rank_fp": pa.array([], type=pa.int64())}
        )
        return spark.createDataFrame(empty)
    # und = e ∪ reversed(e); node universe and dst-side degree exactly as
    # the distributed window pass derives them (duplicates/self-loops
    # count identically)
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    ids, dst_inv, deg = np.unique(dst, return_inverse=True, return_counts=True)
    n = int(len(ids))
    src_inv = np.searchsorted(ids, src)
    order = np.argsort(dst_inv, kind="stable")
    src_by_dst = src_inv[order]
    deg_src = deg[src_by_dst].astype(np.int64)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(deg)[:-1]
    r = np.full(n, unit // n, dtype=np.int64)
    base = (unit * 15) // (100 * n)
    for _ in range(iters):
        contrib = r[src_by_dst] // deg_src
        s = np.add.reduceat(contrib, starts)
        r = base + (85 * s) // 100
    out = pa.table(
        {"id": pa.array(ids, type=out_type), "rank_fp": pa.array(r, type=pa.int64())}
    )
    return spark.createDataFrame(out)


def pagerank(
    pairs: DataFrame,
    iters: int = 5,
    a_col: str = "id_a",
    b_col: str = "id_b",
    unit: int = PR_UNIT,
) -> DataFrame:
    """Fixed-point PageRank (damping 0.85, ``iters`` synchronous
    rounds) over an undirected pair graph — centrality for picking the
    canonical representative of a near-dup cluster. Returns
    (id, rank_fp) with rank in micro-units of ``unit`` (1.0 ≡ unit).

    Exactness contract: ranks live in int64 micro-units; the
    per-neighbor contribution is ``r DIV deg`` and the damped update
    is ``base + (85·Σcontrib) DIV 100`` — every step integer, so the
    aggregation's partial-sum order (executor count, AQE coalescing)
    cannot move a single bit, and the DuckDB oracle unrolls the same
    recurrence to byte-identical values. The classic double-precision
    form would differ in ulps per engine/partitioning and is exactly
    what this avoids (same discipline as ``sampling.weighted_sample``).

    Scale shape: the symmetric edge list is pinned once with the
    DESTINATION node's degree attached by one window pass, so the
    upstream candidate build (LSH join) is not re-run per iteration
    and each round is exactly one broadcast-able hash join (rank
    table keyed by node) plus one integer-sum groupBy (the degree
    rides along with the rank, so no per-round degree re-join). The
    boundary is ``cache.cut`` (localCheckpoint), NOT ``cache.keep``
    (persist), deliberately — measured 21 → 14 exec jobs / warm exec
    −40 % over keep, checksum bit-identical. The mechanism is plan
    truncation, not partitioning: a checkpoint's ExistingRDD reports
    UnknownPartitioning (verified in-plan; neither eager nor lazy
    localCheckpoint preserves the window's dst-partitioning in
    Spark 4.x), but each round's subtree becomes one opaque
    LogicalRDD scan instead of re-referencing the persisted plan's
    whole defining tree, collapsing per-round Catalyst analysis and
    the per-consumer AQE stage-job cascade a TableCacheQueryStage
    pays. At runtime AQE broadcasts the node-scale rank table into
    every round's join (final executed plan at sf0.1: 5 of 5 rounds
    BroadcastHashJoin), so the checkpointed edge bytes are NEVER
    shuffled per round — the only per-round exchange carries
    map-side-partial integer sums at node scale, the minimum the
    message aggregation fundamentally requires. (A per-ROUND cut of
    the rank table was measured and REJECTED: ``localCheckpoint`` on
    an AQE plan materializes its shuffle stages eagerly, serializing
    every round into the driver-side build — 5.5 s vs 3.0 s at
    sf0.1.) Isolated nodes are not ranked (every node in a pair has
    degree ≥ 1, so every node receives messages each round — no
    dangling-mass term).

    Driver gate (:func:`cache.collect_if_small`): at most
    ``PR_DRIVER_MAX_EDGES`` pairs, integer ids and no NULL id — the
    whole fixpoint runs vectorized on the driver (see :func:`_pagerank_driver`)
    and replants as a LocalTableScan, skipping all ``iters`` join+agg
    rounds. Either side executes the pair chain exactly once and
    returns the same bits and schema (pinned by test). ``unit`` must
    satisfy 0 < unit ≤ ``PR_MAX_UNIT`` so neither side can overflow
    int64; anything else raises ``ValueError``.
    """
    if not 0 < unit <= PR_MAX_UNIT:
        raise ValueError(f"pagerank: unit must be in (0, {PR_MAX_UNIT}], got {unit}")
    dts = dict(pairs.dtypes)
    e, tbl = cache.collect_if_small(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
        PR_DRIVER_MAX_EDGES,
    )
    if (
        tbl is not None
        and dts[a_col] in _INT_DTS
        and dts[b_col] in _INT_DTS
        and tbl["src"].null_count == 0
        and tbl["dst"].null_count == 0
    ):
        # the distributed union widens src/dst to the wider input int
        # type; emit the same so the gate never flips schema
        common_dt = max(dts[a_col], dts[b_col], key=_INT_DTS.index)
        return _pagerank_driver(pairs.sparkSession, tbl, iters, unit, common_dt)
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # one exchange by dst attaches the receiving node's degree to
    # every edge; the cut truncates the plan so each round re-analyzes
    # one opaque scan, not the whole defining tree (see docstring for
    # the measured cut-vs-keep A/B and the runtime plan shape)
    und = cache.cut(
        und.withColumn(
            "dst_deg", F.count(F.lit(1)).over(Window.partitionBy("dst"))
        )
    )
    # a node's own out-degree = its count on the dst side (undirected)
    deg = und.groupBy("dst").agg(F.first("dst_deg").alias("deg"))
    n1 = deg.agg(F.count(F.lit(1)).alias("_n"))
    # the initial rank is unit DIV N for every node; carry deg alongside
    # the rank so each iteration's contribution needs no extra join
    ranks = deg.crossJoin(F.broadcast(n1)).select(
        F.col("dst").alias("id"),
        F.expr(f"CAST({unit} AS BIGINT) DIV _n").alias("r"),
        "deg",
        "_n",
    )
    for _ in range(iters):
        msgs = und.join(ranks, und["src"] == ranks["id"]).select(
            F.col("dst").alias("_to"),
            F.expr("r DIV deg").alias("_c"),
            F.col("_n"),
            F.col("dst_deg"),
        )
        nxt = msgs.groupBy("_to").agg(
            F.sum("_c").alias("_s"),
            F.first("_n").alias("_n"),
            F.first("dst_deg").alias("deg"),
        )
        ranks = nxt.select(
            F.col("_to").alias("id"),
            (
                F.expr(f"(CAST({unit} AS BIGINT) * 15) DIV (100 * _n)")
                + F.expr("(85 * _s) DIV 100")
            ).alias("r"),
            "deg",
            "_n",
        )
    return ranks.select("id", F.col("r").alias("rank_fp"))


def central_reps(
    pairs: DataFrame,
    iters: int = 5,
    a_col: str = "id_a",
    b_col: str = "id_b",
    unit: int = PR_UNIT,
) -> DataFrame:
    """Canonical-representative election by centrality: connected
    components over the near-dup pair graph, one representative per
    cluster — the node with the HIGHEST PageRank (lowest id on exact
    ties), not an arbitrary min-id. In a boilerplate chain the center
    page is the best exemplar of the cluster; min-id picks whichever
    crawled first. Returns (cluster_id, rep_id, rank_fp).

    Plan: the pair list is lineage-cut once (ids only — scalar columns)
    and feeds both the component labeling (``dedup_clusters`` — driver
    union-find below its edge gate, distributed min-label above) and
    the integer PageRank; the election is one per-cluster
    ``row_number() = 1`` (WindowGroupLimit). Exact end-to-end: CC
    labels and fixed-point ranks are integers, the tie-break total."""
    from . import dedup as DD

    e = cache.cut(
        pairs.select(F.col(a_col).alias("doc_a"), F.col(b_col).alias("doc_b"))
    )
    pr = pagerank(e, iters=iters, a_col="doc_a", b_col="doc_b", unit=unit)
    comp = DD.dedup_clusters(e, None, id_col="id")
    j = comp.join(pr, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank_fp").desc(), F.col("id").asc()
    )
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("cluster_id", F.col("id").alias("rep_id"), "rank_fp")
    )


def _lexical_weights(
    docs: DataFrame,
    scale: int = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The (doc, h, wq) integer TF·IDF weight table every lexical
    consumer folds over — UNcut; callers decide the storage boundary
    (``tfidf_topk`` lineage-cuts it per session,
    :func:`materialize_lexical_weights` persists it)."""
    t = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(TX.tokens(text_col)).alias("_tok"),
    ).select("doc", F.xxhash64(F.col("_tok")).alias("h"))
    tf = t.groupBy("doc", "h").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc",
            "h",
            F.floor(
                F.lit(float(scale)) * F.col("tf") * F.col("n_total") / F.col("df")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wq"),
        )
    )


def materialize_lexical_weights(
    docs: DataFrame,
    path: str,
    scale: int = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> None:
    """Persist the TF·IDF weight table once so every subsequent query
    skips the corpus tokenize+count build entirely — the
    ``bars_io.materialize_time_bars`` pattern applied to retrieval
    (build the index at ingest, query it many times). Weights are
    hash-repartitioned by token key before the write so each file
    holds a token range; at real scale write with ``bucketBy("h")``
    into a table so the token-keyed probe join co-locates without an
    exchange. The stored rows are the EXACT integer weights the inline
    build derives — any consumer fed :func:`read_lexical_weights`
    returns bit-identical results to the inline form (pinned by
    test).

    ``n_partitions=None`` (default): repartition by the token key
    WITHOUT a fixed count so AQE sizes the output files by bytes
    (guide: coalesce on write, aim for fewer well-sized files) — the
    fixed 32 wrote 32 tiny files at bench scale and is the wrong
    constant at any other scale; pass an explicit count only when the
    downstream layout demands it."""
    w = _lexical_weights(docs, scale, text_col, id_col)
    w = w.repartition("h") if n_partitions is None else w.repartition(n_partitions, "h")
    w.write.mode("overwrite").parquet(path)


def read_lexical_weights(spark, path: str) -> DataFrame:
    """Read a :func:`materialize_lexical_weights` table for the
    ``weights=`` parameter of :func:`tfidf_topk`."""
    return spark.read.parquet(path)


def tfidf_topk(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 20,
    scale: int = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
) -> DataFrame:
    """Lexical more-like-this retrieval: TF·IDF cosine of each query
    DOCUMENT against the corpus, top-k per query — the lexical half of
    hybrid search (the pairwise ``tfidf_cosine_pairs`` machinery turned
    into a query-vs-corpus ranker).

    Exactness: the same integer-quantized rational weights and exact
    decimal dot/norm folds as the pairwise form (order-free exact sums,
    one terminal sqrt/divide); ranking is (cosine desc, cand asc) over
    bit-identical doubles. The token KEY is ``F.xxhash64(token)`` —
    legitimate because the key never reaches the output: weights depend
    only on (tf, N, df) and the key is pure join identity, so ANY
    injective token→key map yields identical cosines while the oracle
    keys on the raw token string (a per-char poly-hash key would pay an
    interpreted fold per token — ~0.2 s of the hybrid_search constant —
    for an identity the native hash provides for free).

    Scale shape: weights build once (lineage-cut — three consumers),
    the |queries|·avg_doc_len query side broadcasts into a token-keyed
    join, the per-doc norm table broadcasts into both norm re-joins
    (corpus-row-count scale — no exchange for the final assembly), and
    the top-k rides WindowGroupLimit. (A pivoted one-aggregate variant
    — per-doc norm + all |queries| dots in one groupBy — was A/B'd at
    1.2× SLOWER than this join form and rejected; the wide decimal agg
    cost more than the small stages it removed.)"""
    # df via a count window over h instead of groupBy(h)+join: one
    # exchange of the token table and NO second join side (the join
    # form re-exchanges tf by h AND sorts both SMJ sides at scale);
    # identical integer counts, A/B bit-equal. With a pre-materialized
    # ``weights`` table (the production path) the whole corpus build —
    # and its lineage cut — disappears from the query.
    # cache.cut, not keep: with materialization paid inside the timed
    # region the checkpoint write beats the columnar persist on
    # hybrid_search (0.92 vs 1.38 s)
    w = (
        weights
        if weights is not None
        else cache.cut(_lexical_weights(docs, scale, text_col, id_col))
    )
    norms = w.groupBy("doc").agg(
        F.sum(F.col("wq").cast("decimal(19,0)") * F.col("wq")).alias("n2")
    )
    qw = w.where(F.col("doc").isin(query_ids)).select(
        F.col("doc").alias("query_id"), "h", F.col("wq").alias("qwq")
    )
    dots = (
        w.join(F.broadcast(qw), "h")
        .where(F.col("query_id") != F.col("doc"))
        .groupBy("query_id", "doc")
        .agg(F.sum(F.col("wq").cast("decimal(19,0)") * F.col("qwq")).alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.withColumnRenamed("doc", "query_id").withColumnRenamed("n2", "qn2")
            ),
            "query_id",
        )
        .join(F.broadcast(norms), "doc")
        .select(
            "query_id",
            F.col("doc").alias("cand_id"),
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double")))
            ).alias("cos_sim"),
        )
    )
    wn = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rank", F.row_number().over(wn).cast("long")).where(
        F.col("rank") <= k
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    c: int = 60,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    retrievals: rrf(d) = Σ_sides 1/(c + rank_side(d)), candidates
    missing from a side contribute 0 from it — the standard
    score-free hybrid-search combiner (lexical + semantic lists fuse
    without calibrating incomparable scores).

    Determinism: both inputs carry INTEGER ranks; the fused score is
    one fixed float expression over them (identical doubles in both
    engines) and ties break on the candidate id. The fuse is a union +
    per-(query, candidate) sum over two ≤k-row-per-query lists —
    output-scale at any corpus size (a full-outer join form would
    exchange BOTH sides by (q, d) and then re-exchange by q for the
    rank window — 3 exchanges; union+groupBy is 2, and two-term double
    addition is commutative so the fused scores are bit-identical)."""
    per_side = F.lit(1.0) / (
        F.lit(float(c)) + F.col(rank_col).cast("double")
    )
    u = ranked_a.select(
        F.col(query_col).alias("q"), F.col(cand_col).alias("d"), per_side.alias("s")
    ).unionByName(
        ranked_b.select(
            F.col(query_col).alias("q"), F.col(cand_col).alias("d"), per_side.alias("s")
        )
    )
    scored = u.groupBy("q", "d").agg(F.sum("s").alias("rrf"))
    wn = Window.partitionBy("q").orderBy(F.col("rrf").desc(), F.col("d"))
    return (
        scored.withColumn("rank", F.row_number().over(wn).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("q").alias(query_col),
            F.col("d").alias(cand_col),
            "rrf",
            "rank",
        )
    )
