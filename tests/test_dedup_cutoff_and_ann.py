"""Frequent-shingle cutoff for n-gram Jaccard (bounded join fan-out on a
skewed corpus) and IVF-ANN recall vs the brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finmlkit_spark.operators import dedup as D


def _skewed_corpus(spark):
    """Every doc shares one boilerplate sentence (stop-shingles in all
    docs); near-dup pairs share unique content too."""
    boiler = "all rights reserved copyright notice applies here"
    rows = []
    for i in range(60):
        core = f"document {i} unique body text number {i} with words w{i} x{i} y{i} z{i}"
        rows.append((2 * i, f"{boiler} {core}"))
        # even docs get a near-duplicate twin (same core, tiny edit)
        rows.append((2 * i + 1, f"{boiler} {core} extra"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_cutoff_matches_exact_on_skewed_corpus(spark):
    docs = _skewed_corpus(spark)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cut = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=10).collect()
    }
    assert len(exact) >= 60  # every twin pair found by the exact path
    # the cutoff path finds the same pairs (twins share many rare
    # shingles) with IDENTICAL jaccard values (verification is exact)
    assert cut == exact


def test_ngram_cutoff_bounds_candidates(spark):
    docs = _skewed_corpus(spark)
    # boilerplate shingles appear in all 120 docs; with the cutoff they
    # must not generate candidates: two docs sharing ONLY boilerplate
    # never meet. Construct one such doc pair and assert it is absent
    # from candidates but present (below threshold) in the exact path.
    extra = spark.createDataFrame(
        [
            (1000, "all rights reserved copyright notice applies here aaa bbb ccc"),
            (1001, "all rights reserved copyright notice applies here ddd eee fff"),
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    cut = D.ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cut.where(F.col("doc_a") >= 1000).collect()}
    assert (1000, 1001) not in pairs  # only-boilerplate overlap dropped


def test_ann_ivf_recall_vs_brute(spark):
    from finmlkit_spark.suite import QUERIES

    sf = "/root/testdata/sf0.001"
    brute = QUERIES["ann_topk"](spark, sf).collect()
    ivf = QUERIES["ann_ivf"](spark, sf).collect()
    b = {}
    for r in brute:
        b.setdefault(r["query_id"], set()).add(r["cand_id"])
    v = {}
    for r in ivf:
        v.setdefault(r["query_id"], set()).add(r["cand_id"])
    assert b and v
    hits = tot = 0
    for q, cands in b.items():
        tot += len(cands)
        hits += len(cands & v.get(q, set()))
    recall = hits / tot
    # IVF nprobe=1 on random embeddings: recall floor documented by this
    # golden — regressions below it mean the bucketing broke
    assert recall >= 0.25, recall


def test_size_ratio_prefilter_preserves_results(spark):
    """The prefix-filtering size check must be invisible in results:
    bounded-path output on a size-DIVERSE corpus equals the unbounded
    brute path (which has no prefilter)."""
    texts = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        # widely varying lengths: 1x to 12x the base phrase
        reps = 1 + (i % 12)
        texts.append((i, " ".join([base] * reps) + f" tail{i % 5}"))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    bounded = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=64).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=None).collect()
    }
    assert bounded  # non-trivial corpus: repeated phrases produce pairs
    assert bounded == full


def _py_shingle_hashes(text: str, k: int = 3, mod: int = 1_000_000_007) -> list[int]:
    """Independent Python reference for text.shingle_hashes: per-token
    polynomial char hash, k-token fold, order-preserving distinct."""
    toks = text.strip().split()
    th = []
    for t in toks:
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % mod
        th.append(acc)
    if len(th) < k:
        return []
    out, seen = [], set()
    for i in range(len(th) - k + 1):
        acc = 0
        for j in range(k):
            acc = (acc * 31 + th[i + j]) % mod
        if acc not in seen:
            seen.add(acc)
            out.append(acc)
    return out


def test_shingle_hashes_match_python_reference(spark):
    """Locks the let-bound slice/zip_with shingle builder (SCALE.md
    lesson 1) to an independent per-char/per-token reference, covering
    the short-doc guard, distinct collapse, and whitespace trimming."""
    docs = [
        (0, ""),                               # empty -> no tokens
        (1, "one"),                            # below k
        (2, "two tokens only"),                # exactly k -> 1 shingle
        (3, "a b c a b c a b c"),              # repeated shingles collapse
        (4, "  padded   with   spaces  "),     # trim + multi-space split
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "x " * 50),                        # one distinct shingle from 48
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from finmlkit_spark.operators.dedup import shingle_hashes

    got = {
        r["doc_id"]: list(r["sh"])
        for r in df.select("doc_id", shingle_hashes("text").alias("sh")).collect()
    }
    for doc_id, text in docs:
        assert got[doc_id] == _py_shingle_hashes(text), f"doc {doc_id}"


def test_random_projection_linearity_and_determinism(spark):
    """JL projection: deterministic across runs, linear in the input
    (projection of 2v equals 2*projection(v) up to the 1e-6 quantization
    of the doubled vector)."""
    import pandas as pd

    from finmlkit_spark.operators.similarity import random_projection

    v = [0.25 * ((i % 7) - 3) for i in range(64)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [v, [2 * x for x in v]]})
    )
    out = {r["vec_id"]: r["projection"] for r in random_projection(df, out_dim=8).collect()}
    out2 = {r["vec_id"]: r["projection"] for r in random_projection(df, out_dim=8).collect()}
    assert out == out2  # deterministic
    for a, b in zip(out[1], out[2]):
        assert abs(2 * a - b) < 1e-9, (a, b)
    assert any(abs(x) > 1e-6 for x in out[1])  # non-degenerate


def test_cosine_batch_bit_identical_to_hof_fold(spark):
    """The Arrow pair-cosine (public utility for user pair stages) must
    reproduce the JVM higher-order fold bit-for-bit — its whole
    contract. No product query calls it since round 7's k-means
    rework, so this pins it against rot."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import similarity as SIM

    embs = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(64)
        .select(SIM.as_double("embedding").alias("v"))
    )
    pairs = embs.withColumn("_i", F.monotonically_increasing_id()).crossJoin(
        embs.select(F.col("v").alias("w")).limit(8)
    )
    out = pairs.select(
        SIM.cosine(F.col("v"), F.col("w")).alias("hof"),
        SIM.cosine_batch(F.col("v"), F.col("w")).alias("arrow"),
    ).collect()
    assert len(out) == 64 * 8
    for r in out:
        assert r["hof"] == r["arrow"], (r["hof"], r["arrow"])


def test_cosine_batch_null_vector_matches_hof(spark):
    """A NULL vector gives a NULL cosine row, as the HOF fold does,
    instead of failing the batch."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [3.0, 2.0, 1.0]), (None, [1.0, 0.0, 1.0])],
        "v array<double>, w array<double>",
    )
    out = df.select(
        SIM.cosine(F.col("v"), F.col("w")).alias("hof"),
        SIM.cosine_batch(F.col("v"), F.col("w")).alias("arrow"),
    ).collect()
    assert [r["hof"] for r in out] == [r["arrow"] for r in out]
    assert out[0]["arrow"] is not None and out[1]["arrow"] is None


def test_lsh_bucket_arrow_bit_identical_to_hof(spark):
    """lsh_bucket_arrow must produce the exact integer buckets of the
    JVM HOF form — same sequential projection fold, same weights, so
    the >=0 sign decisions land on identical bits."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    out = embs.select(
        "vec_id",
        SIM.lsh_bucket(F.col("v")).alias("hof"),
        SIM.lsh_bucket_arrow(F.col("v")).alias("arrow"),
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r["hof"] == r["arrow"], (r["vec_id"], r["hof"], r["arrow"])


def test_lsh_bucket_arrow_nan_and_empty_match_hof(spark):
    """Round-8 ADVICE parity: Spark SQL treats NaN >= 0 as TRUE (NaN sorts
    above all numbers) while numpy's comparison is False — the Arrow
    kernel must force the SQL semantics so NaN-component vectors bucket
    identically; and a zero-width vector must yield the HOF's bucket 0
    (NULL-padded fold -> when() otherwise-branch), not crash."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import similarity as SIM

    nan = float("nan")
    rows = [(i, [nan if j == i % 64 else 0.25 * j for j in range(64)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = df.select(
        "vec_id",
        SIM.lsh_bucket(F.col("v")).alias("hof"),
        SIM.lsh_bucket_arrow(F.col("v")).alias("arrow"),
    ).collect()
    assert len(out) == 8
    for r in out:
        assert r["hof"] == r["arrow"], (r["vec_id"], r["hof"], r["arrow"])

    empty = spark.createDataFrame([(0, []), (1, [])], "vec_id long, v array<double>")
    out2 = empty.select(
        SIM.lsh_bucket(F.col("v")).alias("hof"),
        SIM.lsh_bucket_arrow(F.col("v")).alias("arrow"),
    ).collect()
    for r in out2:
        assert r["hof"] == 0 and r["arrow"] == 0, r

    # NULL-component (and whole-NULL) vectors -> the HOF's inner fold
    # goes NULL and every plane's when() falls through, so the OUTER
    # plane fold accumulates 0 -> bucket 0 — mirrored by the Arrow
    # form's JVM guard
    nulls = spark.createDataFrame(
        [
            (0, [None if j == 7 else 0.5 * j for j in range(64)]),
            (1, None),
            (2, [1.0 * j for j in range(64)]),
        ],
        "vec_id long, v array<double>",
    )
    out3 = nulls.select(
        "vec_id",
        SIM.lsh_bucket(F.col("v")).alias("hof"),
        SIM.lsh_bucket_arrow(F.col("v")).alias("arrow"),
    ).collect()
    for r in out3:
        assert r["hof"] == r["arrow"], (r["vec_id"], r["hof"], r["arrow"])
    by_id = {r["vec_id"]: r for r in out3}
    assert by_id[0]["arrow"] == 0
    assert by_id[1]["arrow"] == 0


def test_saturating_int64_matches_spark_cast(spark):
    """_saturating_int64 must reproduce Spark's NON-ANSI CAST(double AS
    BIGINT) on every edge class: NaN, ±Inf, out-of-range FINITE doubles
    (where numpy astype wraps undefined), the exact ±2^63 boundary, and
    normal values. (Under Spark 4's default ANSI mode the SQL CAST
    raises on overflow — such inputs are documented-unsupported for the
    dual-mode operators; the shim guarantees the numpy side is
    deterministic saturation, pinned here against the legacy cast.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from finmlkit_spark.operators.similarity import _saturating_int64

    vals = [
        float("nan"), float("inf"), float("-inf"),
        1e19, -1e19, 9.3e18, -9.3e18,
        9.223372036854775808e18, -9.223372036854775808e18,
        9.2233720368547748e18,  # largest double below 2^63
        0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 123456.789, -9876543.21,
        2147483648.0, -2147483649.0, 4.611686018427388e18,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        spark_cast = [
            r["y"] for r in df.select(F.col("x").cast("long").alias("y")).collect()
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    ours = _saturating_int64(np.array(vals, dtype=np.float64)).tolist()
    assert ours == spark_cast, list(zip(vals, ours, spark_cast))


def test_pq_encode_and_adc_contract(spark):
    """PQ encode emits one m-wide code row per vector (map-only — the
    plan must contain no exchange); ann_pq_topk returns exactly k ranked
    rows per query with non-decreasing ADC distance and never the query
    itself."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = embs.count()
    enc = SIM.pq_encode(embs, m=8, ksub=16)
    rows = enc.collect()
    assert len(rows) == n
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # encode is map-only

    out = SIM.ann_pq_topk(embs, n_queries=6, k=4, m=8, ksub=16)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(6))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4]
        assert all(r["cand_id"] != qid for r in rs)
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)


def test_pq_trained_codebooks_reduce_distortion(spark):
    """pq_train_sampled's per-subspace L2 Lloyd must not INCREASE the
    mean quantization distortion vs the sampled (iters=0) codebooks —
    Lloyd iterations monotonically reduce within-cluster SSE on the
    training sample — and trained codebooks flow through pq_encode."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = np.array(
        [r["embedding"] for r in embs.orderBy("vec_id").collect()], dtype=np.float64
    )

    def distortion(books):
        tot = 0.0
        dsub = books[0].shape[1]
        for j, Cj in enumerate(books):
            Xj = X[:, j * dsub : (j + 1) * dsub]
            d = ((Xj[:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2)
            tot += d.min(axis=1).sum()
        return tot

    sampled = SIM.pq_codebooks(embs, m=8, ksub=16)
    trained = SIM.pq_train_sampled(embs, m=8, ksub=16, iters=5)
    assert len(trained) == 8 and all(c.shape[1] == 8 for c in trained)
    assert distortion(trained) <= distortion(sampled) + 1e-9
    enc = SIM.pq_encode(embs, m=8, ksub=16, codebooks=trained)
    assert enc.count() == len(X)


def test_pq_adc_approximates_true_l2_ranking(spark):
    """Recall sanity: for every query, the ADC top-1 must sit inside the
    TRUE-L2 top-30% of the corpus — PQ is approximate, but with 16 codes
    per 8-dim subspace the additive estimate cannot be arbitrarily bad
    on the synthetic near-orthogonal embeddings."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = np.array(
        [r["embedding"] for r in embs.orderBy("vec_id").collect()], dtype=np.float64
    )
    out = SIM.ann_pq_topk(embs, n_queries=5, k=1, m=8, ksub=16).collect()
    bound = max(2, int(0.3 * len(X)))
    for r in out:
        q = int(r["query_id"])
        d = ((X - X[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        true_rank = int((d < d[int(r["cand_id"])]).sum())
        assert true_rank <= bound, (q, r["cand_id"], true_rank)


def test_pq_no_codebook_vectors_returns_empty(spark):
    """Ids all >= ksub: no codebook vectors exist — ann_pq_topk degrades
    to an empty ranked frame (kmeans_assign's no-seed contract), never
    an executor crash in the LUT stage."""
    from finmlkit_spark.operators import similarity as SIM

    rows = [(100 + i, [float(i), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.ann_pq_topk(df, n_queries=200, k=3, m=2, ksub=16)
    assert out.count() == 0
    assert out.columns == ["query_id", "cand_id", "adc_dist", "rank"]


def test_probe_dim_keyed_by_column(spark):
    """The session dim cache must key by the embedding COLUMN — two
    different-width columns on one frame probe independently."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators.similarity import _probe_dim

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("narrow"),
        F.array(*[F.lit(float(i)) for i in range(5)]).alias("wide"),
    )
    assert _probe_dim(df, "narrow") == 2
    assert _probe_dim(df, "wide") == 5
    assert _probe_dim(df, "narrow") == 2  # cache hit, still correct


def test_ivf_pq_encode_contract(spark):
    """ivf_pq_encode = kmeans_assign ∘ pq_encode fused into ONE map-only
    pass: per row the cell must equal the standalone coarse assignment
    and the codes must equal the standalone PQ encode (same seeds /
    codebooks ⇒ same tie-breaks), and the plan must stay exchange-free."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    enc = SIM.ivf_pq_encode(embs, k_coarse=8, m=8, ksub=16)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # the composed encode is map-only

    got = {r["vec_id"]: (r["cell_id"], tuple(r["codes"])) for r in enc.collect()}
    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.kmeans_assign(
            embs, k=8, iters=0, seeds=SIM.kmeans_seeds(embs, 8)
        ).collect()
    }
    codes = {
        r["vec_id"]: tuple(r["codes"])
        for r in SIM.pq_encode(embs, m=8, ksub=16).collect()
    }
    assert set(got) == set(cells) == set(codes)
    for vid, (cell, cs) in got.items():
        assert cell == cells[vid], vid
        assert cs == codes[vid], vid


def test_ann_ivf_pq_full_probe_equals_pq_topk(spark):
    """With nprobe == k_coarse every query probes every coarse cell, so
    the IVF restriction admits the whole corpus and ann_ivf_pq must
    return EXACTLY ann_pq_topk's rows — same quantized ADC fold, same
    (dist ASC, cand_id ASC) tie-break, same ranks. This pins the probe
    ranking, the packed-LUT fold, and the rank ordering in one shot."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = sorted(
        map(tuple, SIM.ann_ivf_pq(embs, n_queries=6, k=4, k_coarse=8, nprobe=8).collect())
    )
    flat = sorted(map(tuple, SIM.ann_pq_topk(embs, n_queries=6, k=4).collect()))
    assert full == flat and len(full) == 24


def test_ann_ivf_pq_probe_restriction_and_plan(spark):
    """nprobe=1: every returned candidate must live in its query's ONE
    probed cell (max-cosine, lower-cid tie-break — the kmeans_assign
    rule), ranks must be 1..k' with non-decreasing distance, the query
    never returns itself, and the executed plan keeps the audited shape:
    zero single-partition exchanges, broadcast joins for probe + LUT,
    WindowGroupLimit for the top-k, no cartesian product."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = SIM.ann_ivf_pq(embs, n_queries=6, k=4, k_coarse=8, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert plan.count("BroadcastExchange") >= 2  # probe cells + packed LUT
    assert "WindowGroupLimit" in plan
    assert "Cartesian" not in plan

    enc = {
        r["vec_id"]: r["cell_id"]
        for r in SIM.ivf_pq_encode(embs, k_coarse=8, m=8, ksub=16).collect()
    }
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q
    for qid, rs in by_q.items():
        probed_cell = enc[qid]  # queries are corpus rows: cell = own assignment
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        for r in rs:
            assert r["cand_id"] != qid
            assert enc[r["cand_id"]] == probed_cell, (qid, r["cand_id"])


def test_ann_ivf_pq_lut_modes_bit_identical(spark):
    """The exploded long-format LUT fallback (for query batches too
    large to broadcast as packed per-query arrays) must be a pure
    physical change: both modes sum the SAME 1e-6-quantized int64
    partials, so rows are byte-identical. The auto gate keys on the
    n_queries scalar; the exploded plan must keep the broadcast-join
    shape (no cartesian, no single-partition exchange)."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    packed = SIM.ann_ivf_pq(embs, n_queries=6, k=4, nprobe=2, lut="packed")
    exploded = SIM.ann_ivf_pq(embs, n_queries=6, k=4, nprobe=2, lut="exploded")
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, exploded.collect())
    )
    plan = exploded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Cartesian" not in plan
    # the probe join stays an explicit broadcast; the LUT join carries
    # NO broadcast hint (that's the point of the fallback) — at this
    # tiny scale AQE may still broadcast-convert it, so only the probe
    # broadcast is pinned
    assert plan.count("BroadcastExchange") >= 1

    # the auto gate: packed up to the constant, exploded above it
    import pytest

    with pytest.raises(ValueError, match="packed"):
        SIM.ann_ivf_pq(embs, n_queries=6, lut="nonsense")
    old = SIM._IVFPQ_PACKED_MAX_QUERIES
    SIM._IVFPQ_PACKED_MAX_QUERIES = 3
    try:
        auto = SIM.ann_ivf_pq(embs, n_queries=6, k=4, nprobe=2, lut="auto")
        # above the gate the auto plan is the exploded shape: the
        # packed fold's zip_with never appears in it
        assert "zip_with" not in auto._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, packed.collect())
        )
    finally:
        SIM._IVFPQ_PACKED_MAX_QUERIES = old


def test_embedding_covariance_exact_vs_numpy(spark):
    """The Arrow Gram-partial covariance must equal a direct numpy
    replay of the same quantized math (bit-exact — integer sums are
    order-independent), be symmetric-complete (all j<=k pairs), and be
    partitioning-independent."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = {(r["dim_j"], r["dim_k"]): r["cov"]
           for r in SIM.embedding_covariance(embs).collect()}
    out7 = {(r["dim_j"], r["dim_k"]): r["cov"]
            for r in SIM.embedding_covariance(embs.repartition(7)).collect()}
    assert out == out7

    X = np.array([r["embedding"] for r in embs.collect()], dtype=np.float64)
    Q = np.floor(X * 1e6 + 0.5).astype(np.int64)
    n, d = Q.shape
    assert len(out) == d * (d + 1) // 2
    G = Q.T @ Q
    cs = Q.sum(axis=0)
    for (j, k), got in out.items():
        exp = (G[j, k] / n - (cs[j] / n) * (cs[k] / n)) / 1e12
        assert got == exp, (j, k, got, exp)


def test_ann_ivf_pq_with_trained_quantizers(spark):
    """The production FAISS shape — TRAINED coarse centroids
    (kmeans_centroids) and TRAINED codebooks (pq_train_sampled) through
    the same composed search: every query returns k ranked rows with
    non-decreasing distance, never itself, and every candidate's cell
    is one of the query's nprobe probed cells under the trained
    quantizer (the invariant that holds whatever the training did)."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = SIM.kmeans_centroids(embs, k=8, iters=2)
    books = SIM.pq_train_sampled(embs, m=8, ksub=16, iters=3)
    out = SIM.ann_ivf_pq(
        embs, n_queries=5, k=4, k_coarse=8, nprobe=2,
        seeds=seeds, codebooks=books,
    )
    enc = {
        r["vec_id"]: r["cell_id"]
        for r in SIM.ivf_pq_encode(
            embs, k_coarse=8, m=8, ksub=16, seeds=seeds, codebooks=books
        ).collect()
    }
    X = {r["vec_id"]: np.asarray(r["embedding"], float)
         for r in embs.where("vec_id < 5").collect()}
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for qid, rs in by_q.items():
        # probed cells: top-2 by cosine against the trained centroids
        v = X[qid]
        nv = np.sqrt((v * v).cumsum()[-1])
        sims = sorted(
            (
                (-(v * np.asarray(c, float)).cumsum()[-1] / (nv * cn), cid)
                for cid, c, cn in seeds
            )
        )[:2]
        probed = {cid for _, cid in sims}
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        for r in rs:
            assert r["cand_id"] != qid
            assert enc[r["cand_id"]] in probed, (qid, r["cand_id"])


def test_knn_graph_single_cell_equals_brute_force(spark):
    """With every vector in one k-means cell the cluster restriction is
    vacuous, so knn_graph must equal the exact brute-force ranking."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    rng = [
        (0, [1.0, 0.0, 0.0, 0.1]),
        (1, [0.9, 0.1, 0.0, 0.1]),
        (2, [0.0, 1.0, 0.0, 0.1]),
        (3, [0.0, 0.9, 0.2, 0.1]),
        (4, [0.5, 0.5, 0.5, 0.1]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rng],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["src_id"], r["rank"]): r["dst_id"]
        for r in SIM.knn_graph(df, k=1, iters=1, k_neighbors=2, dim=4).collect()
    }
    X = np.array([v for _, v in rng])
    nrm = np.sqrt((X * X).sum(axis=1))
    for i in range(len(rng)):
        sims = sorted(
            ((-(X[i] @ X[j]) / (nrm[i] * nrm[j]), j) for j in range(len(rng)) if j != i)
        )
        for rank, (_, j) in enumerate(sims[:2], 1):
            assert got[(i, rank)] == j, (i, rank, got.get((i, rank)), j)


def test_knn_graph_zero_norm_nan_ranks_first(spark):
    """Zero-norm vectors produce NaN cosines that must rank FIRST
    (ties by ascending dst id) — the declared oracle's row_number over
    ``cos_sim DESC`` semantics in both engines (DuckDB and Spark sort
    NaN above every number under DESC). Pins the r13 kernel's NaN
    contract called out in the r13 ADVICE."""
    import math

    from finmlkit_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm: NaN cosine vs everyone
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["src_id"], r["rank"]): (r["dst_id"], r["cos_sim"])
        for r in SIM.knn_graph(df, k=1, iters=1, k_neighbors=3, dim=4).collect()
    }

    def _nanish(x):
        # Arrow hands pandas-kernel NaN back to Spark as NULL (see the
        # verify-skill gotcha); both spellings mean "NaN cosine" here.
        return x is None or math.isnan(x)

    # every non-zero node's rank-1 neighbor is the NaN edge to node 2
    for src in (0, 1, 3):
        dst, cos = got[(src, 1)]
        assert dst == 2 and _nanish(cos), (src, dst, cos)
    # node 2 sees NaN against every candidate: ties break by dst asc
    assert [got[(2, r)][0] for r in (1, 2, 3)] == [0, 1, 3]
    assert all(_nanish(got[(2, r)][1]) for r in (1, 2, 3))


def test_diverse_sample_max_min_property(spark):
    """Every selected vector (after the seed) must be the point
    maximizing the min cosine distance to the prior selection —
    verified against an exhaustive python replay on the small table."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = sorted(
        (r["sel_order"], r["vec_id"], r["min_dist"])
        for r in SIM.diverse_sample(embs, k=5).collect()
    )
    V = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in embs.collect()
    }

    def cos(a, b):
        return float((a * b).cumsum()[-1]) / (
            np.sqrt((a * a).cumsum()[-1]) * np.sqrt((b * b).cumsum()[-1])
        )

    sel = [min(V)]
    want = [(1, sel[0], 0.0)]
    for order in range(2, 6):
        best = max(
            (min(1.0 - cos(V[i], V[s]) for s in sel), -i)
            for i in V
            if i not in sel
        )
        sel.append(-best[1])
        want.append((order, -best[1], best[0]))
    assert [(o, i) for o, i, _ in got] == [(o, i) for o, i, _ in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9)


def test_ann_sq8_route_crossover(spark, gate_sides):
    """ann_sq8_search's route: in auto at sf0.001 (far below
    ANN_IVF_MIN_ROWS) it must equal the exact full scan, forced to the
    scale side it must equal the IVF-restricted search, and the two
    sides must agree bit-for-bit on every (query, cand) pair they BOTH
    rank — same codes, same int64 distance fold; only top-k membership
    may differ (the IVF recall trade)."""
    import struct

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = lambda rows: sorted((r["query_id"], r["cand_id"], r["sq_dist"], r["rank"]) for r in rows)

    full, ivf = gate_sides(lambda: key(SIM.ann_sq8_search(embs, n_queries=5, k=4).collect()))
    assert full and ivf
    assert full == key(SIM.ann_sq8_topk(embs, n_queries=5, k=4).collect())
    assert ivf == key(SIM.ann_ivf_sq8(embs, n_queries=5, k=4).collect())

    # overlap bit-identity: shared (query, cand) pairs carry the same
    # sq_dist down to the float64 bit pattern
    fmap = {(q, c): d for q, c, d, _ in full}
    imap = {(q, c): d for q, c, d, _ in ivf}
    shared = set(fmap) & set(imap)
    assert shared, "IVF and full scan shared no pairs — test data degenerate"
    for p in shared:
        assert struct.pack("<d", fmap[p]) == struct.pack("<d", imap[p]), p


def test_diverse_sample_modes_bit_identical(spark, gate_sides):
    """diverse_sample's driver gate (numpy greedy steps over the
    collected table) and its distributed side (per-pass Arrow argmax)
    must yield byte-identical rows — same seeds, same sequential-fold
    cosines, same tie rules."""
    import struct

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    drv, dist = gate_sides(
        lambda: sorted(
            (r["sel_order"], r["vec_id"], struct.pack("<d", r["min_dist"]))
            for r in SIM.diverse_sample(embs, k=6).collect()
        )
    )
    assert drv == dist
    assert len(drv) == 6


def test_embedding_outliers_finds_injected_outlier(spark):
    """A vector displaced 50σ along one dim must rank #1 with a score
    dominated by that dim's z²; a constant (zero-variance) dim must
    contribute nothing rather than dividing by zero."""
    import numpy as np

    from finmlkit_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    base = rng.normal(0.0, 0.1, (100, 8))
    base[:, 3] = 0.25  # constant dim: variance 0 -> skipped
    base[42, 0] += 5.0  # ~50 sigma displacement
    rows = [(i, [float(x) for x in base[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.embedding_outliers(df, k=5).collect()
    assert out[0]["vec_id"] == 42 and out[0]["rank"] == 1
    assert out[0]["score"] > 4 * out[1]["score"]  # the outlier dominates
    # every score is finite (the zero-variance dim did not blow up)
    assert all(np.isfinite(r["score"]) for r in out)


def test_embedding_outliers_z2_cap(spark):
    """A near-zero-variance dim with one deviating row must saturate at
    the per-element cap instead of overflowing the integer sum."""
    from finmlkit_spark.operators import similarity as SIM

    rows = [(i, [1e-9 * (i % 2), 1.0]) for i in range(50)] + [(99, [5.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.embedding_outliers(df, k=3, z2_cap=1e6).collect()
    assert out[0]["vec_id"] == 99
    assert out[0]["score"] <= 2 * 1e6 + 1  # capped per element


def test_diverse_sample_string_ids_both_modes(spark, gate_sides):
    """The output schema is parameterized on the id column's dtype, so
    non-numeric ids must actually work. String ids must select the same
    VECTORS as the long-id run (ids map 1:1, zero-padded so
    lexicographic == numeric order) on both sides of the driver gate,
    byte-identical distances."""
    import struct

    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sembs = embs.select(
        F.format_string("doc-%06d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    base = sorted(
        (r["sel_order"], "doc-%06d" % r["vec_id"], struct.pack("<d", r["min_dist"]))
        for r in SIM.diverse_sample(embs, k=5).collect()
    )
    drv, dist = gate_sides(
        lambda: sorted(
            (r["sel_order"], r["vec_id"], struct.pack("<d", r["min_dist"]))
            for r in SIM.diverse_sample(sembs, k=5).collect()
        )
    )
    assert drv == dist == base
