"""Unit tests for the retrieval tier: inverted index, BM25 top-k,
integer fixed-point PageRank — hand-computed references on tiny
in-memory corpora plus the plan shapes the docstrings promise."""

from __future__ import annotations

import math

import pytest

from finmlkit_spark.operators import retrieval as RT

DOCS = [
    (0, "the cat sat"),
    (1, "the cat"),
    (2, "dog"),
    (3, "the dog ran the race"),
    (4, ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_inverted_index_counts_and_postings(docs_df):
    rows = {
        r["token"]: r
        for r in RT.inverted_index(docs_df, postings_cap=32).collect()
    }
    # empty doc 4 contributes nothing (its single '' token is filtered)
    assert set(rows) == {"the", "cat", "sat", "dog", "ran", "race"}
    assert rows["the"]["df"] == 3 and rows["the"]["total_tf"] == 4
    assert rows["the"]["postings"] == "0,1,3"
    assert rows["cat"]["df"] == 2 and rows["cat"]["total_tf"] == 2
    assert rows["dog"]["postings"] == "2,3"
    assert rows["sat"]["df"] == 1 and rows["sat"]["postings"] == "0"


def test_inverted_index_cap_keeps_smallest_ids_but_full_counts(docs_df):
    rows = {
        r["token"]: r
        for r in RT.inverted_index(docs_df, postings_cap=1).collect()
    }
    # df/total_tf count EVERY doc; only the champion list is capped
    assert rows["the"]["df"] == 3 and rows["the"]["total_tf"] == 4
    assert rows["the"]["postings"] == "0"
    assert rows["dog"]["postings"] == "2"


def _bm25_reference(terms, k1=1.2, b=0.75):
    toks = [t.split() if t else [""] for _, t in DOCS]
    # Spark's split(trim('')) yields [''] — one empty token; the scorer
    # sees dl=1, tf=0 for every real term, score 0
    dls = [len(t) for t in toks]
    n = len(DOCS)
    avgdl = sum(dls) / n
    out = {}
    for doc_id, _ in DOCS:
        s = 0.0
        for w in terms:
            tf = toks[doc_id].count(w)
            if tf == 0:
                continue
            df = sum(1 for t in toks if w in t)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dls[doc_id] / avgdl))
        out[doc_id] = s
    return out


def test_bm25_scores_match_reference(docs_df):
    got = RT.bm25_topk(docs_df, ["cat", "dog"], k=5).collect()
    want = _bm25_reference(["cat", "dog"])
    order = sorted(want, key=lambda d: (-want[d], d))
    assert [r["doc_id"] for r in got] == order
    for r in got:
        assert r["score"] == pytest.approx(want[r["doc_id"]], abs=1e-12)


def test_bm25_tie_breaks_by_doc_id(spark):
    # identical docs tie exactly; ascending doc_id decides the cut
    df = spark.createDataFrame(
        [(i, "x y") for i in range(6)] + [(9, "z")], ["doc_id", "text"]
    )
    got = [r["doc_id"] for r in RT.bm25_topk(df, ["x"], k=3).collect()]
    assert got == [0, 1, 2]


def _pagerank_reference(pairs, iters=5, unit=RT.PR_UNIT):
    und = {}
    for a, b in pairs:
        und.setdefault(a, []).append(b)
        und.setdefault(b, []).append(a)
    n = len(und)
    deg = {u: len(vs) for u, vs in und.items()}
    r = {u: unit // n for u in und}
    base = (unit * 15) // (100 * n)
    for _ in range(iters):
        s = {u: 0 for u in und}
        for u, vs in und.items():
            c = r[u] // deg[u]
            for v in vs:
                s[v] += c
        r = {u: base + (85 * s[u]) // 100 for u in und}
    return r


def test_pagerank_path_graph_exact(spark):
    # path 1-2-3: the center accumulates from both leaves; all values
    # must match the integer recurrence bit-for-bit
    pairs = [(1, 2), (2, 3)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["id"]: r["rank_fp"] for r in RT.pagerank(df).collect()}
    want = _pagerank_reference(pairs)
    assert got == want
    assert got[2] > got[1] == got[3]


def test_pagerank_disjoint_pairs_uniform(spark):
    pairs = [(1, 2), (5, 9)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["id"]: r["rank_fp"] for r in RT.pagerank(df).collect()}
    assert got == _pagerank_reference(pairs)
    assert len(set(got.values())) == 1  # symmetric graph -> equal ranks


def test_pagerank_driver_distributed_parity(spark, gate_sides):
    # the driver gate must be bit-identical to the distributed fixpoint
    # on a messy graph: duplicate edges (weight by repetition), a
    # self-loop, skewed degrees, int ids far apart
    import random

    rng = random.Random(14)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(300)]
    edges += [(7, 7), (0, 59), (0, 59), (1_000_003, 2)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    drv, dist = gate_sides(
        lambda: {r["id"]: r["rank_fp"] for r in RT.pagerank(df).collect()}
    )
    assert drv == dist
    assert drv == _pagerank_reference(edges)


def test_pagerank_driver_gate_schema_and_empty(spark, gate_sides):
    # the gate is schema-invisible: int inputs widen to the wider type
    # on both sides; an empty edge list returns an empty, well-typed frame
    def run(df):
        got = RT.pagerank(df)
        return got.schema.simpleString(), sorted(map(tuple, got.collect()))

    df = spark.createDataFrame([(1, 2)], "id_a int, id_b bigint")
    drv, dist = gate_sides(lambda: run(df))
    assert drv == dist
    empty = spark.createDataFrame([], "id_a long, id_b long")
    drv, dist = gate_sides(lambda: run(empty))
    assert drv == dist
    assert drv == ("struct<id:bigint,rank_fp:bigint>", [])


def test_pagerank_unit_bounds_both_sides(spark, gate_sides, monkeypatch):
    # 0 < unit <= PR_MAX_UNIT keeps every intermediate inside int64: both
    # sides agree at the edge value and reject the same values outside it
    from finmlkit_spark import cache

    pairs = [(1, 2), (2, 3)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    drv, dist = gate_sides(
        lambda: {r["id"]: r["rank_fp"] for r in RT.pagerank(df, unit=RT.PR_MAX_UNIT).collect()}
    )
    assert drv == dist == _pagerank_reference(pairs, unit=RT.PR_MAX_UNIT)
    for forced in (False, True):
        monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", forced)
        for bad in (0, -1, RT.PR_MAX_UNIT + 1, 2**62):
            with pytest.raises(ValueError, match="unit"):
                RT.pagerank(df, unit=bad)


def test_pagerank_string_ids_take_distributed_side(spark):
    # string ids fail the driver fixpoint's dtype check: the operator
    # continues from the gate's cut with the same integer recurrence
    from pyspark.sql import functions as F

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    sdf = df.select(*(F.format_string("n%d", c).alias(c) for c in ("id_a", "id_b")))
    got = {r["id"]: r["rank_fp"] for r in RT.pagerank(sdf).collect()}
    assert got == {"n%d" % k: v for k, v in _pagerank_reference(pairs).items()}


def test_bm25_plan_is_take_ordered(spark):
    from finmlkit_spark.suite import QUERIES

    df = QUERIES["bm25_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # the only SinglePartition is the one-row corpus-stats aggregate
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_central_reps_elects_center_not_min_id(spark):
    # path 5-2-9: node 2 (the center) has the highest rank; min-id
    # would pick 2 here too, so ALSO test path 1-7-3 where the center
    # is 7 but the min id is 1 — centrality must beat crawl order
    pairs = [(5, 2), (2, 9), (1, 7), (7, 3)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["cluster_id"]: r["rep_id"] for r in RT.central_reps(df).collect()}
    assert got == {2: 2, 1: 7}


def test_central_reps_tie_breaks_by_id(spark):
    # disjoint pair: both nodes tie exactly (symmetric) -> lower id wins
    df = spark.createDataFrame([(8, 4)], ["id_a", "id_b"])
    rows = RT.central_reps(df).collect()
    assert len(rows) == 1 and rows[0]["rep_id"] == 4 and rows[0]["cluster_id"] == 4


def test_event_funnel_strict_ordering(spark, tmp_path):
    """A click BEFORE the first view must not count; one at the same
    timestamp must not count (strict >); later ones do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        # user 1: click before view -> reaches view only
        (1, 1, 1_000, "click"), (2, 1, 2_000, "view"),
        # user 2: full funnel in order
        (3, 2, 1_000, "view"), (4, 2, 2_000, "click"), (5, 2, 3_000, "purchase"),
        # user 3: click at the SAME us-floored ts as the view -> view only
        (6, 3, 5_000, "view"), (7, 3, 5_000, "click"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] * 1_000_000_000 for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    d = str(tmp_path / "ev")
    import os

    os.makedirs(d)
    pq.write_table(tbl, f"{d}/events.parquet")
    from finmlkit_spark.suite.multiuser_suite import event_funnel

    got = {r["step"]: r["n_users"] for r in event_funnel(spark, d).collect()}
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_stage_frames_not_pinned(spark):
    """r14 optimization guard (reverses the r13 pin): the funnel stage
    frames s1/s2 must NOT carry a persist boundary — under the honest
    bench harness the user-scale materialization round-trip loses to
    re-running the event-scale stage aggregates on idle cores
    (event_funnel keep 0.45 s vs unpinned 0.39 s; the driver's r13
    bench showed the same regression 0.41 -> 0.56 s). Pins the
    decision structurally: neither query's optimized plan references a
    persisted relation, and nothing was registered with the cache
    registry."""
    from finmlkit_spark import cache
    from finmlkit_spark.suite.multiuser_suite import event_funnel, funnel_latency

    sf = "/root/testdata/sf0.001"
    cache.release_all()  # drain frames registered by earlier tests
    try:
        for q in (event_funnel, funnel_latency):
            plan = q(spark, sf)._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" not in plan, (
                "funnel stage frames grew a persist boundary again:\n" + plan[:2000]
            )
    finally:
        released = cache.release_all()
    assert released == 0  # nothing registered by the funnel queries


def test_cohort_retention_offsets(spark, tmp_path):
    """Two users: one active on days 0 and 2 (same cohort, offsets 0
    and 2), one active on day 1 only."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    DAY = 86_400_000_000_000
    rows = [
        (1, 10, 0), (2, 10, 2 * DAY), (3, 10, 2 * DAY + 5),
        (4, 20, 1 * DAY),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    d = str(tmp_path / "ev2")
    os.makedirs(d)
    pq.write_table(tbl, f"{d}/events.parquet")
    from finmlkit_spark.suite.multiuser_suite import cohort_retention

    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in cohort_retention(spark, d).collect()
    }
    assert got == {(0, 0): 1, (0, 2): 1, (1, 0): 1}


def test_rrf_fuse_semantics(spark):
    """RRF on crafted rank lists: a candidate ranked well by BOTH sides
    beats single-side leaders; one-sided candidates score exactly
    1/(60+rank); exact ties break on the candidate id."""
    from finmlkit_spark.operators import retrieval as RT

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, cand_id long, rank long"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (0, 12, 3)], "query_id long, cand_id long, rank long"
    )
    out = {r["cand_id"]: r for r in RT.rrf_fuse(a, b, k=10).collect()}
    # 11: 1/62 + 1/61; 12: 1/63 + 1/63; 10: 1/61; 13: 1/62
    assert out[11]["rank"] == 1
    assert out[11]["rrf"] == 1.0 / 62.0 + 1.0 / 61.0
    assert out[10]["rrf"] == 1.0 / 61.0
    assert out[13]["rrf"] == 1.0 / 62.0
    assert out[12]["rrf"] == 1.0 / 63.0 + 1.0 / 63.0
    # 12's double-mediocre beats both single-siders
    assert out[12]["rank"] == 2
    # exact tie: two one-sided candidates at the same rank
    c = spark.createDataFrame([(0, 20, 1)], "query_id long, cand_id long, rank long")
    d = spark.createDataFrame([(0, 21, 1)], "query_id long, cand_id long, rank long")
    tied = RT.rrf_fuse(c, d, k=10).collect()
    assert [(r["cand_id"], r["rank"]) for r in sorted(tied, key=lambda r: r["rank"])] == [
        (20, 1),
        (21, 2),
    ]


def test_tfidf_topk_retrieves_near_duplicate(spark):
    """A near-verbatim copy of the query document must rank first."""
    from finmlkit_spark.operators import retrieval as RT

    rows = [
        (0, "the rare quick zebra jumps over rare fences"),
        (1, "the rare quick zebra jumps over rare fences indeed"),
        (2, "completely different words about cooking pasta tonight"),
        (3, "another unrelated piece mentioning databases and queries"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = RT.tfidf_topk(df, [0], k=3).collect()
    assert out[0]["cand_id"] == 1 and out[0]["rank"] == 1
    assert out[0]["cos_sim"] > 0.8


def test_tfidf_topk_materialized_weights_bit_identical(spark, tmp_path):
    """The production index path: materialize the TF·IDF weight table
    once, feed it back via weights= — results must equal the inline
    corpus build bit-for-bit (same integer weights, same ratios)."""
    from finmlkit_spark.operators import retrieval as RT
    from finmlkit_spark.suite.text_suite import _docs

    docs = _docs(spark, "/root/testdata/sf0.001")
    qids = [0, 1, 2]
    path = str(tmp_path / "lexw")
    RT.materialize_lexical_weights(docs, path)
    w = RT.read_lexical_weights(spark, path)
    inline = RT.tfidf_topk(docs, qids, k=10).collect()
    stored = RT.tfidf_topk(docs, qids, k=10, weights=w).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    a = sorted(((r["query_id"], r["rank"], r["cand_id"], r["cos_sim"]) for r in inline))
    b = sorted(((r["query_id"], r["rank"], r["cand_id"], r["cos_sim"]) for r in stored))
    assert a == b and len(a) == 30


def test_pagerank_materialized_edges_bit_identical(spark, tmp_path):
    """The dup-graph production path: materialize the SimHash near-dup
    edge list once, feed it to pagerank / central_reps — results must
    equal the inline edge build bit-for-bit (integer fixed-point ranks
    cannot hide a ulp)."""
    from finmlkit_spark.operators import dedup as D
    from finmlkit_spark.operators import retrieval as RT
    from finmlkit_spark.suite.text_suite import _docs

    docs = _docs(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "shedges")
    D.materialize_simhash_edges(docs, path)
    stored_edges = D.read_simhash_edges(spark, path).select("doc_a", "doc_b")
    inline_edges = D.simhash_near_pairs(docs).select("doc_a", "doc_b")

    pr_i = RT.pagerank(inline_edges, iters=5, a_col="doc_a", b_col="doc_b").collect()
    pr_s = RT.pagerank(stored_edges, iters=5, a_col="doc_a", b_col="doc_b").collect()
    a = sorted((r["id"], r["rank_fp"]) for r in pr_i)
    b = sorted((r["id"], r["rank_fp"]) for r in pr_s)
    assert a == b and len(a) > 0

    cr_i = RT.central_reps(inline_edges, iters=5, a_col="doc_a", b_col="doc_b").collect()
    cr_s = RT.central_reps(stored_edges, iters=5, a_col="doc_a", b_col="doc_b").collect()
    ca = sorted(tuple(r) for r in cr_i)
    cb = sorted(tuple(r) for r in cr_s)
    assert ca == cb and len(ca) > 0
