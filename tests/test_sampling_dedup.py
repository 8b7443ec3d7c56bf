"""Unit tests for corpus sampling, sequence packing, and cluster dedup
(edge semantics the oracle queries can't isolate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from finmlkit_spark.operators import dedup as D
from finmlkit_spark.operators import sampling as SMP


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_sequence_packing_boundaries(spark):
    # budget 10: [4,6] exact fit stays; [4,7] overflows; a 25-token doc
    # gets its own pack and the walk continues after it
    rows = [
        (1, "a " * 4, "en", "s"),
        (2, "b " * 6, "en", "s"),   # 4+6 == 10 -> same pack
        (3, "c " * 7, "en", "s"),   # overflow -> pack 1
        (4, "d " * 25, "en", "s"),  # over budget alone -> pack 2
        (5, "e " * 2, "en", "s"),   # pack 3
    ]
    out = {
        r["doc_id"]: r["pack_id"]
        for r in SMP.sequence_packing(_docs_df(spark, rows), budget=10).collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_sequence_packing_groups_independent(spark):
    rows = [(i, "w " * 6, "en", f"s{i % 2}") for i in range(1, 7)]
    out = SMP.sequence_packing(_docs_df(spark, rows), budget=12).collect()
    per_group = {}
    for r in out:
        per_group.setdefault(r["group"], []).append((r["doc_id"], r["pack_id"]))
    for g, lst in per_group.items():
        lst.sort()
        assert [p for _, p in lst] == [0, 0, 1]  # each group packs from 0


def test_stratified_sample_counts_and_determinism(spark):
    rows = [(i, f"text number {i}", "en" if i % 2 else "de", "s") for i in range(100)]
    df = _docs_df(spark, rows)
    got = SMP.stratified_sample(df, n_per_stratum=10, strata_cols=["lang"])
    counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 10, "de": 10}
    ids1 = sorted(r["doc_id"] for r in got.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in SMP.stratified_sample(
            df.repartition(7), n_per_stratum=10, strata_cols=["lang"]
        ).collect()
    )
    assert ids1 == ids2  # content-keyed: stable under resharding


def test_hash_split_dup_texts_same_side(spark):
    rows = [(i, f"unique {i}", "en", "s") for i in range(50)]
    rows += [(100 + i, f"unique {i}", "en", "s") for i in range(50)]  # exact dups
    out = SMP.hash_split(_docs_df(spark, rows), test_permille=300)
    sides = {(r["doc_id"] % 100): set() for r in out.collect()}
    for r in out.collect():
        sides[r["doc_id"] % 100].add(r["split"])
    assert all(len(s) == 1 for s in sides.values())  # dup pairs never straddle
    labels = {r["split"] for r in out.collect()}
    assert labels == {"train", "test"}


def test_dedup_clusters_and_keep(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    docs = _docs_df(spark, [(i, f"t{i}", "en", "s") for i in [1, 2, 3, 5, 7, 9]])
    comp = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs, docs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}
    kept = D.keep_canonical(docs, pairs)
    assert kept.columns == docs.columns
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5, 7]
    # a NULL doc_id is in no cluster and is dropped
    with_null = docs.union(_docs_df(spark, [(None, "tn", "en", "s")]))
    assert sorted(r["doc_id"] for r in D.keep_canonical(with_null, pairs).collect()) == [1, 5, 7]


def test_dedup_clusters_long_chain(spark):
    # a path graph needs diameter iterations — exercise the loop
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    comp = D.dedup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in comp} == {1}
    assert len(comp) == n


def test_repetition_and_pii(spark):
    from finmlkit_spark.operators import text as TX

    rows = [
        (1, "spam spam spam spam spam", "en", "s"),        # all trigrams identical
        (2, "one two three four five", "en", "s"),          # no repetition
        (3, "mail me at bob@example.com or visit https://x.co/page 12345678901", "en", "s"),
        (4, "hi", "en", "s"),                               # too short for trigrams
    ]
    df = _docs_df(spark, rows)
    pii = TX.pii_counts()
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            TX.repetition_ratio(n=3).alias("rep3"),
            *[c.alias(k) for k, c in pii.items()],
        ).collect()
    }
    assert out[1]["rep3"] == 1.0 - 1.0 / 3.0  # 3 grams, 1 distinct
    assert out[2]["rep3"] == 0.0
    assert out[4]["rep3"] == 0.0
    assert (out[3]["n_emails"], out[3]["n_urls"], out[3]["n_long_nums"]) == (1, 1, 1)
    assert out[1]["n_emails"] == 0


def test_mixture_sample_rates_and_determinism(spark):
    # 40 docs in 'big' (weight 1) vs 20 in 'small' (weight 3):
    # target ratio small/big = 3/1, so 'small' is dominant (keep 1.0 —
    # every doc survives) and 'big' downsamples to keep_rate
    # (1/60)/(40/60) / ((3/60)/(20/60)) = (1/40)/(3/20) = 1/6.
    rows = [(i, f"unique text number {i} padding", "en", "big") for i in range(40)]
    rows += [(100 + i, f"other document {i} body", "en", "small") for i in range(20)]
    df = _docs_df(spark, rows)
    w = F.when(F.col("source") == "small", F.lit(3.0)).otherwise(F.lit(1.0))
    out = SMP.mixture_sample(df, w).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # dominant group is never downsampled (keep_rate exactly 1.0)
    assert by_src["small"] == {100 + i for i in range(20)}
    # non-dominant group is a strict, non-empty subset
    assert 0 < len(by_src["big"]) < 40
    # content-keyed decision => stable under resharding
    again = SMP.mixture_sample(df.repartition(7, "doc_id"), w).collect()
    assert {(r["doc_id"]) for r in again} == {r["doc_id"] for r in out}


def test_dup_span_fraction(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "s"),  # shares 3-grams with 2
        (2, "alpha beta gamma delta zeta", "en", "s"),     # 2 of 3 grams shared
        (3, "totally different words entirely here", "en", "s"),
        (4, "hi", "en", "s"),                              # too short for a trigram
    ]
    out = {
        r["doc_id"]: r
        for r in D.dup_span_fraction(_docs_df(spark, rows)).collect()
    }
    # doc1 grams: (a b g), (b g d), (g d e); doc2: (a b g), (b g d), (g d z)
    assert out[1]["n_shingles"] == 3 and out[1]["n_shared"] == 2
    assert out[2]["n_shingles"] == 3 and out[2]["n_shared"] == 2
    assert abs(out[1]["dup_frac"] - 2 / 3) < 1e-12
    assert out[3]["n_shared"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_shingles"] == 0 and out[4]["dup_frac"] == 0.0


def test_vocab_and_tfidf(spark):
    from finmlkit_spark.operators import corpus as CP

    rows = [
        (1, "apple apple banana", "en", "s"),
        (2, "apple cherry", "en", "s"),
        (3, "banana banana banana cherry", "en", "s"),
    ]
    df = _docs_df(spark, rows)
    vocab = {r["token"]: r for r in CP.vocab_topk(df, k=10).collect()}
    assert vocab["banana"]["n_occurrences"] == 4 and vocab["banana"]["n_docs"] == 2
    assert vocab["apple"]["n_occurrences"] == 3 and vocab["apple"]["n_docs"] == 2
    assert vocab["banana"]["rank"] == 1
    # apple (3) before cherry (2); tie-breaks alphabetical at equal counts
    assert vocab["apple"]["rank"] == 2 and vocab["cherry"]["rank"] == 3

    kw = CP.tfidf_keywords(df, top_per_doc=1).collect()
    top = {r["doc_id"]: r["token"] for r in kw}
    # doc1: apple tf=2 df=2 -> 3.0; banana tf=1 df=2 -> 1.5 => apple
    # doc3: banana tf=3 df=2 -> 4.5 beats cherry tf=1 df=2 -> 1.5
    assert top[1] == "apple" and top[3] == "banana"


def test_doc_chunks_boundaries(spark):
    # 10 tokens, chunk 4, overlap 1 (stride 3): starts at 1,4,7,10 ->
    # nc = 1 + ceil((10-4)/3) = 3 ... wait: 1+ceil(6/3)=3 chunks cover
    # tokens 1-4,4-7,7-10; token 10 covered by chunk starting at 7.
    toks = [f"t{i}" for i in range(1, 11)]
    rows = [(1, " ".join(toks), "en", "s"), (2, "a b", "en", "s")]
    out = SMP.doc_chunks(_docs_df(spark, rows), chunk_tokens=4, overlap=1).collect()
    d1 = sorted((r["chunk_id"], r["n_tokens"]) for r in out if r["doc_id"] == 1)
    assert d1 == [(0, 4), (1, 4), (2, 4)]
    d2 = [(r["chunk_id"], r["n_tokens"]) for r in out if r["doc_id"] == 2]
    assert d2 == [(0, 2)]  # short doc -> one short chunk
    # overlap: chunk 0 = t1..t4, chunk 1 = t4..t7 (token 4 in both)
    import hashlib
    md5 = {r["chunk_id"]: r["chunk_md5"] for r in out if r["doc_id"] == 1}
    assert md5[0] == hashlib.md5(b"t1 t2 t3 t4").hexdigest()
    assert md5[1] == hashlib.md5(b"t4 t5 t6 t7").hexdigest()


def test_keep_best_per_cluster(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4)], "doc_id long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(1, 0.4), (2, 0.7), (3, 0.1), (4, 0.5), (5, 0.5)],
        "doc_id long, quality double",
    )
    out = {
        r["cluster_id"]: r["doc_id"]
        for r in D.keep_best_per_cluster(clusters, quality).collect()
    }
    assert out == {1: 2, 3: 3, 4: 4}  # cluster 4: quality tie -> lowest id


def test_decontaminate_bloom_exact_even_when_saturated(spark):
    """A deliberately tiny (64-position) filter makes almost every
    corpus shingle a Bloom candidate — the exact verify join must still
    produce output identical to the broadcast-exact decontaminate()."""
    from finmlkit_spark.operators import dedup as D

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox naps all day long"),
        (3, "completely unrelated sentence about spark plans"),
        (4, "jumps over the lazy dog again and again"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    bmk = docs.where("doc_id = 0")
    train = docs.where("doc_id <> 0")
    exact = {
        r["doc_id"]: r["n_shared"] for r in D.decontaminate(train, bmk).collect()
    }
    for bits in (64, 1 << 20):
        got = {
            r["doc_id"]: r["n_shared"]
            for r in D.decontaminate_bloom(train, bmk, num_bits=bits).collect()
        }
        assert got == exact, (bits, got, exact)
    assert exact  # the fixture must actually share shingles


def _union_find_components(pairs, all_ids):
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp_min = {}
    for i in all_ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    return {i: comp_min[find(i)] for i in all_ids}


def test_dedup_clusters_star_matches_union_find(spark):
    """Large-star/small-star CC vs a union-find ground truth on random
    graphs, and on a 300-link CHAIN — the deep-component case where
    30 rounds of min-label propagation cannot finish but star rounds
    converge in O(log n)."""
    import numpy as np

    from finmlkit_spark.operators import dedup as D

    cases = []
    for seed in (3, 4):
        rng = np.random.default_rng(seed)
        ids = list(range(120))
        pairs = [
            (int(rng.integers(0, 120)), int(rng.integers(0, 120))) for _ in range(90)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        cases.append((ids, pairs))
    # the killer: one path 0-1-2-...-299 (diameter 299)
    cases.append((list(range(300)), [(i, i + 1) for i in range(299)]))

    for ids, pairs in cases:
        exp = _union_find_components(pairs, ids)
        pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in D.dedup_clusters_star(pdf, docs).collect()
        }
        assert got == exp, (len(ids), len(pairs))


def test_dedup_clusters_star_stops_at_star_forest(spark, monkeypatch):
    """The structural convergence check stops the loop the round the
    edge set becomes a star forest — no extra signature-comparison
    round-pair. An input that is already a star forest must finish
    after exactly ONE round-pair (one initial edge cut + one round
    cut), with correct labels."""
    from finmlkit_spark import cache
    from finmlkit_spark.operators import dedup as D

    calls = []
    orig = cache.cut

    def counting_cut(df):
        calls.append(1)
        return orig(df)

    monkeypatch.setattr(cache, "cut", counting_cut)
    pairs = spark.createDataFrame(
        [(5, 1), (6, 1), (7, 2)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in (1, 2, 5, 6, 7)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters_star(pairs, docs).collect()
    }
    assert got == {1: 1, 2: 2, 5: 1, 6: 1, 7: 2}
    assert len(calls) == 2  # initial edge cut + one round-pair cut


def test_dedup_clusters_star_matches_propagation_on_shallow(spark):
    import numpy as np

    from finmlkit_spark.operators import dedup as D

    rng = np.random.default_rng(9)
    pairs = [(int(a), int(a + rng.integers(1, 5))) for a in rng.integers(0, 60, 40)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in range(70)], "doc_id long")
    a = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pdf, docs).collect()}
    b = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters_star(pdf, docs).collect()}
    assert a == b


def test_dup_span_ranges_crafted(spark):
    """Two docs share one 5-token phrase: each gets exactly one merged
    span covering the phrase (trigram starts at its first 3 positions),
    and a doc with unique text gets none."""
    import pandas as pd

    from finmlkit_spark.operators.dedup import dup_span_ranges

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"alpha beta {shared} gamma delta",
                    f"zeta {shared} eta theta iota",
                    "nothing in common with anything here at all",
                ],
            }
        )
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"])
        for r in dup_span_ranges(docs, k=3).collect()
    }
    # doc 1: phrase tokens at positions 2..6 -> trigram starts 2,3,4 ->
    # span [2, 6]; doc 2: positions 1..5 -> starts 1,2,3 -> span [1, 5]
    assert got == {1: (2, 6, 3), 2: (1, 5, 3)}


def test_dup_span_ranges_random_vs_brute(spark):
    """Randomized docs with injected shared phrases vs a pure-Python
    brute force of the same semantics (k-gram in 2+ docs -> position
    duplicated; merge runs with gap <= k)."""
    import random

    import pandas as pd

    from finmlkit_spark.operators.dedup import dup_span_ranges

    k = 3
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    phrases = [
        ["p1a", "p1b", "p1c", "p1d"],
        ["p2a", "p2b", "p2c"],
    ]
    docs = {}
    for did in range(8):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 25))]
        for ph in phrases:
            if rng.random() < 0.5:
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = ph
        docs[did] = toks

    # brute force
    from collections import defaultdict

    grams = defaultdict(set)
    for did, toks in docs.items():
        for p in range(len(toks) - k + 1):
            grams[tuple(toks[p : p + k])].add(did)
    expected = set()
    for did, toks in docs.items():
        dup_ps = sorted(
            p
            for p in range(len(toks) - k + 1)
            if len(grams[tuple(toks[p : p + k])]) >= 2
        )
        spans = []
        for p in dup_ps:
            if spans and p <= spans[-1][1] - (k - 1) + k:
                spans[-1] = (spans[-1][0], p + k - 1, spans[-1][2] + 1)
            else:
                spans.append((p, p + k - 1, 1))
        for s, e, n in spans:
            expected.add((did, s, e, n))

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
        )
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
        for r in dup_span_ranges(df, k=k).collect()
    }
    assert got == expected


def test_dedup_clusters_driver_and_distributed_bit_identical(spark, gate_sides):
    """dedup_clusters' driver gate (union-find on the collected edges)
    and its distributed side (the min-label fixpoint) must produce the
    identical (doc_id, cluster_id) map — exact integer
    min-per-component either way. Covers random graphs AND a deep chain."""
    import random

    from finmlkit_spark.operators import dedup as D

    rng = random.Random(8)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    # chain short enough for min-label to converge inside max_iter —
    # deeper chains are exactly what the driver side and the star form
    # fix (asserted below)
    chain = [(1000 + i, 1000 + i + 1) for i in range(20)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges + chain],
        "doc_a long, doc_b long",
    )
    docs = spark.range(0, 1100).select(F.col("id").alias("doc_id"))
    drv, dist = gate_sides(
        lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in D.dedup_clusters(pairs, docs).collect()
        }
    )
    assert drv == dist
    assert len(drv) == 1100
    assert drv[1015] == 1000

    # deep chain: min-label propagation cannot converge in max_iter
    # rounds (1 hop/round) — the driver union-find must match the
    # O(log n) star form instead, which is the documented escalation
    deep = spark.createDataFrame(
        [(2000 + i, 2000 + i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(deep).collect()}
    star = {
        r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters_star(deep).collect()
    }
    assert got == star
    assert got[2120] == 2000


def test_dedup_clusters_string_ids_take_distributed_side(spark):
    """String ids fail the driver union-find's dtype check: the operator
    continues from the gate's cut and labels the same components as the
    integer-id run."""
    from finmlkit_spark.operators import dedup as D

    ints = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    strs = ints.select(*(F.format_string("d%03d", c).alias(c) for c in ("doc_a", "doc_b")))
    got_i = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(ints).collect()}
    got_s = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(strs).collect()}
    assert got_i == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert got_s == {"d%03d" % k: "d%03d" % v for k, v in got_i.items()}


def test_cc_driver_union_find_property(spark):
    """Hypothesis property: the driver union-find's (node, cluster) map
    equals a brute-force transitive closure with min-id labels on
    arbitrary small graphs (self-loops, duplicates, chains, stars)."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from finmlkit_spark.operators.dedup import _cc_driver

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1,
            max_size=60,
        )
    )
    def prop(edges):
        tbl = pa.table(
            {
                "a": pa.array([a for a, _ in edges], type=pa.int64()),
                "b": pa.array([b for _, b in edges], type=pa.int64()),
            }
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in _cc_driver(spark, tbl, "doc_id").collect()
        }
        # brute-force closure: repeatedly propagate min labels
        nodes = sorted({x for e in edges for x in e})
        label = {n: n for n in nodes}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                m = min(label[a], label[b])
                if label[a] != m or label[b] != m:
                    label[a] = label[b] = m
                    changed = True
        assert got == label, (edges, got, label)

    prop()


def test_positional_trigram_rows_match_hof(spark):
    """The Arrow positional-shingle kernel behind dup_span_ranges must
    emit EXACTLY the rows of the HOF ``posexplode(
    positional_shingle_hashes(token_hashes(text)))`` form — token
    semantics (trim + split ' +'), codepoint hashing, positions and the
    k-gram combine are all exact integer math, so the forms are compared
    as sorted full rows (hash VALUES, not just their collision
    structure) on adversarial inputs (empty/space-only/NULL text, runs
    of spaces, tabs inside tokens, unicode codepoints, <k tokens) and
    the real documents table. dup_span_ranges itself is pinned
    bit-exact against its DuckDB oracle in test_suite_oracle."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import dedup as D
    from finmlkit_spark.operators.text import (
        positional_shingle_hashes,
        token_hashes,
    )

    rows = [
        (0, "a b c d e f"),
        (1, "a b c d e f"),
        (2, "  leading and   multi  spaces a b c d e f "),
        (3, ""),
        (4, "   "),
        (5, None),
        (6, "one two"),
        (7, "tab\tinside token a b c d e f"),
        (8, "unicodé ünïcode ✓ a b c d e f"),
        (9, "x y z x y z x y z"),
        (10, "x y z x y z x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs_real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for frame in (df, docs_real):
        for k in (1, 3):
            raw_a = sorted(
                (r["doc"], r["p"], r["g"])
                for r in D._positional_trigram_rows(frame, k, "text", "doc_id").collect()
            )
            g = positional_shingle_hashes(token_hashes("text"), k)
            raw_h = sorted(
                (r["doc"], r["p"], r["g"])
                for r in frame.select(
                    F.col("doc_id").alias("doc"), F.posexplode(g).alias("p", "g")
                ).collect()
            )
            assert raw_a == raw_h, k
            assert len(raw_a) > 0


def test_ngram_bounded_jaccard_exact_with_hot_shingles(spark):
    """The bounded path's |∩| decomposition (rare-shared count from the
    candidate self-join + hot-array intersect correction) must equal the
    exact Jaccard of the unbounded d² form for every pair it reports —
    on a corpus engineered so shared boilerplate shingles EXCEED the
    doc-frequency cutoff (the correction term is non-zero)."""
    from finmlkit_spark.operators import dedup as D

    boiler = "the quick brown fox jumps over lazy dogs"  # shared by all
    rows = [
        (i, boiler + f" unique{i} content{i} " + ("alpha beta gamma delta " if i % 2 == 0 else "eps zeta eta theta "))
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None)
        .collect()
    }
    # cutoff 4 < 8 docs sharing the boilerplate: its shingles are HOT
    bounded = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=4)
        .collect()
    }
    assert len(bounded) > 0
    for pair, j in bounded.items():
        assert j == exact[pair], pair
    # sanity: the hot correction actually fired — same-parity docs share
    # boilerplate (hot) AND their parity phrase (rare), so their exact
    # jaccard exceeds the rare-only fraction
    a, b = 0, 2
    assert (a, b) in bounded and bounded[(a, b)] > 0.3


def test_remove_dup_spans_cuts_marked_tokens(spark):
    """remove_dup_spans drops exactly the tokens inside dup_span_ranges'
    ranges: two identical docs lose their whole shared text (cleaned to
    the empty string), a doc sharing only a prefix keeps its unique
    tail, and an untouched doc survives with whitespace normalized."""
    from finmlkit_spark.operators import dedup as D

    rows = [
        (0, "aa bb cc dd ee ff"),
        (1, "aa bb cc dd ee ff"),          # full dup of 0
        (2, "aa bb cc dd tail1 tail2 tail3"),  # shares the 4-token prefix
        (3, "solo   words  only here"),    # untouched, multi-space
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.remove_dup_spans(docs, k=3).collect()}
    assert out[0]["clean_text"] == "" and out[0]["n_kept"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_kept"] == 0
    # doc 2: trigrams over the shared prefix "aa bb cc dd" are dup'd
    # (positions 0..1 -> span [0, 3]); the tail survives
    assert out[2]["clean_text"] == "tail1 tail2 tail3"
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (7, 3)
    assert out[3]["clean_text"] == "solo words only here"
    assert out[3]["n_kept"] == 4


def test_token_hash_fold_dense_and_ragged_paths_identical():
    """_token_hash_arrays' two fold shapes (dense matrix vs the ragged
    per-offset passes that bound memory when one pathological token is
    far longer than the rest) must produce identical hashes — the big
    batch's 1601 tokens x 5001-char token exceeds the 8M-cell dense
    budget and takes the ragged branch; both are checked against a
    pure-python replay of the poly fold."""
    import re

    import numpy as np

    from finmlkit_spark.operators import text as T

    def poly(tok):
        acc = 0
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % 1_000_000_007
        return acc

    small = np.array(["short words here", "", "  a  b  "], dtype=object)
    th, _tok_doc, cnt, _toff = T._token_hash_arrays(small)
    toks0 = re.split(" +", small[0].strip(" "))
    assert list(th[: len(toks0)]) == [poly(t) for t in toks0]

    big = np.array([("w " * 1600) + "x" * 5001], dtype=object)
    assert 1601 * 5001 > 8_000_000  # forces the ragged branch
    th_big, _, cnt_big, _ = T._token_hash_arrays(big)
    toks = re.split(" +", big[0].strip(" "))
    assert cnt_big[0] == len(toks)
    assert list(th_big) == [poly(t) for t in toks]


def test_weighted_sample_exact_and_deterministic(spark):
    """weighted_sample: draws are deterministic across runs and
    partitionings, every draw lands on a positive-weight doc, heavy
    docs dominate (10x weight -> more hits over 512 draws), and the
    chunked prefix-sum form equals a direct global-cumsum replay."""
    from finmlkit_spark.operators import sampling as SP
    from pyspark.sql import functions as F

    rows = [(i, ("word " * (100 if i % 10 == 0 else 10)).strip()) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = sorted(map(tuple, SP.weighted_sample(docs, k=512).collect()))
    out2 = sorted(map(tuple, SP.weighted_sample(docs.repartition(7), k=512).collect()))
    assert out1 == out2  # partitioning-independent
    assert len(out1) == 512  # every draw matched exactly one interval

    # python replay: global cumsum inversion with the same mix
    w = {i: (100 if i % 10 == 0 else 10) for i in range(50)}
    ids = sorted(w)
    total = sum(w.values())
    cum, hi = {}, 0
    for i in ids:
        hi += w[i]
        cum[i] = hi
    expect = []
    for j in range(512):
        p = ((j + 7) * 2654435761 + 7 * 40503) % 2305843009213693951 % total
        doc = next(i for i in ids if p < cum[i])
        expect.append((j, doc, w[doc]))
    assert out1 == sorted(expect)

    hits_heavy = sum(1 for _, d, _ in out1 if d % 10 == 0)
    # heavy docs hold 500/950 of the mass; loose 2-sided bound
    assert 180 <= hits_heavy <= 350, hits_heavy


def test_weighted_sample_empty_and_plan(spark):
    from finmlkit_spark.operators import sampling as SP
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert SP.weighted_sample(empty, k=8).count() == 0

    docs = spark.createDataFrame(
        [(i, "a few words here") for i in range(200)], "doc_id long, text string"
    )
    df = SP.weighted_sample(docs, k=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    # the chunk offsets come from the one exclusive prefix and the
    # doc-scale side hashes: nothing moves to a single partition
    assert plan.count("Exchange SinglePartition") == 0


def test_tfidf_cosine_pairs_matches_python_reference(spark):
    """Weighted cosine on a crafted corpus: docs sharing a RARE term
    score above docs sharing only common terms; values match the exact
    integer-quantized reference."""
    import math

    from finmlkit_spark.operators import dedup as D

    rows = [
        (0, "rare common common"),
        (1, "rare common other"),
        (2, "common other thing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in D.tfidf_cosine_pairs(df, threshold=0.0, scale=1000).collect()
    }

    def poly(tok, mod=1_000_000_007):
        a = 0
        for ch in tok:
            a = (a * 31 + ord(ch)) % mod
        return a

    corp = [r[1].split() for r in rows]
    n = len(rows)
    dfc: dict = {}
    for t in corp:
        for h in {poly(x) for x in t}:
            dfc[h] = dfc.get(h, 0) + 1
    W = []
    for t in corp:
        w = {}
        for x in t:
            h = poly(x)
            w[h] = w.get(h, 0) + 1
        W.append({h: math.floor(1000.0 * c * n / dfc[h] + 0.5) for h, c in w.items()})

    def cos(a, b):
        dot = sum(W[a][h] * W[b][h] for h in W[a] if h in W[b])
        na = math.sqrt(sum(v * v for v in W[a].values()))
        nb = math.sqrt(sum(v * v for v in W[b].values()))
        return dot / (na * nb)

    import pytest as _pt

    for (a, b), v in got.items():
        assert v == _pt.approx(cos(a, b), abs=1e-12)
    # the rare-term pair outranks the common-overlap pairs
    assert got[(0, 1)] > got[(1, 2)]


def test_tfidf_cosine_pairs_norm_no_int64_wrap(spark):
    """Round-12 overflow regression (r11 advisory): with a scale big
    enough that wq² exceeds 2^63, the decimal(38,0) dot/norm fold must
    still produce the exact cosine — the previous int64 sum wrapped
    silently under Spark's non-ANSI mode and emitted garbage. wq here
    is ~2.2e12 (unique token, df=1), so wq² ≈ 4.8e24 ≫ 9.2e18."""
    import math

    import pytest as _pt

    from finmlkit_spark.operators import dedup as D

    big = 2**41  # scale; wq = big·tf·N/df = 2.2e12·3 for df=1
    rows = [
        (0, "unique_alpha shared"),
        (1, "unique_beta shared"),
        (2, "unique_gamma shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in D.tfidf_cosine_pairs(df, threshold=0.0, scale=big).collect()
    }
    n = len(rows)
    w_unique = math.floor(big * 1.0 * n / 1 + 0.5)  # df=1
    w_shared = math.floor(big * 1.0 * n / 3 + 0.5)  # df=3
    assert w_unique * w_unique > 2**63  # the wrap precondition
    # every doc vector = (one unique token, one shared token)
    dot = w_shared * w_shared
    nrm = math.sqrt(w_unique * w_unique + w_shared * w_shared)
    want = dot / (nrm * nrm)
    for pair in [(0, 1), (0, 2), (1, 2)]:
        assert got[pair] == _pt.approx(want, rel=1e-12)
        assert 0.0 < got[pair] < 1.0  # a wrapped sum goes negative/huge


def test_distinct_shingle_rows_matches_hof(spark):
    """The r14 set-shingle Arrow kernel (ngram_jaccard's exploded input)
    must be row-multiset-identical to explode(shingle_hashes(text)) with
    n_sh = size(shingle_hashes(text)) — same g hash VALUES, same per-doc
    distinct sets, same n_sh — on adversarial inputs and the real
    documents table, for k=1 (empty-text token edge case) and k=3."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import dedup as D

    rows = [
        (0, "a b c d e f"),
        (1, "x y z x y z x y z"),  # repeated shingles: distinct matters
        (2, "  leading and   multi  spaces a b c "),
        (3, ""),  # k=1: the HOF tokenizer yields one empty token
        (4, "one two"),  # < k tokens at k=3: no rows
        (5, None),  # NULL text: no rows either engine
        (6, "a b c d e f"),  # duplicate doc text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs_real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for frame in (df, docs_real):
        for k in (1, 3):
            sh = D.shingle_hashes("text", k=k)
            hof = (
                frame.select(
                    F.col("doc_id").alias("doc"), sh.alias("sh")
                )
                .withColumn("n_sh", F.size("sh"))
                .select("doc", "n_sh", F.explode("sh").alias("g"))
            )
            a = sorted(
                (r["doc"], r["n_sh"], r["g"])
                for r in D._distinct_shingle_rows(frame, k, "text", "doc_id").collect()
            )
            h = sorted((r["doc"], r["n_sh"], r["g"]) for r in hof.collect())
            assert a == h, (k, len(a), len(h))
            if frame is docs_real and k == 3:
                assert len(a) > 0
