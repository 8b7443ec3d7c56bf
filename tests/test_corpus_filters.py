"""Unit tests for the C4-style corpus ops: segment dedup, quality
filter signals, unigram-LM scoring."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from finmlkit_spark.operators import corpus as CP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_removes_later_occurrences(spark):
    # doc 0 and doc 1 share their first 4-token segment; doc 1 keeps
    # only its unique tail segment.
    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d x y z w"),
        (2, "q r s t"),
    ]
    out = {
        r["doc_id"]: r
        for r in CP.segment_dedup(_docs(spark, rows), seg_tokens=4).collect()
    }
    assert out[0]["n_segments"] == 2 and out[0]["n_kept"] == 2
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 1
    assert out[2]["n_segments"] == 1 and out[2]["n_kept"] == 1
    # doc 1's surviving text is exactly its second segment
    md5 = (
        spark.range(1)
        .select(F.md5(F.lit("x y z w")).alias("m"))
        .collect()[0]["m"]
    )
    assert out[1]["clean_md5"] == md5


def test_segment_dedup_fully_duplicated_doc(spark):
    rows = [(0, "a b c d"), (1, "a b c d")]
    out = {
        r["doc_id"]: r
        for r in CP.segment_dedup(_docs(spark, rows), seg_tokens=4).collect()
    }
    assert out[1]["n_kept"] == 0
    empty_md5 = (
        spark.range(1).select(F.md5(F.lit("")).alias("m")).collect()[0]["m"]
    )
    assert out[1]["clean_md5"] == empty_md5


def test_c4_filter_rules(spark):
    rows = [
        (0, "the quick brown fox jumps over dogs"),  # keep
        (1, "no stopword here fox jumps quick brown"),  # stop_hits == 0
        (2, "the fox"),  # too short
        (3, "the quick javascript fox jumps over dogs"),  # bad substring
        (4, "the spam spam spam spam spam spam spam spam spam"),  # top share
        (5, "the quick supercalifragilisticexpialidocious fox jumps over it"),
    ]
    out = {r["doc_id"]: r for r in CP.c4_filter_signals(_docs(spark, rows)).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["stop_hits"] == 0
    assert out[2]["keep"] is False and out[2]["n_tokens"] == 2
    assert out[3]["keep"] is False and out[3]["has_bad_substring"] is True
    assert out[4]["keep"] is False and out[4]["top_token_freq"] == 9
    assert out[5]["keep"] is False and out[5]["max_token_len"] > 20


def test_unigram_logprob_exact_two_token_corpus(spark):
    # corpus: "x x x y" -> p(x)=3/4, p(y)=1/4
    rows = [(0, "x x"), (1, "x y")]
    out = {r["doc_id"]: r for r in CP.unigram_logprob(_docs(spark, rows)).collect()}
    assert out[0]["mean_logprob"] == round(math.log(0.75), 6)
    expected1 = (math.log(0.75) + math.log(0.25)) / 2
    assert abs(out[1]["mean_logprob"] - round(expected1, 6)) <= 1e-9
    assert abs(out[1]["perplexity"] - round(math.exp(-expected1), 6)) <= 1e-9


def test_kmeans_assign_separates_obvious_clusters(spark):
    from finmlkit_spark.operators import similarity as SIM

    # two tight groups on orthogonal axes; ids 0/1 seed the centroids
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.95, 0.05, 0.0]),
        (4, [0.1, 0.9, 0.0]),
        (5, [0.05, 0.95, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in SIM.kmeans_assign(df, k=2, iters=2).collect()}
    assert len(out) == 6
    assert out[0]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]
    assert out[1]["cluster_id"] == out[4]["cluster_id"] == out[5]["cluster_id"]
    assert out[0]["cluster_id"] != out[1]["cluster_id"]
    for r in out.values():
        assert r["cos_sim"] > 0.9


def test_semantic_dup_pairs_within_cluster_only(spark):
    from finmlkit_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.99, 0.05]),   # near-dup of 0, same cluster
        (3, [0.05, 0.99]),   # near-dup of 1, other cluster
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.semantic_dup_pairs(df, k=2, iters=1, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert pairs == {(0, 2), (1, 3)}
    for r in out:
        assert r["cos_sim"] >= 0.9


def test_lang_guess_argmax_semantics(spark):
    """Locks the array_max struct argmax (round-4 rewrite of the
    when-chain fold) to the documented semantics: highest stopword-hit
    count wins, ties resolve to the EARLIEST language in LANG_WORDS
    order, all-zero scores give 'und'."""
    from finmlkit_spark.operators import text as TX

    rows = [
        (0, "el que los la de"),            # clear es
        (1, "the el"),                      # en/es tie -> en (earliest)
        (2, "zzz qqq www"),                 # no hits -> und
        (3, "der die das the a of and"),    # en 4 beats de 3
        (4, "une est le les et"),           # clear fr
        (5, "und ist the a"),               # en/de tie (2 each) -> en (earliest)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", TX.lang_guess("text").alias("lang")).collect()
    }
    assert got == {0: "es", 1: "en", 2: "und", 3: "en", 4: "fr", 5: "en"}


def test_kmeans_driver_and_distributed_modes_bit_identical(spark):
    """kmeans_assign's two execution modes (driver-carried centroids vs
    the all-in-cluster unrolled SQL chain) must agree BIT-FOR-BIT: both
    quantize centroid updates to integer sums and fold cosines
    sequentially, so any divergence is a real determinism bug, not
    float noise."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"])
        for r in SIM.kmeans_assign(embs, k=8, iters=2, dim=64, state="driver").collect()
    }
    b = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"])
        for r in SIM.kmeans_assign(
            embs, k=8, iters=2, dim=64, state="distributed"
        ).collect()
    }
    assert a == b
    assert len(a) == embs.count()


def test_kmeans_no_seed_vectors_returns_empty(spark):
    """Ids all >= k: no seed centroids exist — both modes degrade to an
    empty assignment (matching the oracle's empty seed join), not an
    error."""
    from finmlkit_spark.operators import similarity as SIM

    rows = [(100, [1.0, 0.0]), (101, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for state in ("driver", "distributed"):
        out = SIM.kmeans_assign(df, k=2, iters=1, state=state).collect()
        assert out == [], state


def test_kmeans_tree_fold_bit_identical_to_flat(spark, monkeypatch):
    """The two-level (executor pre-reduce) partial fold must produce
    bit-identical centroids to the flat driver fold: int64 adds are
    associative, so any re-grouping of the k·P partials is exact. At 8
    partitions auto takes the flat fold; ``cache._FORCE_DISTRIBUTED``
    forces the tree fold."""
    from finmlkit_spark import cache
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").repartition(8)
    assert embs.rdd.getNumPartitions() <= SIM._KMEANS_TREE_MIN_PARTS
    results = {}
    for forced in (False, True):
        monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", forced)
        results[forced] = {
            r["vec_id"]: (r["cluster_id"], r["cos_sim"])
            for r in SIM.kmeans_assign(
                embs, k=8, iters=2, dim=64, state="driver"
            ).collect()
        }
    assert results[False] == results[True]
    assert len(results[False]) == embs.count()


def test_semantic_pairs_memoized_centroids_bit_identical_and_cached(spark):
    """semantic_dup_pairs trains through the session-memoized
    kmeans_centroids accessor and assigns with iters=0 — that split
    must be bit-identical to training inline inside kmeans_assign
    (assignment is a pure function of vectors + centroids), and the
    second centroid fetch must hit the cache (same list object, no
    retraining jobs)."""
    from finmlkit_spark.operators import similarity as SIM

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = SIM.kmeans_centroids(embs, k=8, iters=2, dim=64)
    c2 = SIM.kmeans_centroids(embs, k=8, iters=2, dim=64)
    assert c1 is c2  # memo hit on the frame object

    # inline-trained assignment == iters=0 assignment from the accessor
    inline = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"])
        for r in SIM.kmeans_assign(embs, k=8, iters=2, dim=64).collect()
    }
    split = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"])
        for r in SIM.kmeans_assign(
            embs, k=8, iters=0, dim=64, seeds=c1
        ).collect()
    }
    assert inline == split

    # end-to-end: the pair set is keyed off the same assignment
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in SIM.semantic_dup_pairs(
            embs, k=8, iters=2, threshold=0.4, dim=64
        ).collect()
    }
    assert len(pairs) > 0
    for (a, b) in pairs:
        assert a < b and inline[a][0] == inline[b][0]


def test_gopher_signals_rules(spark):
    """Each Gopher rule fires independently: too short, symbol-heavy,
    non-alphabetic, stopword-poor, and mean-word-length outliers all
    drop; a normal English-ish doc keeps. Kit stage round-trips."""
    from finmlkit_spark.operators import corpus as CP
    from finmlkit_spark.plans import curation as CK

    good = "the quick brown fox likes to run with all of that and have fun here now"
    rows = [
        (0, good),                                     # keeps
        (1, "too short"),                              # n_tokens < 10
        (2, good + " " + "# " * 20),                   # symbol ratio
        (3, "1 2 3 4 5 6 7 8 9 10 11 12"),             # alpha fraction + stopwords
        (4, "the to " + "x " * 20),                    # mean word len < 3
        (5, ("the supercalifragilistic " * 10).strip()),  # mean word len > 10... and stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CP.gopher_signals(df).collect()}
    assert out[0]["keep"] is True
    for bad in (1, 2, 3, 4):
        assert out[bad]["keep"] is False, bad
    # doc 5: mean word length (the=3, supercalifragilistic=20 -> 11.5)
    assert out[5]["keep"] is False

    kit = CK.CurationKit([CK.GopherFilter()])
    cfg = kit.to_config()
    kit2 = CK.CurationKit.from_config(cfg)
    kept = kit2.run(df)
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [0]


def test_gopher_repetition_hand_computed(spark):
    """Gopher repetition rules on hand-computable docs: a top-2-gram
    spam doc fails the n=2 share bound, a long duplicated phrase fails
    the dup-5-gram bound, a clean doc keeps, and an empty doc keeps
    with all-zero shares."""
    from finmlkit_spark.operators import corpus as CP

    rows = [
        # 'ab cd' repeated 6x: top 2-gram cov = 6*4 = 24, total = 24
        # -> share 1.0 > 0.20: reject
        (0, "ab cd " * 6),
        # clean: all 2..10-grams unique
        (1, "one two three four five six seven eight nine ten eleven"),
        # a 6-token phrase repeated twice with unique separators between:
        # every k<=6-gram inside the phrase duplicates -> dup shares > 0
        (2, "p q r s t u xxx p q r s t u yyy unique1 unique2 unique3 "
            "unique4 unique5 unique6 unique7 unique8 unique9 unique10 "
            "unique11 unique12 unique13 unique14 unique15 unique16"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CP.gopher_repetition(df).collect()}

    assert out[0]["top_2gram_share"] == 1.0 and not out[0]["keep"]
    assert out[1]["keep"]
    assert all(out[1][f"top_{n}gram_share"] <= 0.25 for n in (2, 3, 4))
    assert all(out[1][f"dup_{n}gram_share"] == 0.0 for n in range(5, 11))
    # doc 2: the repeated 6-token phrase gives exactly two duplicated
    # 5-grams ('p q r s t', 'q r s t u', each twice, 5 chars) and one
    # duplicated 6-gram; total chars = 6+6+3+3+16*7+... compute: tokens
    # p..u are 1 char (6), separators xxx/yyy 3 chars, unique1..16 are
    # 7-9 chars
    toks = rows[2][1].split()
    total = sum(len(t) for t in toks)
    exp5 = 2 * (2 * 5) / total  # two dup 5-grams, cov = cnt*chars = 2*5
    assert abs(out[2]["dup_5gram_share"] - exp5) < 1e-9
    exp6 = 2 * 6 / total        # one dup 6-gram ('p q r s t u') twice
    assert abs(out[2]["dup_6gram_share"] - exp6) < 1e-9
    assert all(out[2][f"dup_{n}gram_share"] == 0.0 for n in range(7, 11))

    assert out[3]["total_chars"] == 0 and out[3]["keep"]
    assert out[3]["top_2gram_share"] == 0.0


def test_bpe_train_hand_computed_and_modes(spark, gate_sides):
    """BPE merges on a hand-checkable corpus: 'aaab aaab ab' — pair
    counts round 1: (a,a)=4, (a,b)=3 -> merge (a,a); round 2 over
    {aa,a,b / aa,a,b / a,b}: (aa,a)=2, (a,b)=3 -> merge (a,b); round 3:
    (aa,ab)=2 wins. The driver and distributed sides must agree
    byte-for-byte; ties break to the smallest (lhs, rhs)."""
    from finmlkit_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(0, "aaab aaab ab")], "doc_id long, text string"
    )
    exp = [(0, "a", "a", 4), (1, "a", "b", 3), (2, "aa", "ab", 2)]
    drv, dist = gate_sides(
        lambda: sorted(map(tuple, CP.bpe_train(docs, n_merges=3).collect()))
    )
    assert drv == dist == exp, (drv, dist)

    # dry corpus: fewer merges exist than requested -> early stop
    tiny = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    drv, dist = gate_sides(lambda: [tuple(r) for r in CP.bpe_train(tiny, n_merges=5).collect()])
    # after merging 'ab' the word is one symbol: no pairs remain
    assert drv == dist == [(0, "a", "b", 1)]


def test_bpe_train_modes_identical_on_real_docs(spark, gate_sides):
    """Side A/B on the sf0.001 documents table: the driver-carried loop
    and the distributed per-iteration top-1 job must produce the same
    merge table (same splits, same tie-breaks, same replace)."""
    from finmlkit_spark.operators import corpus as CP

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, b = gate_sides(
        lambda: sorted(map(tuple, CP.bpe_train(docs, n_merges=6).collect()))
    )
    assert a == b and len(a) == 6


def test_bpe_apply_reproduces_trainer_state(spark):
    """Segmenting the training corpus with its own merge table must
    reproduce the trainer's final segmentation: on 'aaab aaab ab',
    after merges (a,a), (a,b), (aa,ab) every word is ONE symbol
    ('aaab' via aa+ab, 'ab' via the round-2 merge), so
    n_bpe_tokens = 3."""
    from finmlkit_spark.operators import corpus as CP

    docs = spark.createDataFrame([(0, "aaab aaab ab")], "doc_id long, text string")
    merges = [
        (r["lhs"], r["rhs"]) for r in CP.bpe_train(docs, n_merges=3).collect()
    ]
    out = CP.bpe_apply(docs, merges).collect()[0]
    assert out["n_bpe_tokens"] == 3
    # zero merges: every char is a token
    out0 = CP.bpe_apply(docs, []).collect()[0]
    assert out0["n_bpe_tokens"] == len("aaab") + len("aaab") + len("ab")


def test_bpe_merge_is_symbol_aligned(spark, gate_sides):
    """Regression for the substring-replace bug: on 'ab ab bc bc abc',
    round 0 merges (a,b) — word 'abc' becomes [ab, c]. Round 1 merges
    (b,c) with count 2 (the two 'bc' words ONLY: 'abc' has no (b,c)
    pair any more, and the 'ab' symbol must NOT be torn apart by a
    substring match of 'b⟂c'). Round 2 then merges (ab, c) from 'abc'
    — true Sennrich behavior. All three implementations must agree."""
    from finmlkit_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(0, "ab ab bc bc abc")], "doc_id long, text string"
    )
    exp = [(0, "a", "b", 3), (1, "b", "c", 2), (2, "ab", "c", 1)]
    drv, dist = gate_sides(
        lambda: sorted(map(tuple, CP.bpe_train(docs, n_merges=3).collect()))
    )
    assert drv == dist == exp, (drv, dist)
    seg = CP.bpe_apply(docs, [(l, r) for _, l, r, _ in exp]).collect()[0]
    # ab, ab, bc, bc, abc -> one symbol each
    assert seg["n_bpe_tokens"] == 5


def test_bigram_logprob_hand_computed(spark):
    """Bigram LM on a 2-doc corpus replayed in Python: Laplace-smoothed
    transition probabilities, doc rows only for docs with >= 2 tokens,
    and the word-order property (a shuffled doc scores lower than the
    in-distribution one)."""
    import math

    from finmlkit_spark.operators import corpus as CP

    rows = [(0, "a b a b a b"), (1, "b a"), (2, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CP.bigram_logprob(docs).collect()}
    assert set(out) == {0, 1}  # doc 2 has no transitions

    uni = {"a": 4, "b": 4, "x": 1}
    v = 3
    bi = {("a", "b"): 3, ("b", "a"): 3}
    def lp(l, r):
        return math.log((bi.get((l, r), 0) + 1) / (uni[l] + v))
    exp0 = (3 * lp("a", "b") + 2 * lp("b", "a")) / 5
    assert out[0]["n_bigrams"] == 5
    assert abs(out[0]["mean_logprob"] - round(exp0, 6)) < 1e-9
    assert out[1]["n_bigrams"] == 1
    assert abs(out[1]["mean_logprob"] - round(lp("b", "a"), 6)) < 1e-9
    # word order matters: 'b b' is an unseen transition, scores lower
    docs2 = spark.createDataFrame(
        rows + [(3, "b b")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in CP.bigram_logprob(docs2).collect()}
    assert out2[3]["mean_logprob"] < out2[1]["mean_logprob"]


def _poly(tok: str, mod: int = 1_000_000_007) -> int:
    acc = 0
    for ch in tok:
        acc = (acc * 31 + ord(ch)) % mod
    return acc


def test_hashed_features_matches_python_reference(spark):
    rows = [(0, "cat dog cat"), (1, "x"), (2, "")]
    got = {
        (r["doc_id"], r["dim"]): r["weight"]
        for r in CP.hashed_features(_docs(spark, rows), d=16).collect()
    }
    want: dict = {}
    for doc_id, text in rows:
        toks = text.strip().split() if text.strip() else [""]
        for t in toks:
            h = _poly(t)
            dim, sign = h % 16, 1 - 2 * ((h // 16) % 2)
            key = (doc_id, dim)
            want[key] = want.get(key, 0) + sign
    # NB: a (doc, dim) group whose signs cancel to 0 still emits a row
    # in both engines (it is a real group), so zeros stay in `want` too
    assert got == want
    # repeated token accumulates: |weight| of cat's bucket is 2
    cat_dim = _poly("cat") % 16
    assert abs(got[(0, cat_dim)]) >= 1


def test_normalized_dedup_folds_case_and_punct_variants(spark):
    from finmlkit_spark.operators import dedup as D

    rows = [
        (0, "Hello, World!"),
        (1, "hello world"),
        (2, "HELLO   world."),
        (3, "different doc"),
    ]
    out = {r["keep_id"]: r for r in D.normalized_dedup(_docs(spark, rows)).collect()}
    assert set(out) == {0, 3}
    assert out[0]["n_copies"] == 3 and out[0]["n_exact_forms"] == 3
    assert out[3]["n_copies"] == 1 and out[3]["n_exact_forms"] == 1


def test_wordpiece_greedy_longest_match(spark):
    """Pins the greedy inference rule on a crafted vocab: longest match
    wins at each position, single-char fallback, empty word = 0
    pieces; counts must equal the python replay exactly."""
    rows = [(0, "abcab xyz a"), (1, "abcabc"), (2, "")]
    vocab = ["ab", "abc", "ca"]

    def greedy(w, max_len=4):
        i, cnt, vs = 0, 0, set(vocab)
        while i < len(w):
            for l in range(max_len, 1, -1):
                if i + l <= len(w) and w[i : i + l] in vs:
                    i += l
                    break
            else:
                i += 1
            cnt += 1
        return cnt

    out = {
        r["doc_id"]: (r["n_pieces"], r["n_words"])
        for r in CP.wordpiece_stats(_docs(spark, rows), vocab=vocab).collect()
    }
    # 'abcab' -> abc|ab (2), 'xyz' -> x|y|z (3), 'a' -> 1; 'abcabc' -> abc|abc (2)
    assert out[0] == (sum(greedy(w) for w in "abcab xyz a".split()), 3) == (6, 3)
    assert out[1] == (greedy("abcabc"), 1) == (2, 1)
    assert out[2] == (0, 1)  # empty doc: one empty token, zero pieces


def test_wordpiece_vocab_top_by_count_then_substring(spark):
    rows = [(0, "aaab aaab xy")]
    # substrings with multiplicity: 'aa' x2 per word x2 words = 4 ...
    voc = CP.wordpiece_vocab(_docs(spark, rows), vocab_size=3, max_len=3)
    assert voc == sorted(["aa", "aaa", "aab"])  # counts 4, 2, 2; tie by substring


def test_redact_pii_rewrites_and_counts(spark):
    from finmlkit_spark.operators import text as TX

    rows = [(0, "mail me at a.b@x.io or see https://x.io/page id 123456789")]
    out = (
        _docs(spark, rows)
        .select(
            TX.redact_pii().alias("red"),
            *[c.alias(n) for n, c in TX.pii_counts().items()],
        )
        .collect()[0]
    )
    assert out["red"] == "mail me at <EMAIL> or see <URL> id <NUM>"
    assert (out["n_emails"], out["n_urls"], out["n_long_nums"]) == (1, 1, 1)


def test_perplexity_buckets_equidepth(spark):
    """The LM-quality decile split: 10 buckets, near-equal populations
    (equi-depth), monotone non-overlapping score ranges, and every doc
    with >= 2 tokens accounted for."""
    import pyspark.sql.functions as F

    from finmlkit_spark.suite import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["perplexity_buckets"](spark, sf).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(10))
    total = sum(r["n_docs"] for r in rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    scoreable = docs.where(
        F.size(F.split(F.trim("text"), " +")) >= 2
    ).count()
    assert total == scoreable
    counts = [r["n_docs"] for r in rows]
    assert max(counts) - min(counts) <= max(3, total // 5)  # near-equal
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"] + 1e-12  # monotone ranges
        assert a["lo"] <= a["bucket_mean_lp"] <= a["hi"]
