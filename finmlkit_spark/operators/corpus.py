"""Corpus-level text statistics for training-data pipelines
(BASELINE.json north star; no reference counterpart): vocabulary
building and TF-IDF keyword extraction over the documents table.

Both are one-explode + hash-aggregate shapes: token frequency tables
are map-side combined on the token key, so at 100 TB the shuffle
carries only (token, partial count) pairs — never document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from .text import STOPWORDS, tokens


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` corpus vocabulary by token frequency with document
    frequency — the tokenizer-training prep table (BPE/unigram trainers
    consume exactly this word-count list).

    Plan: explode tokens once, two-level hash aggregate (token count +
    doc-distinct count via per-(doc, token) pre-aggregation), then a
    TakeOrdered top-k — no global sort materializes. Ties break on the
    token string for determinism.
    """
    e = docs.select(F.col("doc_id"), F.explode(tokens(text_col)).alias("token"))
    per_doc = e.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    counts = per_doc.groupBy("token").agg(
        F.sum("tf").cast("long").alias("n_occurrences"),
        F.count("*").cast("long").alias("n_docs"),
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def tfidf_keywords(
    docs: DataFrame,
    top_per_doc: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``top_per_doc`` keywords by TF·IDF with a
    rational idf = N/df (instead of log(N/df)) so every score is an
    exact integer ratio — bit-identical across engines, which makes the
    per-doc ranking deterministic (the log variant differs in the last
    ulp between libm builds and can flip near-tie ranks). Monotone in
    df for fixed tf, so the top-k set matches the log variant whenever
    scores aren't exactly tied; residual ties break on the token.

    Plan: one explode, per-(doc, token) tf aggregate, token df
    aggregate joined back on the token key, scalar N broadcast, then a
    bounded per-doc window for the top-k. All keys are narrow; document
    text never shuffles.
    """
    e = docs.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("token"))
    tf = e.groupBy("doc", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_total"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", F.col("tf").cast("double") * F.col("n_total") / F.col("df")
        )
    )
    w = Window.partitionBy("doc").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_per_doc)
        .select(
            F.col("doc").alias(id_col),
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score",
            "rank",
        )
    )

def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    onepart: bool = False,
) -> DataFrame:
    """Exact segment-level dedup — the distributed analog of C4's
    line-level dedup (docs here are single-line, so the "line" unit is a
    fixed window of ``seg_tokens`` consecutive tokens). Every repeated
    segment keeps only its first corpus occurrence (min (doc_id, seg_no));
    later occurrences are cut and the surviving segments are re-joined in
    order into a cleaned document.

    Plan: explode segments ONCE (fan-out bounded by doc length /
    seg_tokens), elect first occurrences with a single
    ``row_number() OVER (PARTITION BY digest ORDER BY doc, seg_no)``
    pass — segment text crosses the wire exactly once on the digest key
    (the groupBy-then-join-back alternative shuffles the text on the
    same key for the join AND re-derives the exploded subtree per
    consumer, so the window form does strictly less work at any scale) —
    then one per-doc aggregate to reassemble. ``n_segments`` needs no
    explode at all: it is ``ceil(len(tokens)/seg_tokens)`` straight off
    the document, so the totals branch is a narrow projection of the
    (column-pruned) doc scan. The first-occurrence digest is a 128-bit
    struct of two xxhash64 runs under genuinely different seeds (16-byte
    shuffle key vs md5's 32-char hex; see the inline note on argument
    order — seed chaining makes the naive two-arg form 64-bit): for an EXACT dedup a single 64-bit key is
    not enough — at ~1e11-1e12 distinct segments the 2^64 birthday bound
    yields tens of thousands of expected collisions, each silently
    deleting a unique segment, while 2^128 makes collisions negligible.

    ``onepart``: below-crossover fusion for bench-scale
    inputs — the exploded segments repartition to ONE partition below
    the window (SinglePartition satisfies both the window's and the
    reassembly agg's clustered distributions, fusing
    sort+window+filter+agg into a single post-shuffle stage) and the
    reassembled side broadcasts into the totals left join (no second
    shuffle, no join exchange). Output is bit-identical by
    construction: row_number ranks by (doc, seg_no) inside each digest
    group regardless of partitioning, and the reassembly agg sorts the
    collected structs. The at-scale caller leaves ``onepart=False``
    and keeps the digest-parallel window — the plan a 100 TB corpus
    needs. ``test_plan_regression`` pins both sides:
    ``test_no_single_partition_exchange[segment_dedup]`` holds the
    at-scale plan SinglePartition-free, and
    ``test_segment_dedup_modes_bit_identical`` asserts the two modes
    yield byte-identical rows AND that the fused mode actually plans
    the single-partition shape.
    """
    t = tokens(text_col)
    nseg = F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int")
    segs = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(t, i * seg_tokens + 1, seg_tokens)
                ),
            )
        ).alias("seg_no", "seg"),
    ).withColumn(
        # two XXH64 runs of the segment under DIFFERENT seeds:
        # xxhash64(seg) = XXH64(seg, 42) and xxhash64(lit(1), seg) =
        # XXH64(seg, seed=XXH64(1, 42)). NOT xxhash64(seg, lit(1)) —
        # Spark folds multi-arg xxhash64 with the running hash as the
        # seed, so hashing the literal AFTER the string yields a pure
        # function of the first hash (a 64-bit key in disguise); hashing
        # the literal FIRST changes the seed the string is hashed under.
        "digest", F.struct(F.xxhash64("seg"), F.xxhash64(F.lit(1), "seg"))
    )
    if onepart:
        segs = segs.repartition(1)
    w = Window.partitionBy("digest").orderBy("doc", "seg_no")
    kept = segs.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    out = kept.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_no", "seg"))),
                    lambda s: s["seg"],
                ),
            )
        ).alias("clean_md5"),
    )
    totals = docs.select(
        F.col(id_col).alias("doc"), nseg.cast("long").alias("n_segments")
    )
    if onepart:
        out = F.broadcast(out)
    return (
        totals.join(out, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_segments",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
        )
    )


# C4-style corpus-filter constants (Raffel et al. 2020 §2.2, adapted to
# single-line docs: the per-line rules become per-document rules).
C4_BAD_SUBSTRINGS = ["lorem ipsum", "javascript", "{"]
C4_MIN_TOKENS = 5
C4_MAX_TOKEN_LEN = 20
C4_MAX_TOP_SHARE = 0.3


#: Gopher quality rules (Rae et al. 2021, Table A1), adapted to the
#: single-line documents table. All thresholds compare as INTEGER
#: cross-multiplications so both engines agree bit-for-bit.
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3   # 3·n ≤ total_chars
GOPHER_MAX_MEAN_WORD_LEN = 10  # total_chars ≤ 10·n
GOPHER_MAX_SYMBOL_RATIO_10 = 1   # 10·(hash+ellipsis) ≤ 1·n
GOPHER_MIN_ALPHA_RATIO_5 = 4     # 5·alpha_words ≥ 4·n
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2


def gopher_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-rule quality signals + keep decision (Rae et al. 2021 —
    the third standard filter next to C4 and the composite quality
    score): token-count bounds, mean-word-length band, symbol-to-word
    ratio (#/ellipsis), alphabetic-word fraction, and the ≥2-distinct-
    stopword requirement. One per-row projection (scale-free, no
    shuffle); every ratio threshold is an exact integer
    cross-multiplication, so the oracle matches bit-for-bit."""
    from .text import let_bind, tokens

    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_hash = F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("#")))
    n_ell = (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("...")))
    ) / 3 + (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("…")))
    )

    def body(t):
        return F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            F.aggregate(
                F.transform(t, F.length), F.lit(0), lambda a, x: a + x
            ).cast("long").alias("total_chars"),
            F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]")))
            .cast("long")
            .alias("alpha_words"),
            # array_intersect is already set-semantics (distinct output)
            F.size(F.array_intersect(t, stop_arr))
            .cast("long")
            .alias("stop_hits"),
        )

    d = docs.select(
        id_col,
        let_bind(tokens(text_col), body).alias("_g"),
        (n_hash + n_ell).cast("long").alias("n_symbols"),
    ).select(
        id_col,
        F.col("_g.n_tokens").alias("n_tokens"),
        F.col("_g.total_chars").alias("total_chars"),
        F.col("_g.alpha_words").alias("alpha_words"),
        F.col("_g.stop_hits").alias("stop_hits"),
        "n_symbols",
    )
    n = F.col("n_tokens")
    keep = (
        (n >= GOPHER_MIN_TOKENS)
        & (n <= GOPHER_MAX_TOKENS)
        & (F.lit(GOPHER_MIN_MEAN_WORD_LEN) * n <= F.col("total_chars"))
        & (F.col("total_chars") <= F.lit(GOPHER_MAX_MEAN_WORD_LEN) * n)
        & (F.lit(10) * F.col("n_symbols") <= F.lit(GOPHER_MAX_SYMBOL_RATIO_10) * n)
        & (F.lit(5) * F.col("alpha_words") >= F.lit(GOPHER_MIN_ALPHA_RATIO_5) * n)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
    )
    return d.withColumn("keep", keep)


#: Gopher repetition thresholds (Rae et al. 2021, Table A1): the most
#: frequent n-gram's character share for n=2..4, and the duplicated
#: (count ≥ 2) n-grams' character share for n=5..10, as integer
#: percentages so the keep decision is an exact cross-multiplication.
GOPHER_TOP_NGRAM_MAX_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_MAX_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def gopher_repetition(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Gopher repetition-removal signals + keep (Rae et al. 2021 Table
    A1, the half :func:`gopher_signals` doesn't cover): for n = 2..4
    the character share of the MOST FREQUENT n-gram, PROVIDED it
    actually repeats (count ≥ 2 — a doc whose n-grams are all unique
    scores 0, so short clean docs aren't rejected for containing one
    long n-gram once; count × gram chars / total token chars; ties
    break to the smallest gram hash), for n = 5..10 the character share of ALL duplicated
    n-grams (Σ over grams with count ≥ 2 of count × chars — the
    standard Gopher-reproduction convention, counting every
    occurrence), one row per doc.

    Plan: the whole filter is PER-DOCUMENT, so it compiles to ONE
    per-row projection — no explode, no shuffle, scale-free like
    :func:`gopher_signals`. Gram identity is the cross-engine
    polynomial token-hash fold the dedup tier standardizes on
    (``text.poly_hash`` per token, then h = fold(h·31 + th[i+j]) % mod
    via linear shifted-slice ``zip_with``; see
    ``shingle_hashes_from_tokens`` for why not transform(sequence)),
    gram chars are the same fold over token lengths, and per-gram
    counts come from ``sort_array`` + one adjacent-run ``aggregate``
    per n (the c4 top-token idiom): equal (hash, chars) pairs are
    adjacent after the sort, so one pass yields the max run (top
    count; ties resolve to the smallest hash for free — ascending
    order + strict >) and the Σ run·chars over runs ≥ 2. The keep
    decision compares 100·covered ≤ pct·total_chars in exact
    integers; shares are emitted as doubles for inspection.

    ``parallelism``: the per-row fold is CPU-heavy (9 n-gram passes),
    so a SMALL input file that parquet maps to one partition leaves 31
    cores idle — callers below a footer-count crossover pass
    ``parallelism=defaultParallelism`` to spread the rows first (one
    cheap exchange of raw docs). At corpus scale the scan already has
    thousands of partitions and the caller leaves this None: the plan
    stays exchange-free."""
    from .text import MOD, let_bind, poly_hash, tokens

    if parallelism:
        docs = docs.repartition(parallelism)

    ns = sorted(GOPHER_TOP_NGRAM_MAX_PCT) + sorted(GOPHER_DUP_NGRAM_MAX_PCT)
    base = docs.select(
        F.col(id_col).alias("doc"),
        let_bind(
            tokens(text_col),
            lambda tt: F.struct(
                F.transform(tt, lambda tok: poly_hash(tok)).alias("th"),
                F.transform(tt, lambda x: F.length(x).cast("long")).alias("lens"),
            ),
        ).alias("_b"),
    ).select(
        "doc",
        F.col("_b.th").alias("th"),
        F.col("_b.lens").alias("lens"),
    ).withColumn(
        "total_chars",
        F.aggregate("lens", F.lit(0).cast("long"), lambda a, x: a + x),
    )

    def _run_fold(n):
        """(top_cov, dup_cov) struct for one n: gram (hash, chars)
        pairs -> sort -> adjacent-run fold, all inside the row."""
        m = F.size("th") - n + 1
        h = F.slice("th", 1, m)
        c = F.slice("lens", 1, m)
        for j in range(1, n):
            h = F.zip_with(
                h, F.slice("th", j + 1, m), lambda a, b: (a * 31 + b) % F.lit(MOD)
            )
            c = F.zip_with(c, F.slice("lens", j + 1, m), lambda a, b: a + b)
        pairs = F.sort_array(
            F.zip_with(h, c, lambda hh, cc: F.struct(hh.alias("h"), cc.alias("c")))
        )
        zero = F.lit(0).cast("long")
        init = F.struct(
            F.lit(-1).cast("long").alias("ph"),   # sentinel: hashes are >= 0
            zero.alias("pc"),
            zero.alias("run"),
            zero.alias("best_cnt"),
            zero.alias("top"),
            zero.alias("dup"),
        )

        def step(acc, x):
            same = (x["h"] == acc["ph"]) & (x["c"] == acc["pc"])
            # close the previous run when the gram changes
            close = ~same & (acc["run"] >= 2) & (acc["run"] > acc["best_cnt"])
            closed_top = F.when(close, acc["run"] * acc["pc"]).otherwise(acc["top"])
            closed_best = F.when(close, acc["run"]).otherwise(acc["best_cnt"])
            closed_dup = F.when(
                ~same & (acc["run"] >= 2), acc["dup"] + acc["run"] * acc["pc"]
            ).otherwise(acc["dup"])
            return F.struct(
                x["h"].alias("ph"),
                x["c"].alias("pc"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
                closed_best.alias("best_cnt"),
                closed_top.alias("top"),
                closed_dup.alias("dup"),
            )

        def finish(acc):
            top = F.when(
                (acc["run"] >= 2) & (acc["run"] > acc["best_cnt"]),
                acc["run"] * acc["pc"],
            ).otherwise(acc["top"])
            dup = F.when(acc["run"] >= 2, acc["dup"] + acc["run"] * acc["pc"]).otherwise(
                acc["dup"]
            )
            return F.struct(top.cast("long").alias("top"), dup.cast("long").alias("dup"))

        out = F.aggregate(pairs, init, step, finish)
        return F.when(F.size("th") >= n, out).otherwise(
            F.struct(zero.alias("top"), zero.alias("dup"))
        )

    j = base.select(
        "doc",
        "total_chars",
        *[_run_fold(n).alias(f"_f{n}") for n in ns],
    ).select(
        "doc",
        "total_chars",
        *[F.col(f"_f{n}.top").alias(f"_top{n}") for n in GOPHER_TOP_NGRAM_MAX_PCT],
        *[F.col(f"_f{n}.dup").alias(f"_dup{n}") for n in GOPHER_DUP_NGRAM_MAX_PCT],
    )
    tot = F.col("total_chars")

    def share(cov):
        return F.when(tot > 0, cov.cast("double") / tot).otherwise(F.lit(0.0))

    covs = {
        **{
            n: F.coalesce(F.col(f"_top{n}"), F.lit(0).cast("long"))
            for n in GOPHER_TOP_NGRAM_MAX_PCT
        },
        **{
            n: F.coalesce(F.col(f"_dup{n}"), F.lit(0).cast("long"))
            for n in GOPHER_DUP_NGRAM_MAX_PCT
        },
    }
    keep = None
    for n, pct in {**GOPHER_TOP_NGRAM_MAX_PCT, **GOPHER_DUP_NGRAM_MAX_PCT}.items():
        c = F.lit(100) * covs[n] <= F.lit(pct) * tot
        keep = c if keep is None else (keep & c)
    return j.select(
        F.col("doc").alias(id_col),
        "total_chars",
        *[share(covs[n]).alias(f"top_{n}gram_share") for n in GOPHER_TOP_NGRAM_MAX_PCT],
        *[share(covs[n]).alias(f"dup_{n}gram_share") for n in GOPHER_DUP_NGRAM_MAX_PCT],
        keep.alias("keep"),
    )


def _c4_signal_exprs(text_col: str = "text") -> dict:
    """The five C4 signal expressions as raw Columns (shared by the
    signals table and :func:`c4_keep_expr` — one definition, two
    consumers)."""
    t = tokens(text_col)
    low = F.lower(F.col(text_col))
    bad = None
    for s in C4_BAD_SUBSTRINGS:
        c = F.contains(low, F.lit(s))
        bad = c if bad is None else (bad | c)
    arr = F.array(*[F.lit(w) for w in STOPWORDS])
    # top token share via the sorted token list: longest run of equal
    # adjacent tokens == max frequency (exact, no second explode).
    sorted_t = F.sort_array(t)
    run = F.aggregate(
        sorted_t,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return {
        "n_tokens": F.size(t).cast("long"),
        "max_token_len": F.array_max(F.transform(t, F.length)).cast("long"),
        "has_bad_substring": bad,
        "stop_hits": F.size(
            F.filter(t, lambda x: F.array_contains(arr, x))
        ).cast("long"),
        "top_token_freq": run.cast("long"),
    }


def _c4_keep_from(s: dict):
    """The C4 keep predicate over the signal columns/exprs in ``s``."""
    return (
        (s["n_tokens"] >= C4_MIN_TOKENS)
        & (s["max_token_len"] <= C4_MAX_TOKEN_LEN)
        & ~s["has_bad_substring"]
        & (s["stop_hits"] > 0)
        & (
            s["top_token_freq"].cast("double") / s["n_tokens"]
            <= F.lit(C4_MAX_TOP_SHARE)
        )
    )


def c4_keep_expr(text_col: str = "text"):
    """The C4 keep decision as ONE inline boolean Column — lets a
    curation stage FILTER the doc stream directly instead of computing
    a doc_id keep-set and joining it back: the predicate is per-row, so
    a keep-set join would be a data-scale self-join (SMJ at 100 TB) for
    nothing. The keep decisions equal :func:`c4_filter_signals`' ``keep``
    by construction (both built from :func:`_c4_signal_exprs`)."""
    return _c4_keep_from(_c4_signal_exprs(text_col))


def c4_filter_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style quality-filter signals + keep decision, one row per doc.

    Rules (each an independent flag so downstream can re-weigh them):
    ≥ ``C4_MIN_TOKENS`` tokens, longest token ≤ ``C4_MAX_TOKEN_LEN``
    chars, no bad substring (lorem ipsum / javascript / code braces),
    at least one stopword hit, and the most frequent token's share of
    the doc ≤ ``C4_MAX_TOP_SHARE`` (the one-word-spam rule). Pure
    per-row projection — no shuffle, scale-free; exact rational
    arithmetic only, so both engines agree bit-for-bit.
    """
    s = _c4_signal_exprs(text_col)
    d = docs.select(
        F.col(id_col), *[c.alias(name) for name, c in s.items()]
    )
    return d.withColumn(
        "keep", _c4_keep_from({name: F.col(name) for name in s})
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document mean token log-probability under the corpus unigram
    LM — the cheap perplexity-style quality score (low = rare/garbled
    vocabulary, high = in-distribution text).

    Plan: one explode -> (token, count) hash aggregate (map-side
    combined; the shuffle carries token keys, not text), a scalar total
    broadcast, a broadcast-able join from the exploded tokens back to
    their corpus counts, then one per-doc aggregate. ln() and the mean
    are rounded to ``ndigits`` on both engines — sum order and libm
    differ cross-engine in the last ulp (same rationale as TimeCues).
    """
    e = docs.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("token"))
    cnt = e.groupBy("token").agg(F.count("*").alias("tf"))
    tot = cnt.agg(F.sum("tf").cast("double").alias("t_total"))
    scored = (
        e.join(cnt, "token")
        .crossJoin(F.broadcast(tot))
        .withColumn("lp", F.log(F.col("tf") / F.col("t_total")))
    )
    return scored.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("lp"), ndigits).alias("mean_logprob"),
        F.round(F.exp(-F.avg("lp")), ndigits).alias("perplexity"),
    ).select(F.col("doc").alias(id_col), "n_tokens", "mean_logprob", "perplexity")


def token_length_stats(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    quantiles: tuple = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Per-group token-length distribution — the sequence-budget
    planning table (context-window fill rates, packing bin sizing,
    truncation loss estimates all read exactly this): exact linear-
    interpolated percentiles + mean/max/count of the whitespace token
    count, one row per ``group_col`` value.

    Exactness: Spark's ``percentile`` (exact, linear interpolation)
    and DuckDB's ``quantile_cont`` implement the same definition and
    agree bit-for-bit on int64 inputs (interpolation is one float
    expression of two exact integers). One hash aggregate on the group
    key; the shuffle carries (group, count) partials — map-side
    combined, scale-free."""
    L = F.size(tokens(text_col)).cast("long")
    pct = F.percentile(F.col("_L"), F.array(*[F.lit(q) for q in quantiles]))
    out = (
        docs.select(F.col(group_col).alias("grp"), L.alias("_L"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("_L"), 6).alias("mean_tokens"),
            F.max("_L").alias("max_tokens"),
            pct.alias("_p"),
        )
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "mean_tokens",
        "max_tokens",
        *[
            F.round(F.element_at("_p", i + 1), 6).alias(f"p{round(q * 100)}")
            for i, q in enumerate(quantiles)
        ],
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document mean transition log-probability under the corpus
    bigram LM with add-one (Laplace) smoothing — the next quality tier
    above :func:`unigram_logprob`: it scores word ORDER, so shuffled
    or template-stitched text that passes the unigram filter scores
    low here. P(w_i | w_{i-1}) = (C(w_{i-1} w_i) + 1) / (C(w_{i-1}) +
    V); docs with fewer than two tokens emit no row (no transitions to
    score).

    Plan: ONE tokenize+hash pass serves unigrams AND bigrams — ``zip_with`` pads
    the shorter (shifted) side with null, so entry i is (h_i, h_{i+1})
    and the final entry per doc carries r IS NULL (``xxhash64(NULL)``
    is the SEED, 42, not null — the r-hash is therefore null-guarded);
    the l-stream is exactly the unigram stream, the r-non-null rows
    exactly the adjacent pairs. Token KEYS are ``F.xxhash64`` — pure
    join/count identity that never reaches the output, so any
    injective map yields identical scores while the oracle keys on raw
    token strings (bit-equal to a string-keyed form; hash keys plus the
    single pass build in 0.83 s at sf0.1 against 1.14 s for string keys
    over two passes). Counts are map-side combined; V is a lazy broadcast
    scalar; the three consumers re-scan the narrow explode rather than
    localCheckpointing a data-scale intermediate (3 narrow scans beat
    materializing the exploded stream — measured, and the at-100 TB
    trade is the same). ln() rounds to ``ndigits`` on both engines
    (libm last-ulp, same rationale as TimeCues)."""
    from .text import let_bind

    t = tokens(text_col)
    ex = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            let_bind(
                t,
                lambda tt: F.zip_with(
                    tt,
                    F.slice(tt, 2, F.greatest(F.size(tt) - 1, F.lit(0))),
                    lambda a, b: F.struct(
                        F.xxhash64(a).alias("l"),
                        F.when(b.isNotNull(), F.xxhash64(b)).alias("r"),
                    ),
                ),
            )
        ).alias("p"),
    ).select("doc", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    uni = ex.groupBy("l").agg(F.count("*").alias("cl"))
    # vocab size as a LAZY broadcast scalar (the unigram_logprob
    # pattern) — no eager job at build time, no recomputed aggregate
    vsz = uni.agg(F.count("*").alias("_v"))
    pairs = ex.where(F.col("r").isNotNull())
    bi = pairs.groupBy("l", "r").agg(F.count("*").alias("cbi"))
    scored = (
        pairs.join(bi, ["l", "r"])
        .join(uni, "l")
        .crossJoin(F.broadcast(vsz))
        .withColumn(
            "lp",
            F.log((F.col("cbi") + 1).cast("double") / (F.col("cl") + F.col("_v"))),
        )
    )
    return scored.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), ndigits).alias("mean_logprob"),
        F.round(F.exp(-F.avg("lp")), ndigits).alias("perplexity"),
    ).select(F.col("doc").alias(id_col), "n_bigrams", "mean_logprob", "perplexity")


#: bpe_train's driver gate: at or below this many distinct words the
#: merge loop runs driver-side on the collected (word, count) table;
#: above it the vocab stays a DataFrame and each iteration is one tiny
#: top-1 job.
_BPE_DRIVER_MAX_VOCAB = 100_000

#: symbol separator inside the word state string — U+001F (unit
#: separator); the trainer asserts no input token contains it.
_BPE_SEP = "\x1f"


def _bpe_merge_expr(st, l: str, r: str):
    """Symbol-aligned non-overlapping merge of pair (l, r) applied to a
    separator-joined state string: left-to-right fold with a string
    accumulator (see bpe_train's docstring for why plain replace is
    wrong). The leading separator the fold produces is stripped."""
    folded = F.aggregate(
        F.split(st, _BPE_SEP),
        F.lit(""),
        lambda acc, x: F.when(
            (x == F.lit(r)) & F.endswith(acc, F.lit(_BPE_SEP + l)),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(_BPE_SEP), x)),
    )
    return F.substring(folded, 2, 2147483647)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) — the merge-table
    half of the tokenizer-prep story (:func:`vocab_topk` builds the
    word-count input; this consumes it). Returns ``n_merges`` rows
    (merge_rank, lhs, rhs, pair_count): iteration i counts all adjacent
    symbol pairs over the current segmentation weighted by word count,
    picks the most frequent (ties: smallest (lhs, rhs) — deterministic),
    and merges every non-overlapping left-to-right occurrence.

    Exact cross-engine trick: a word's segmentation is ONE string with
    U+001F between symbols; applying a merge is a left-to-right fold
    with a STRING accumulator — append ``x`` without a separator when
    the accumulator ends with ``⟂l`` and ``x == r``, else append
    ``⟂x`` — which is symbol-aligned (the separator before ``l`` makes
    a partial-symbol suffix impossible), non-overlapping by
    construction (the just-merged symbol ``lr`` never re-ends with
    ``⟂l``), and expressible identically in Spark's ``aggregate`` HOF,
    Python, and DuckDB's same-type ``list_reduce``. A plain substring
    ``replace`` of ``l⟂r`` is NOT correct: it fires when a neighboring
    symbol merely ends with ``l`` (e.g. after merging (a,b), word
    'abc' is ``ab⟂c`` and replacing ``b⟂c`` would merge INSIDE the
    symbol 'ab').

    BPE trains on the WORD-COUNT table, not the corpus: the corpus
    crosses the plan once (token explode + count), after which every
    iteration touches ≤ |vocab| rows.

    Driver gate (:func:`cache.collect_if_small`): a vocab of at most
    ``_BPE_DRIVER_MAX_VOCAB`` words is collected and the loop runs in
    Python — per-iteration state is one merge pair. A larger vocab stays
    a DataFrame; each iteration is one |vocab|-row pair-count aggregate
    plus a 1-row ``limit(1).collect()``. The corpus executes exactly
    once either way, and both sides emit the same merge table (pinned
    by test)."""
    from .text import tokens

    e = docs.select(F.explode(tokens(text_col)).alias("token")).where(
        (F.col("token") != "") & ~F.col("token").contains(_BPE_SEP)
    )
    vocab, tbl = cache.collect_if_small(
        e.groupBy("token").agg(F.count("*").cast("long").alias("cnt")),
        _BPE_DRIVER_MAX_VOCAB,
    )
    spark = docs.sparkSession
    out_schema = "merge_rank long, lhs string, rhs string, pair_count long"

    if tbl is not None:
        rows = list(zip(tbl["token"].to_pylist(), tbl["cnt"].to_pylist()))
        states = {w: _BPE_SEP.join(w) for w, _ in rows}
        merges = []
        for rank in range(n_merges):
            counts: dict = {}
            for w, c in rows:
                sy = states[w].split(_BPE_SEP)
                for j in range(len(sy) - 1):
                    counts[(sy[j], sy[j + 1])] = counts.get((sy[j], sy[j + 1]), 0) + c
            if not counts:
                break
            (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, l, r, c))
            suffix = _BPE_SEP + l
            for w in states:
                acc = ""
                for sym in states[w].split(_BPE_SEP):
                    if sym == r and acc.endswith(suffix):
                        acc += sym  # merge: drop the separator
                    else:
                        acc += _BPE_SEP + sym
                states[w] = acc[1:]
        return spark.createDataFrame(merges, out_schema)

    # the per-iteration replace chain re-reads the cut vocab, not the corpus
    state = vocab.select("token", "cnt", F.array_join(F.split("token", ""), _BPE_SEP).alias("st"))
    merges = []
    for rank in range(n_merges):
        sy = F.split("st", _BPE_SEP)
        pairs = state.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(sy, 1, F.size(sy) - 1),
                    F.slice(sy, 2, F.size(sy) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rank, l, r, c))
        state = state.withColumn("st", _bpe_merge_expr(F.col("st"), l, r))
    return spark.createDataFrame(merges, out_schema)


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table (rank order) to every document —
    the consuming half of :func:`bpe_train`, and the realistic
    token-count stage for sequence budgeting: after n merges a word's
    symbol count is its BPE token count under that vocabulary.

    Pure per-row projection (scale-free, no shuffle): each word becomes
    a U+001F-joined character string and every merge is one chained
    symbol-aligned fold (``_bpe_merge_expr`` — the training loop's
    exact semantics), so segmenting the training corpus with its own
    merge table reproduces the trainer's final state. Returns (doc_id,
    n_bpe_tokens, seg_md5) where seg_md5 fingerprints the full
    segmentation (symbols joined by ' ', words by ' | ')."""
    from .text import tokens

    t = F.filter(
        tokens(text_col),
        lambda x: (x != "") & ~x.contains(_BPE_SEP),
    )
    st = F.transform(t, lambda w: F.array_join(F.split(w, ""), _BPE_SEP))

    def _rep(l, r):
        # closure factory, NOT `lambda x, l=l, r=r:` — pyspark's
        # transform() binds extra lambda parameters as the array index
        return lambda x: _bpe_merge_expr(x, l, r)

    for l, r in merges:
        st = F.transform(st, _rep(l, r))
    words = F.transform(
        st, lambda x: F.array_join(F.split(x, _BPE_SEP), " ")
    )
    n_bpe = F.aggregate(
        st,
        F.lit(0).cast("long"),
        lambda a, x: a + F.size(F.split(x, _BPE_SEP)),
    )
    return docs.select(
        id_col,
        n_bpe.alias("n_bpe_tokens"),
        F.md5(F.array_join(words, " | ")).alias("seg_md5"),
    )


def hashed_features(
    docs: DataFrame,
    d: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text vectorizer (Weinberger et al. 2009, the
    "hashing trick"): every token folds into one of ``d`` buckets via
    its polynomial hash, with a ±1 sign drawn from the next hash bit so
    collisions cancel in expectation — the fixed-width featurization a
    downstream classifier (quality model, lang filter) trains on
    without a vocabulary pass. Returns the SPARSE long form
    (doc_id, dim, weight): only non-zero buckets, weight = signed
    occurrence count (int64 — exact in both engines).

    Plan: the per-token hashes are computed INSIDE the token-hash array
    HOF (one projection), the explode fans out narrow int64 rows only
    (never text), and one (doc, dim) hash aggregate with map-side
    combine produces the sparse vector — no windows, no joins, no UDFs.
    """
    from .text import token_hashes

    th = docs.select(
        F.col(id_col).alias("doc"), F.explode(token_hashes(text_col)).alias("h")
    )
    # integer DIV, not float division + cast: exact at any hash width
    sign = F.lit(1) - F.lit(2) * (F.expr(f"h DIV {int(d)}") % F.lit(2))
    return (
        th.groupBy("doc", (F.col("h") % F.lit(d)).alias("dim"))
        .agg(F.sum(sign).alias("weight"))
        .select(F.col("doc").alias(id_col), F.col("dim").cast("long"), "weight")
    )


def source_length_trim(
    docs: DataFrame,
    lo: float = 0.01,
    hi: float = 0.99,
    len_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adaptive per-source length trimming: keep documents whose length
    lies within the source's own [lo, hi] exact interpolated
    percentiles — the adaptive form of Gopher's absolute length bounds
    (a crawl dump and a books corpus need different cutoffs; percentile
    gating needs no per-source tuning). Returns the kept rows
    (doc_id, source, n_chars, p_lo, p_hi).

    Scale shape: the percentile table is one row per SOURCE (k rows —
    sources are a catalog, not data), computed by a single group
    aggregate and re-entering via broadcast hash join; the corpus
    itself crosses the plan once as a narrow projection. Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition and agree bit-for-bit on int64 inputs
    (the token_length_stats parity)."""
    d = docs.select(id_col, group_col, F.col(len_col).cast("long").alias("l"))
    # one array-percentile agg (single sort buffer per group), not two
    q = d.groupBy(group_col).agg(
        F.percentile("l", F.array(F.lit(lo), F.lit(hi))).alias("_p")
    ).select(
        group_col,
        F.get("_p", 0).alias("p_lo"),
        F.get("_p", 1).alias("p_hi"),
    )
    return (
        d.join(F.broadcast(q), group_col)
        .where((F.col("l") >= F.col("p_lo")) & (F.col("l") <= F.col("p_hi")))
        .select(id_col, group_col, F.col("l").alias(len_col), "p_lo", "p_hi")
    )


#: WordPiece fold accumulator encoding: acc = next_pos * ENC + count.
#: Positions and counts stay < ENC, so the packed value stays < ~1e7 —
#: exact under both engines' integer arithmetic.
WP_ENC = 100_000


def wordpiece_vocab(
    docs: DataFrame,
    vocab_size: int = 48,
    max_len: int = 4,
    text_col: str = "text",
) -> list[str]:
    """Train the WordPiece-style subword vocabulary: the ``vocab_size``
    most frequent word substrings of length 2..``max_len`` (counted
    with multiplicity over every word occurrence; ties break on the
    substring). Single characters are the implicit fallback tier, so
    any word segments without an UNK. Returns a sorted python list —
    bounded driver state (the kmeans-seeds posture); the oracle derives
    the identical set in SQL (exact integer counts, same tie-break)."""
    # count distinct WORDS first, then explode substrings once per
    # distinct word weighted by its occurrence count — sum(wn) is the
    # identical multiplicity count with a Zipf-factor smaller explode
    # (the dictionary-encode trick; occurrence-scale substring fan-out
    # never materializes)
    wc = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    # NB: F.sequence(1, stop) with stop < 1 generates a DESCENDING
    # [1, 0] (not an empty array like the oracle's range()), so words
    # shorter than l must short-circuit to an empty list explicitly
    subs = wc.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(2), F.lit(max_len)),
                    lambda l: F.when(
                        F.length("w") >= l,
                        F.transform(
                            F.sequence(F.lit(1), F.length("w") - l + 1),
                            lambda i: F.col("w").substr(i, l),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("sub"),
        "wn",
    )
    cnt = subs.groupBy("sub").agg(F.sum("wn").alias("c"))
    # top-k = TakeOrderedAndProject (no single-partition window ranker)
    top = (
        cnt.orderBy(F.col("c").desc(), F.col("sub"))
        .limit(vocab_size)
        .select("sub")
        .collect()
    )
    return sorted(r["sub"] for r in top)


def wordpiece_stats(
    docs: DataFrame,
    vocab_size: int = 48,
    max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: list[str] | None = None,
) -> DataFrame:
    """Greedy longest-match-first subword segmentation (the WordPiece
    inference rule, Wu et al. 2016) with the trained substring
    vocabulary + single-character fallback: at each position take the
    longest vocab piece (``max_len``..2) starting there, else one
    character. Returns (doc_id, n_pieces, n_words) — the sequence
    budget under the subword tokenizer (compare ``token_counts``'
    whitespace/BPE-ish estimates).

    Exactness: the per-word greedy walk is ONE integer-encoded
    ``aggregate`` fold over char positions (acc = next_pos·ENC+count —
    steps that land mid-piece are no-ops), every piece-length test an
    ``array_contains`` against the ≤vocab_size literal array, all
    JVM-side whole-stage codegen; the oracle replays the identical
    fold via ``list_reduce`` on the identically derived vocabulary, so
    counts match exactly. Scale: the vocab is bounded driver state;
    the segmentation is a narrow per-word projection + one doc-keyed
    aggregate — text fans out only as words."""
    voc = vocab if vocab is not None else wordpiece_vocab(
        docs, vocab_size, max_len, text_col
    )
    voc_lit = F.array(*[F.lit(v) for v in voc])
    wdf = docs.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("w")
    )
    # the greedy fold is deterministic per WORD, so run it once per
    # distinct word and join the piece count back onto occurrences —
    # fold work scales with the (Heaps-law-bounded) vocabulary, not
    # the corpus; AQE broadcasts the small segmented-word side
    dw = wdf.select("w").distinct()
    ln = F.length("w")

    def step(acc, i):
        np_ = (acc / F.lit(WP_ENC)).cast("long")
        il = i.cast("long")
        plen = F.lit(1).cast("long")
        for l in range(2, max_len + 1):
            plen = F.when(
                (il + l - 1 <= ln)
                & F.array_contains(voc_lit, F.col("w").substr(i, F.lit(l))),
                l,
            ).otherwise(plen)
        return F.when(il < np_, acc).otherwise(
            (il + plen) * WP_ENC + (acc % WP_ENC) + 1
        )

    # same sequence(1, 0) == [1, 0] hazard as the vocab builder: an
    # empty word must fold over an EMPTY position list (0 pieces)
    positions = F.when(ln >= 1, F.sequence(F.lit(1), ln)).otherwise(
        F.array().cast("array<int>")
    )
    pieces = (
        F.aggregate(
            positions,
            F.lit(WP_ENC).cast("long"),
            step,
        )
        % WP_ENC
    )
    seg = dw.select("w", pieces.alias("p"))
    per_word = wdf.join(seg, "w").select("doc", "p")
    return per_word.groupBy("doc").agg(
        F.sum("p").cast("long").alias("n_pieces"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    ).select(F.col("doc").alias(id_col), "n_pieces", "n_words")


def zipf_fit(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the top-``k`` vocabulary: OLS of
    ln(frequency) on ln(rank) — the rank-frequency slope a natural
    corpus keeps near −1 (template/synthetic/boilerplate text shows up
    as a flat or kinked curve; a standard data-quality audit metric).
    Returns ONE row ``(n_terms, slope, intercept, r2)``.

    Plan: the top-k vocabulary table (``vocab_topk`` — explode, two
    hash aggregates, TakeOrdered) is k rows; the OLS closed form is
    one scalar aggregate over them. Float sums span k≈100 values, so
    partial-order drift sits at the 1e-13 level — far under the value
    gate."""
    v = vocab_topk(docs, k=k, text_col=text_col).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n_occurrences").cast("double")).alias("y"),
    )
    s = v.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return s.select(
        n.cast("long").alias("n_terms"),
        (cov / varx).alias("slope"),
        ((sy - (cov / varx) * sx) / n).alias("intercept"),
        ((cov * cov) / (varx * vary)).alias("r2"),
    )


def oov_rate(
    docs: DataFrame,
    k: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary rate per document against the top-``k`` corpus
    vocabulary — the tokenizer-coverage audit (a doc full of tokens a
    k-entry vocab can't cover costs UNK-heavy training sequences).
    Returns (doc_id, n_tokens, n_oov, oov_rate).

    Plan: the vocabulary is the bounded ``vocab_topk`` table collected
    to a k-string literal array (trained scalar state, the kmeans-seeds
    posture), so the scoring pass is ONE narrow let-bound HOF
    projection — no join, no second shuffle."""
    voc = [
        r["token"] for r in vocab_topk(docs, k=k, text_col=text_col).collect()
    ]
    arr = F.array(*[F.lit(v) for v in sorted(voc)])

    def body(t):
        n = F.size(t)
        oov = F.size(F.filter(t, lambda x: ~F.array_contains(arr, x)))
        return F.struct(
            n.cast("long").alias("n"),
            oov.cast("long").alias("o"),
        )

    from .text import let_bind, tokens

    st = let_bind(tokens(text_col), body)
    d = docs.select(F.col(id_col), st.alias("_s"))
    return d.select(
        id_col,
        F.col("_s.n").alias("n_tokens"),
        F.col("_s.o").alias("n_oov"),
        (F.col("_s.o").cast("double") / F.col("_s.n")).alias("oov_rate"),
    )
