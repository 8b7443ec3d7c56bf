"""Deduplication operators for training-data pipelines (BASELINE.json
north star): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding
cosine (in ``similarity``).

Shingle hash arrays are higher-order-function columns (JVM, codegen);
MinHash and SimHash signatures are Arrow column kernels over those
arrays (``functions.arrow.column``), and the exploded shingle rows some
operators need come from Arrow map kernels. Candidate generation is an
equi-join on band/bucket keys (shuffle-bounded, no O(n²) cross join),
and only candidate pairs pay the exact-verification cost. This is the
shape that survives 100 TB: signatures are a narrow projection;
the band join's fan-out is controlled by band width.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions import arrow
from .text import let_bind, shingle_hashes_from_tokens, shingles, token_hashes  # noqa: F401 (shingles kept for API)

MOD = 1_000_000_007
MH_P = 4_294_967_311  # prime > 2^32; a*h+b stays < 2^63 for h < MOD

_rng = random.Random(42)
MH_A = [_rng.randrange(1, 2**31 - 1) | 1 for _ in range(16)]
MH_B = [_rng.randrange(0, 2**31 - 1) for _ in range(16)]


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the lowest id per md5(text).
    Hash-groupBy — one shuffle on the digest, no text comparison."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("content_md5")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").cast("long").alias("n_copies")
    )


def normalized_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the NORMALIZED text (``text.normalize_text``:
    lowercase, punctuation→space, collapsed whitespace) — catches the
    case/punct/whitespace variants raw content-hash dedup misses.
    Returns (norm_md5, keep_id, n_copies, n_exact_forms):
    ``n_exact_forms`` counts the distinct RAW digests folding into the
    group, so ``n_exact_forms > 1`` rows are exactly the dedup wins the
    normalization adds over :func:`exact_dedup`. Same shape: one
    digest-keyed hash aggregate; only digests shuffle."""
    from .text import normalize_text

    return docs.groupBy(F.md5(normalize_text(text_col)).alias("norm_md5")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct(F.md5(F.col(text_col))).cast("long").alias("n_exact_forms"),
    )


def shingle_hashes(text_col: str = "text", k: int = 3) -> Column:
    """Distinct token-k-gram shingle hashes, combined from per-token
    polynomial hashes (hash each token once, fold k of them — 3× less
    char work than hashing shingle strings; same recurrence shape).

    The let-bound zip_with JVM expression; ``array_distinct`` keeps the
    FIRST occurrence order. An Arrow array kernel measured slower here
    once a downstream explode follows (0.79 vs 0.70 s at sf0.1): the
    array pays the Arrow boundary and still explodes JVM-side. Where a
    consumer needs the exploded rows, :func:`_positional_trigram_rows`
    and :func:`_distinct_shingle_rows` emit them directly instead."""
    return shingle_hashes_from_tokens(token_hashes(text_col), k)


def minhash_signature(hashes: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: sig_j = min over shingle hashes h of
    (a_j·h + b_j) mod p — universal-hash family with fixed seeds so the
    oracle reproduces it exactly.

    Arrow-batched numpy over the flattened batch (one vectorized pass
    and one ``np.minimum.reduceat`` per hash function): identical int64
    arithmetic, 16 hash funcs × |shingles| per doc; an empty array
    signs as int64 max."""
    import numpy as np

    A = np.array(MH_A[:num_hashes], dtype=np.int64)
    B = np.array(MH_B[:num_hashes], dtype=np.int64)

    def _sig(hs):
        h, off = arrow.segments(hs)
        h = h.astype(np.int64, copy=False)
        out = np.full((len(off) - 1, num_hashes), 2**63 - 1, dtype=np.int64)
        nz = np.diff(off) > 0
        if nz.any():
            starts = off[:-1][nz]
            for j in range(num_hashes):
                out[nz, j] = np.minimum.reduceat((A[j] * h + B[j]) % MH_P, starts)
        return out

    _sig = arrow.column(_sig, "array<long>")

    return _sig(hashes)


def band_keys(sig: Column, bands: int = 4, rows: int = 4) -> Column:
    """LSH banding: split the signature into ``bands`` groups of ``rows``
    values; each key embeds its band index so a single equi-join on the
    key string is enough (no positional explode)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            ":", b.cast("string"), F.concat_ws("-", F.slice(sig, b * rows + 1, rows))
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature projection -> explode band
    keys -> self-equi-join on (band, key) -> exact shingle-Jaccard verify
    >= threshold. Returns (doc_a, doc_b, jaccard), doc_a < doc_b.

    A doc with an empty or NULL shingle set (fewer than 3 tokens) emits
    no band key, so it is in no pair: its Jaccard with another such doc
    is 0/0, and all of them would share the one all-max signature."""
    # NOTE on materialization: do NOT cache() DataFrames carrying
    # array<long> columns — the columnar in-memory cache serializes nested
    # arrays pathologically (50s for 5k docs vs 2s to recompute). The
    # signature is an Arrow UDF stage, which Catalyst plans as its own
    # ArrowEvalPython node (no project-collapse re-inlining).
    # The (doc, sh) table gets its own cut boundary — checkpoint BLOCK
    # writes don't have the columnar array pathology — so the shingle
    # pass (tokenize + k-gram hash fold over every doc) runs ONCE and
    # feeds both the signature and the verify join's sh_tbl (without
    # the boundary it runs twice: 1.32 vs 1.87 s at sf0.1, interleaved
    # A/B, outputs identical).
    d0 = cache.cut(
        docs.select(F.col(id_col).alias("doc"), shingle_hashes(text_col).alias("sh"))
    )
    d = d0.where(F.size("sh") > 0).withColumn("sig", minhash_signature(F.col("sh")))
    d_bk = d.select("doc", band_keys(F.col("sig"), bands, rows).alias("bk"))
    # band join + pair-dedup on bare ids (cheap shuffle), THEN join the
    # shingle arrays back only for surviving candidates — the arrays never
    # ride through the band join or the distinct
    # storage boundary: cache.cut, not keep — with materialization
    # timed, the columnar persist write costs ~0.4 s more than the
    # checkpoint block write here (1.56 vs 1.15 s at sf0.1)
    e = cache.cut(d_bk.select("doc", F.explode("bk").alias("key")))
    l = e.select(F.col("doc").alias("doc_a"), "key")
    r = e.select(F.col("doc").alias("doc_b"), "key")
    cand = (
        l.join(r, ["key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sh_tbl = d0  # the materialized shingle table — no second text pass
    cand = cand.join(
        sh_tbl.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(sh_tbl.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    # distinct sets: |A ∪ B| = |A| + |B| − |∩| (array sizes are O(1)
    # header reads), so the union array is never built; |∩| is let-bound
    # into both sides of the division (SCALE.md lesson 1)
    jac = let_bind(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long"),
        lambda i: i.cast("double") / (F.size("sh_a") + F.size("sh_b") - i),
    )
    out = cand.select("doc_a", "doc_b", jac.alias("jaccard"))
    return out.where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = 256,
) -> DataFrame:
    """Exact n-gram Jaccard dedup: explode distinct shingles, equi-join on
    the shingle (candidate pairs share >= 1 shingle), count intersections,
    Jaccard = |∩| / (|A|+|B|−|∩|). No LSH approximation — the full-recall
    variant for moderate corpus sizes.

    ``max_doc_freq`` is the 100 TB knob: a shingle appearing in d docs
    fans the self-join out to d² rows, so common boilerplate shingles
    (stop-shingles) dominate the join at scale. With the cutoff set
    (DEFAULT 256 — the unbounded d² self-join is explicit opt-in via
    ``max_doc_freq=None``), candidate generation only uses shingles whose
    document frequency is <= max_doc_freq (bounding the join at
    |shingles|·max_doc_freq² rows), and the Jaccard of every surviving
    pair is then computed EXACTLY from the full shingle arrays. The only
    loss is pairs whose entire overlap consists of above-cutoff shingles
    — for near-duplicates (high Jaccard) such pairs require every shared
    shingle to be corpus-wide boilerplate, which the threshold filter
    would likely reject anyway.
    """
    # no path reads the full shingle ARRAYS more than once (the bounded
    # path verifies via counts + hot arrays, below), so there is no
    # array-column storage boundary. The shingle fold + distinct +
    # explode runs in one Arrow kernel (row-multiset-identical to the
    # HOF form, see _distinct_shingle_rows).
    e = _distinct_shingle_rows(docs, 3, text_col, id_col)
    if max_doc_freq is None:
        e = cache.keep(e)  # feeds both sides of the unbounded self-join
        l = e.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"), "g")
        r = e.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"), "g")
        pairs = (
            l.join(r, "g")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("inter"))
        )
        jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
        return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).where(
            F.col("jaccard") >= threshold
        )
    # bounded-fan-out path: candidates from below-cutoff shingles only,
    # then exact verification on the full arrays (as in minhash_lsh_pairs).
    # The document frequency is a count-only window over the shingle key —
    # ONE exchange of the exploded rows, which the self-join on the same
    # key then reuses (the groupBy-df + join-back alternative shuffles the
    # exploded rows on g anyway for the join, plus an extra exchange for
    # the df table; a hot boilerplate shingle lands on a single task in
    # either form and is dropped right after counting here).
    em = e.withColumn("_df", F.count("*").over(Window.partitionBy("g")))
    # storage boundary on the MARKED table: it feeds both sides of the
    # candidate self-join AND the hot-shingle correction, and Catalyst
    # does not reuse the exchange across consumers (the projections
    # above it differ) — without the boundary the explode + exchange +
    # sort + window evaluates three times per action (measured 40% of
    # the query for two consumers). cache.cut, not keep: with
    # materialization timed, the columnar persist write of the exploded
    # table costs ~0.45 s more than the checkpoint block write (2.04 vs
    # 1.59 s at sf0.1).
    em = cache.cut(em)
    er = em.where(F.col("_df") <= max_doc_freq)
    # size-ratio prefilter (prefix-filtering lemma): the arrays are
    # distinct sets, so J <= min(na,nb)/max(na,nb) — pairs below the
    # threshold on sizes alone CANNOT pass. n_sh already rides every
    # exploded row, so the sizes flow through the candidate join as two
    # ints and the filter applies before the distinct — no scalar
    # side-joins, and the arrays still never ride a shuffle until the
    # surviving pairs fetch them. Output provably unchanged (no oracle
    # mirror needed); on size-diverse real corpora this drops most
    # candidates, on uniform synthetic ones it's a no-op.
    cand = (
        er.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"), "g")
        .join(
            er.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"), "g"),
            "g",
        )
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("na", "nb").cast("double") / F.greatest("na", "nb")
                >= threshold
            )
        )
        # the shingle arrays are distinct sets, so each shared RARE
        # shingle contributes exactly one row to the self-join — the
        # groupBy count IS |rare(A) ∩ rare(B)|. No pair ever touches
        # the full shingle arrays (joining both ~50-element arrays onto
        # every candidate row for an allocating array_intersect per
        # pair costs ~half the query at sf0.1's 850k candidates).
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("_ir"))
    )
    # exact |∩| = |rare ∩| + |hot ∩|: rare/hot partition the shingle
    # space by the GLOBAL document frequency of g (the same property
    # for both docs of a pair), so the two intersection counts add.
    # Hot shingles are the few corpus-wide boilerplate k-grams — the
    # per-doc hot arrays are tiny by construction (a doc has at most a
    # handful of above-cutoff shingles in any sane corpus, and the
    # intersect runs on those arrays only, never the full sets).
    hot = (
        em.where(F.col("_df") > max_doc_freq)
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list("g")).alias("_hot"))
    )
    cand = cand.join(
        hot.select(F.col("doc").alias("doc_a"), F.col("_hot").alias("_ha")),
        "doc_a",
        "left",
    ).join(
        hot.select(F.col("doc").alias("doc_b"), F.col("_hot").alias("_hb")),
        "doc_b",
        "left",
    )
    inter = F.col("_ir") + F.when(
        F.col("_ha").isNotNull() & F.col("_hb").isNotNull(),
        F.size(F.array_intersect("_ha", "_hb")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    jac = let_bind(
        inter,
        lambda i: i.cast("double") / (F.col("na") + F.col("nb") - i),
    )
    return cand.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def _kgram_rows(texts, k: int):
    """The one shingle-row generator behind the Arrow shingle kernels:
    every positional token-k-gram of a batch of texts as parallel arrays
    ``(doc_idx, p, g)`` — batch-local doc index, token position, k-gram
    hash — exactly the rows of ``posexplode(positional_shingle_hashes(
    token_hashes(text)))``.

    Token semantics mirrored exactly: ``split(trim(text), ' +')``
    equals the maximal runs of non-space (0x20) characters for every
    input (trim removes the leading empties, trailing empties can't
    exist on trimmed text), except all-space/empty texts, which the HOF
    tokenizer turns into ONE empty token (hash 0) — a (p=0, g=0) row
    at k=1 and nothing at k≥2; NULL texts yield no rows. Characters are
    compared as CODEPOINTS (utf-32 decode), the same value Spark's and
    DuckDB's ``ascii()`` fold uses."""
    import numpy as np

    from .text import _shingle_combine, _token_hash_arrays

    th, tok_doc, cnt, _toff = _token_hash_arrays(texts, MOD)
    g, tpos, valid = _shingle_combine(th, tok_doc, cnt, k, MOD)
    d, p, g = tok_doc[valid], tpos[valid], g[valid]
    if k == 1:
        is_str = np.fromiter((isinstance(t, str) for t in texts), bool, len(texts))
        e0 = np.flatnonzero((cnt == 0) & is_str).astype(np.int64)
        z = np.zeros(len(e0), np.int64)
        d, p, g = (np.concatenate(x) for x in ((e0, d), (z, p), (z, g)))
    return d, p, g


def _map_kgram_rows(
    docs: DataFrame, k: int, text_col: str, id_col: str, emit, cols: dict
) -> DataFrame:
    """Arrow map over ``(id_col, text_col)``: each batch's
    :func:`_kgram_rows` go through ``emit(ids, n_docs, d, p, g)``, which
    returns the batch's output columns (``doc`` plus ``cols``)."""

    def gen(b):
        texts = b[text_col]
        return emit(b[id_col], len(texts), *_kgram_rows(texts, k))

    schema = {"doc": docs.schema[id_col].dataType, **cols}
    return arrow.map_batches(docs.select(id_col, text_col), gen, schema)


def _positional_trigram_rows(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """The (doc, p, g) positional-shingle rows of :func:`dup_span_ranges`
    — the rows of ``posexplode(positional_shingle_hashes(
    token_hashes(text)))``, exact integer parity (pinned against that
    HOF form by test), without the per-character interpreted fold."""
    def emit(ids, _n, d, p, g):
        return {"doc": ids[d], "p": p, "g": g}

    return _map_kgram_rows(docs, k, text_col, id_col, emit, {"p": "int", "g": "long"})


def _distinct_shingle_rows(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """The SET-shingle rows: the same (doc, n_sh, g) rows as
    ``explode(shingle_hashes(text))`` with ``n_sh =
    size(shingle_hashes(text))`` riding every row — the input table of
    :func:`ngram_jaccard_pairs`. Row-multiset-identical to the HOF form
    (pinned by ``test_distinct_shingle_rows_matches_hof``): per-doc
    distinct via one vectorized lexsort + neighbour mask over
    :func:`_kgram_rows` (order is irrelevant to an exploded multiset),
    ``n_sh`` from a bincount of the deduped rows."""
    import numpy as np

    def emit(ids, n_docs, d, _p, g):
        order = np.lexsort((g, d))
        ds, gs = d[order], g[order]
        keep = np.ones(len(ds), bool)
        keep[1:] = (ds[1:] != ds[:-1]) | (gs[1:] != gs[:-1])
        ds, gs = ds[keep], gs[keep]
        n_per = np.bincount(ds, minlength=n_docs)
        return {"doc": ids[ds], "n_sh": n_per[ds], "g": gs}

    return _map_kgram_rows(docs, k, text_col, id_col, emit, {"n_sh": "int", "g": "long"})


def dup_span_ranges(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document duplicated token SPANS per document — the
    distributed output analog of suffix-array substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): the character ranges that pipeline would cut. A position
    is duplicated when its k-gram occurs in at least one OTHER document;
    runs of duplicated positions merge into maximal spans
    (gaps-and-islands per doc: a new span starts when the next
    duplicated k-gram begins after the previous span's end + 1).

    Returns (doc_id, span_start, span_end, n_grams): token positions
    [span_start, span_end] inclusive, n_grams = duplicated k-gram
    starts inside the span. Plan: positional shingle explode (fan-out =
    tokens per doc), ONE exchange on the k-gram key for the min/max-doc
    window (boilerplate k-grams land on one task and are marked, never
    fanned out pairwise), one per-doc window for the island merge —
    integers end-to-end, so the SQL oracle matches exactly.
    """
    e = _positional_trigram_rows(docs, k, text_col, id_col)
    w = Window.partitionBy("g")
    dup = (
        e.withColumn("_mn", F.min("doc").over(w))
        .withColumn("_mx", F.max("doc").over(w))
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc", "p")
    )
    wd = Window.partitionBy("doc").orderBy("p")
    isl = dup.withColumn(
        "_new",
        F.when(F.col("p") > F.lag("p").over(wd) + k, 1).otherwise(0),
    ).withColumn(
        "_isl", F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    return isl.groupBy("doc", "_isl").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + (k - 1)).alias("span_end"),
        F.count("*").cast("long").alias("n_grams"),
    ).select(
        F.col("doc").alias(id_col), "span_start", "span_end", "n_grams"
    )


def _bit(h: Column, i: Column) -> Column:
    """(h >> i) & 1 with a Column shift count (shiftright needs a literal):
    floor(h / 2^i) % 2 — exact for h < 2^53 in double space."""
    return (F.floor(h / F.pow(F.lit(2.0), i)) % 2).cast("long")


def simhash(hashes: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over a shingle-hash array column: bit_i = sign
    of Σ(2·((h>>i)&1) − 1); fingerprint = Σ bit_i·2^i (int64-safe for
    bits <= 62). Arrow-batched numpy over the flattened batch (one
    ``np.add.reduceat`` per bit) — same exact integer math as the SQL
    oracle; an empty array fingerprints as 0."""
    import numpy as np

    def _sim(hs):
        h, off = arrow.segments(hs)
        h = h.astype(np.int64, copy=False)
        out = np.zeros(len(off) - 1, dtype=np.int64)
        nz = np.diff(off) > 0
        if nz.any():
            starts = off[:-1][nz]
            fp = np.zeros(len(starts), dtype=np.int64)
            for i in range(bits):
                bitsum = np.add.reduceat(2 * ((h >> i) & 1) - 1, starts)
                fp |= (bitsum >= 0).astype(np.int64) << i
            out[nz] = fp
        return out

    _sim = arrow.column(_sim, "long")

    return _sim(hashes)


def simhash_dup_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Strict SimHash dedup: pairs with identical fingerprints (bucket
    join on the fingerprint; see :func:`simhash_near_pairs` for the
    hamming-distance banded variant)."""
    d = docs.select(F.col(id_col).alias("doc"), simhash(shingle_hashes(text_col)).alias("sh"))
    l = d.select(F.col("doc").alias("doc_a"), "sh")
    r = d.select(F.col("doc").alias("doc_b"), "sh")
    return l.join(r, "sh").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", F.col("sh").alias("fingerprint")
    )


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-banded SimHash near-dup pairs — the scale path for
    near-identical (not byte-identical) documents.

    Split the ``bits``-bit fingerprint into ``bands`` contiguous bit
    segments. Pigeonhole: any pair within hamming distance ``bands − 1``
    agrees EXACTLY on at least one segment, so candidate generation is a
    (band, segment)-keyed equi-join — never an all-pairs comparison —
    followed by exact ``bit_count(xor)`` verification on the candidates.
    With the defaults (32 bits, 4 bands) recall is total for hamming <= 3;
    the fingerprint itself travels as one int64, so the shuffle carries
    (id, fp, band key) only. Same candidate-generation shape as MinHash
    banding; at 100 TB the band key join is hash-partitioned and the
    verification predicate is pushed into the join output.
    """
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming ({max_hamming}) < bands ({bands})"
        )
    # fingerprints feed BOTH sides of the band self-join; materialize
    # the (doc, fp) projection — two longs per row — so the shingle
    # fold + SimHash UDF run once over the corpus, not once per join
    # side. cache.cut, not keep: with materialization timed, 0.66 s
    # vs 0.76 s for keep and 1.75 s recomputing per side (sf0.1)
    d = cache.cut(
        docs.select(
            F.col(id_col).alias("doc"),
            simhash(shingle_hashes(text_col), bits).alias("fp"),
        )
    )
    return hamming_near_pairs(d, bits=bits, bands=bands, max_hamming=max_hamming)


def hamming_near_pairs(
    d: DataFrame, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole-banded hamming near-pair join over a (doc, fp) frame:
    any pair within hamming ``bands − 1`` agrees exactly on at least one
    of the ``bands`` contiguous bit segments, so candidates come from a
    (band, segment)-keyed equi-join — never all pairs — then exact
    ``bit_count(xor)`` verification. Fingerprint-agnostic: SimHash text
    fingerprints and pHash image fingerprints reuse it unchanged
    (arithmetic shiftright is safe — the segment mask truncates the
    sign-extension of 64-bit fingerprints)."""
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming ({max_hamming}) < bands ({bands})"
        )
    seg = bits // bands
    mask = (1 << seg) - 1
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("fp", b * seg).bitwiseAND(F.lit(mask)).alias("segv"),
            )
            for b in range(bands)
        ]
    )
    k = d.select("doc", "fp", F.explode(keys).alias("k")).select(
        "doc", "fp", F.col("k.band").alias("band"), F.col("k.segv").alias("segv")
    )
    cand = (
        k.select(F.col("doc").alias("doc_a"), F.col("fp").alias("fp_a"), "band", "segv")
        .join(
            k.select(F.col("doc").alias("doc_b"), F.col("fp").alias("fp_b"), "band", "segv"),
            ["band", "segv"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def materialize_simhash_edges(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    n_partitions: int | None = None,
) -> None:
    """Persist the SimHash near-dup edge list once so every consumer of
    the dup graph — :func:`~finmlkit_spark.operators.retrieval.pagerank`,
    ``central_reps``, :func:`dedup_clusters` — skips the corpus
    shingle + fingerprint + band-join build at query time. The
    ``retrieval.materialize_lexical_weights`` pattern applied to the
    dedup graph: at 100 TB the edge build crosses the corpus once at
    ingest; centrality/clustering queries then run over an edge table
    that is output-scale (pairs a human would review), orders of
    magnitude below corpus scale. Edges are hash-repartitioned by
    ``doc_a`` so the downstream src-keyed joins start co-located; at
    real scale write with ``bucketBy(doc_a)`` into a table. Stored rows
    are the EXACT (doc_a, doc_b, hamming) rows the inline build
    derives — any consumer fed :func:`read_simhash_edges` returns
    bit-identical results to the inline form (pinned by test).
    ``n_partitions=None`` (default): repartition by ``doc_a``
    without a fixed count so AQE sizes the output files by bytes
    (the materialize_lexical_weights discipline)."""
    e = simhash_near_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
    )
    e = (
        e.repartition("doc_a")
        if n_partitions is None
        else e.repartition(n_partitions, "doc_a")
    )
    e.write.mode("overwrite").parquet(path)


def read_simhash_edges(spark, path: str) -> DataFrame:
    """Read a :func:`materialize_simhash_edges` table for the ``pairs``
    parameter of ``retrieval.pagerank`` / ``retrieval.central_reps`` or
    the :func:`dedup_clusters` edge input."""
    return spark.read.parquet(path)


#: dedup_clusters' driver gate: at or below this many near-dup pairs the
#: edge list (two int64 columns, ≈ 32 MB at the bound) is collected and
#: union-find runs on the driver. Near-dup edges are output-scale (the
#: pairs a human would review), so the gate fires at most data scales;
#: above it the distributed min-label loop never touches the driver.
CC_DRIVER_MAX_EDGES = 2_000_000


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id),
    cluster_id = min doc id in the component. The last mile of fuzzy
    dedup: pair lists become keep/drop decisions only once transitively
    connected docs share one cluster.

    Driver gate (:func:`cache.collect_if_small`): at most
    ``CC_DRIVER_MAX_EDGES`` edges, integer ids and no NULL id — a driver
    union-find labels the components and the map replants as a
    LocalTableScan. Either side executes the pair chain exactly once,
    and both return the same rows and schema (exact integer
    min-per-component; pinned by test).

    Distributed side: Pregel-style min-label propagation — each
    iteration every node takes the min of its own label and its
    neighbors' labels (one join + one groupBy per iteration, lineage
    cut with localCheckpoint). Converges in component-diameter
    iterations; near-dup components are dense and shallow in practice
    (diameter ~ a few). At extreme diameters the large-star/small-star
    variant halves rounds to O(log n) — same join/agg shape
    (``dedup_clusters_star``), kept gate-free as the pure at-scale
    form.

    ``docs`` given -> singleton docs are included with cluster_id = own
    id (the full corpus mapping a keep-one-per-cluster filter needs).
    """
    _int_dts = ("tinyint", "smallint", "int", "bigint")
    dts = dict(pairs.dtypes)
    e, tbl = cache.collect_if_small(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        CC_DRIVER_MAX_EDGES,
    )
    if (
        tbl is not None
        and dts["doc_a"] in _int_dts
        and dts["doc_b"] in _int_dts
        and tbl["a"].null_count == 0
        and tbl["b"].null_count == 0
    ):
        # emit the SAME column type the distributed side does: its
        # union(a,b)/(b,a) widens to the wider of the two int types
        common_dt = max(dts["doc_a"], dts["doc_b"], key=_int_dts.index)
        comp = _cc_driver(pairs.sparkSession, tbl, id_col, common_dt)
        return _cc_with_singletons(comp, docs, id_col)
    # eager=False: the convergence-probe count is the materializing
    # action; unchecked iterations chain into the next job (same cut)
    edges = cache.cut(e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    labels = cache.cut(
        edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("label").alias("nl")), "b"
            )
            .groupBy("a")
            .agg(F.min("nl").alias("mnl"))
        )
        new = (
            labels.join(nbr_min.select(F.col("a").alias("id"), "mnl"), "id", "left")
            .select("id", F.least("label", F.coalesce("mnl", "label")).alias("label"))
        )
        new = cache.cut(new)
        # convergence probe every 2nd iteration: min-label propagation is
        # monotone, so skipping a check never changes the fixpoint — it
        # just trades at most one extra (cheap, already-converged)
        # iteration for half the driver-side count jobs on deep components
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new.join(labels.select("id", F.col("label").alias("old")), "id")
                .where(F.col("label") != F.col("old"))
                .count()
            )
            labels = new
            if changed == 0:
                break
        else:
            labels = new
    comp = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    return _cc_with_singletons(comp, docs, id_col)


def _cc_with_singletons(
    comp: DataFrame, docs: DataFrame | None, id_col: str
) -> DataFrame:
    """Shared tail for both component paths: include singleton docs with
    cluster_id = own id when the corpus frame is given."""
    if docs is None:
        return comp
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )


def _cc_driver(spark, tbl, id_col: str, out_dt: str = "bigint") -> DataFrame:
    """Driver union-find for :func:`dedup_clusters`' gated side:
    path-halving find + union by attachment, then min doc id per root —
    identical by definition to the distributed min-label fixpoint
    (cluster_id = min id in the component; exact integers — the caller
    guards the id dtype). ``tbl``: a pyarrow table of (a, b) edges;
    ``out_dt``: the Spark int dtype both output columns are emitted as
    (the distributed side's union-widened type, so the gate is
    schema-invisible)."""
    import pyarrow as pa

    _pa_int = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
    }
    out_type = _pa_int[out_dt]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    av = tbl.column("a").to_numpy(zero_copy_only=False)
    bv = tbl.column("b").to_numpy(zero_copy_only=False)
    for a, b in zip(av.tolist(), bv.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    cmin: dict[int, int] = {}
    for node in parent:
        r = find(node)
        if node < cmin.get(r, node + 1):
            cmin[r] = node
    ids = sorted(parent)
    out = pa.table(
        {
            id_col: pa.array(ids, type=out_type),
            "cluster_id": pa.array([cmin[find(i)] for i in ids], type=out_type),
        }
    )
    return spark.createDataFrame(out)


def dedup_clusters_star(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds — the O(log n)-round escalation of :func:`dedup_clusters`
    for DEEP components (public algorithm: Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Min-label propagation needs diameter-many rounds: a 300-link chain
    of near-dup docs (page-sequence boilerplate) exhausts a 30-round
    cap with labels still wrong. Star rounds square away path length:

    - large-star: every node attaches its LARGER neighbors to the
      minimum of its closed neighborhood;
    - small-star: every node attaches its not-larger neighbors (and
      itself) to that minimum.

    Both are one groupBy + one join over the edge list — the same
    shuffle shape as a propagation round — but the edge list contracts
    toward stars doubly-exponentially. Convergence is detected
    STRUCTURALLY: a round-pair's output with every
    node having at most one outgoing edge and no node both child and
    parent is a star forest, and a star forest is a FIXPOINT of the
    round-pair — large-star maps each child's reversed edge back to
    (child, root) and drops the forward edge on the ``v > u`` filter,
    small-star re-emits exactly (child, root) — so the loop stops the
    round it converges instead of running one more round-pair to watch
    an edge-multiset signature stop changing. Every edge after
    small-star has u > v, hence each star's root is its component min
    and the fixpoint labels equal the ones more rounds would produce.
    The check is one node-scale groupBy (sum/max partial-aggregated
    map-side) per round — the same shuffle scale as the round itself —
    and its action is also what materializes the round's lineage cut;
    each round's output is ``localCheckpoint``-ed. Output contract
    matches ``dedup_clusters``:
    (id, cluster_id = min id in component), singletons included when
    ``docs`` is given. Differential-tested against a union-find ground
    truth and against ``dedup_clusters`` on shallow graphs.
    """
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # eager=False everywhere in the loop: the per-round star-forest
    # check is the materializing action, so each round runs ONE job
    # instead of two (checkpoint job + check job) — same lineage cut
    e = cache.cut(e.where(F.col("u") != F.col("v")))

    def large_star(ed: DataFrame) -> DataFrame:
        # no trailing .distinct(): small_star's single final distinct
        # dedups the combined round-pair output, so the extra exchange
        # here would buy nothing (duplicate (v, _m) rows are
        # edge-bounded and min-aggregation-invisible)
        both = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least("u", "_mn").alias("_m"))
        return (
            both.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # single reference to the mins aggregate: the joined frame
        # carries (u, v, _m), and exploding both halves under ONE
        # final distinct replaces the old union(mins) second branch —
        # one groupBy exchange per round instead of two (each logical
        # reference to `mins` was a separate AQE shuffle stage)
        o = ed.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least("u", "_mn").alias("_m"))
        out = (
            o.join(mins, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("_m").alias("v")),
                        F.struct(F.col("u").alias("u"), F.col("_m").alias("v")),
                    )
                ).alias("_e")
            )
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    def is_star_forest(ed: DataFrame) -> bool:
        # exact structural convergence check: no node with two outgoing
        # edges, no node both child (u side) and parent (v side). The
        # check must be EXACT — a false positive would stop on a
        # non-star edge set and mislabel — so it is a real node-scale
        # groupBy, not a probabilistic fold; sum/max partial-aggregate
        # map-side and its isEmpty is the one action that also
        # materializes the round's lineage cut.
        nodes = ed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("nd"),
                        F.lit(1).alias("cu"),
                        F.lit(0).alias("cv"),
                    ),
                    F.struct(
                        F.col("v").alias("nd"),
                        F.lit(0).alias("cu"),
                        F.lit(1).alias("cv"),
                    ),
                )
            ).alias("x")
        ).select("x.*")
        deg = nodes.groupBy("nd").agg(
            F.sum("cu").alias("cu"), F.max("cv").alias("cv")
        )
        return deg.where(
            (F.col("cu") >= 2) | ((F.col("cu") >= 1) & (F.col("cv") >= 1))
        ).isEmpty()

    for _ in range(max_iter):
        e = cache.cut(small_star(large_star(e)))
        if is_star_forest(e):
            break
    # fixpoint: stars — every non-root points straight at its component
    # min; roots appear only on the v side
    # no .distinct() on the roots branch: the min-aggregation below is
    # duplicate-invisible, so the extra exchange bought nothing
    comp = e.select(F.col("u").alias(id_col), F.col("v").alias("cluster_id")).union(
        e.select(F.col("v").alias(id_col), F.col("v").alias("cluster_id"))
    ).groupBy(id_col).agg(F.min("cluster_id").alias("cluster_id"))
    if docs is None:
        return comp
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )


def keep_canonical(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fuzzy-dedup keep filter: one doc per near-dup cluster (the min
    id), singletons kept. The document set a training run actually
    consumes. Reads ``docs`` once: the non-canonical ids (``id !=
    cluster_id``) leave by one anti-join, and a NULL id is dropped.
    The key column leads the output, as in an equi-join on it."""
    drop = (
        dedup_clusters(pairs, id_col=id_col)
        .where(F.col(id_col) != F.col("cluster_id"))
        .select(id_col)
    )
    kept = docs.where(F.col(id_col).isNotNull()).join(drop, id_col, "left_anti")
    return kept.select(id_col, *(c for c in docs.columns if c != id_col))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >=
    ``min_shared`` token-trigram shingles with ANY benchmark doc.

    Shape at 100 TB: the benchmark side is small (eval sets), so its
    exploded shingle set broadcasts; the corpus explodes its shingles
    once and semi-aggregates — one broadcast join, no corpus self-join.
    Returns (doc_id, n_shared) for contaminated docs; anti-join against
    it to get the clean set.
    """
    b = (
        benchmark.select(F.explode(shingle_hashes(text_col)).alias("g"))
        .distinct()
    )
    # corpus-side explode via the Arrow kernel (row-multiset-identical
    # to explode(shingle_hashes), see _distinct_shingle_rows); the
    # benchmark side stays the HOF form — eval-set-sized, and the
    # operator does not require an id column there
    e = _distinct_shingle_rows(docs, 3, text_col, id_col).select("doc", "g")
    hits = (
        e.join(F.broadcast(b), "g")
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return hits.select(F.col("doc").alias(id_col), "n_shared")


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
    num_bits: int = 1 << 20,
) -> DataFrame:
    """Bloom-prefiltered decontamination — IDENTICAL output to
    :func:`decontaminate`, different scale envelope.

    ``decontaminate`` broadcasts the benchmark's exploded shingle set:
    right when the benchmark is eval-set-sized, impossible when it is
    itself corpus-scale (e.g. stripping one corpus from another). Here
    the benchmark folds into a Bloom filter expressed in pure DataFrame
    algebra (OSS Spark does not register ``bloom_filter_agg`` in the
    SQL function registry, so the bitset is its relational dual): the
    "set bits" are the DISTINCT values of ``j`` hash probes modulo
    ``num_bits`` — a table of AT MOST ``num_bits`` ints no matter how
    many benchmark rows fold in — broadcast once; a corpus shingle is a
    candidate only if ALL ``j`` of its probe positions hit (classic
    Bloom AND-semantics, fpp ≈ load^j), and only candidates — a
    vanishing fraction when the filter is sized sanely — take the
    exact shingle join that establishes the real ``n_shared``.
    Exactness does NOT depend on the filter size: false positives only
    grow the verify join, false negatives cannot happen (probe i of a
    present shingle is by construction in the distinct-position set) —
    property-tested with a deliberately saturated 64-position filter.

    Size ``num_bits`` ≈ 10·|benchmark shingles| for ~1% fpp at j=2.
    """
    j = 2
    bsh = benchmark.select(F.explode(shingle_hashes(text_col)).alias("g"))

    def probe(i: int):
        return F.pmod(F.xxhash64(F.col("g"), F.lit(i)), F.lit(num_bits))

    bits = (
        bsh.select(F.explode(F.array(*[probe(i) for i in range(j)])).alias("pos"))
        .distinct()
    )
    # corpus-side explode via the Arrow kernel (see decontaminate)
    e = _distinct_shingle_rows(docs, 3, text_col, id_col).select("doc", "g")
    probes = e.select(
        "doc", "g", F.explode(F.array(*[probe(i) for i in range(j)])).alias("pos")
    )
    cand = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc", "g")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .where(F.col("_hits") == j)
        .select("doc", "g")
    )
    # exact verify on the candidates: plain equi-join (no broadcast
    # hint — the benchmark shingle set may be corpus-scale; AQE picks
    # the strategy). distinct on the benchmark side keeps n_shared =
    # number of distinct shared shingles, matching decontaminate().
    hits = (
        cand.join(bsh.distinct(), "g")
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return hits.select(F.col("doc").alias(id_col), "n_shared")


def dup_span_fraction(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-span fraction: for each doc, the share
    of its distinct token-trigram shingles that also occur in at least
    one OTHER document — the distributed analog of suffix-array
    substring dedup ("Deduplicating Training Data Makes Language Models
    Better"): a high fraction marks boilerplate/template documents even
    when no single near-dup pair exists.

    Shape at 100 TB: one explode + hash-aggregate on the narrow int64
    shingle key (map-side combined), then one shuffle join back on the
    same key and a per-doc aggregate. Never a self-join; fan-out is the
    corpus shingle count, not pairs. Docs too short for a trigram get
    fraction 0.0.
    """
    # Arrow-kernel explode (row-multiset-identical, _distinct_shingle_rows)
    e = _distinct_shingle_rows(docs, 3, text_col, id_col).select("doc", "g")
    # shingle arrays are distinct per doc, so count(*) per g = number of
    # docs carrying the shingle. A count-only WINDOW over g marks every
    # exploded row in ONE exchange — the former groupBy(g) + join-back
    # form shuffled e twice AND re-ran the shingle fold per consumer
    # (Catalyst does not reuse an exchange under differing projections)
    em = e.withColumn("n_docs", F.count("*").over(Window.partitionBy("g")))
    per_doc = em.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long").alias("n_shared"),
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.when(
                F.col("n_shingles").isNotNull(),
                F.col("n_shared").cast("double") / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection: given the (doc_id, cluster_id)
    mapping from ``dedup_clusters`` and a per-doc quality score, keep
    the highest-quality doc per near-dup cluster (ties → lowest id) —
    the keep-policy step a curation pipeline runs after clustering,
    instead of blindly keeping the lowest id.

    One window over cluster_id (hash-partitioned; cluster sizes are
    near-dup group sizes, i.e. tiny) — scales as a plain shuffle on
    cluster_id.
    """
    from pyspark.sql import Window

    j = clusters.join(quality, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col(id_col)
    )
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(id_col, "cluster_id", "quality")
    )


def remove_dup_spans(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cut the duplicated token spans out of every document — the
    consuming half of :func:`dup_span_ranges` (Lee et al. 2021 cut the
    marked ranges from the training corpus; the ranges alone are only a
    report). Tokens whose position falls inside ANY duplicated span are
    dropped and the survivors re-join with single spaces (whitespace is
    normalized by construction — the token axis is the contract, not
    the original byte offsets).

    Returns (doc_id, clean_text, n_tokens, n_kept). Plan: the span
    table (output-scale — only duplicated ranges) aggregates to one
    small struct-array per affected doc and LEFT-joins the corpus; the
    cut itself is a pure JVM indexed ``filter`` over the token array —
    no extra corpus shuffle beyond the span join. Pass ``spans`` to
    reuse an already-computed range table."""
    from .text import let_bind, tokens

    if spans is None:
        spans = dup_span_ranges(docs, k, text_col, id_col)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("s"),
                F.col("span_end").cast("long").alias("e"),
            )
        ).alias("_sps")
    )
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    joined = docs.join(sp, id_col, "left").withColumn(
        "_sps", F.coalesce("_sps", empty)
    )

    def cut(tv):
        kept = F.filter(
            tv,
            lambda tok, i: F.size(
                F.filter(
                    F.col("_sps"), lambda s: (i >= s["s"]) & (i <= s["e"])
                )
            )
            == 0,
        )
        # inner let: `kept` (the O(tokens × spans) filter) feeds both
        # the join and the count — bind it so Catalyst evaluates it once
        return let_bind(
            kept,
            lambda kv: F.struct(
                F.array_join(kv, " ").alias("clean_text"),
                F.size(tv).cast("long").alias("n_tokens"),
                F.size(kv).cast("long").alias("n_kept"),
            ),
        )

    # outer let: the tokenizer feeds the filter AND the total count
    # (SCALE.md lesson 1 — Catalyst re-inlines per textual reference).
    # The struct lands in its OWN projection before the field unpack:
    # CollapseProject declines to inline a non-cheap expression that the
    # upper projection references three times, so the whole cut
    # evaluates once per row.
    out = let_bind(tokens(text_col), cut)
    tmp = joined.select(id_col, out.alias("_o"))
    return tmp.select(
        id_col,
        F.col("_o.clean_text").alias("clean_text"),
        F.col("_o.n_tokens").alias("n_tokens"),
        F.col("_o.n_kept").alias("n_kept"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = 256,
    scale: int = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted lexical near-dup pairs by TF·IDF cosine — the all-pairs
    similarity classic (Bayardo et al., WWW'07): documents sharing rare
    terms score high even when their raw token overlap (Jaccard) is
    modest. Returns (doc_a, doc_b, cos_sim) with doc_a < doc_b,
    cos_sim >= threshold.

    Exactness: weights are the rational idf form quantized ONCE to
    integers — wq = HALF_UP(scale · tf · N / df) — so dot products and
    squared norms are exact integer sums (order-independent); the
    final cosine is one sqrt+division over exact integers,
    bit-identical in both engines (the ``tfidf_keywords`` libm
    discipline extended to the pair score).

    Overflow posture: wq for a
    UNIQUE token (df=1) is ~scale·tf·N, so wq² reaches 2^63 at only
    ~3M documents — int64 sums would wrap silently under Spark's
    non-ANSI mode. Dots and norms therefore fold as
    ``decimal(19,0)·int → decimal(38,0)`` partials (Spark) /
    ``HUGEINT`` (DuckDB) — the ``embedding_covariance`` decimal-fold
    posture. Each product wq² < (2^63)² < 1e38 is always
    representable; an aggregate past 1e38 surfaces as NULL (decimal
    overflow), never as wrapped garbage. Remaining int64 constraint is
    wq itself: scale·tf·N < 9.2e18 — at scale=1e3 that is tf·N < 9e15
    (a 1e9-doc corpus tolerates tf ≤ 9e6); quantization happens in
    double, so exactness additionally needs scale·tf·N < 2^53
    (tf·N < 9e12 at the default scale) — raise ``scale`` only with
    corpus-size awareness.

    Scale shape: the same ``max_doc_freq`` stop-term cutoff as
    ``ngram_jaccard_pairs`` — candidates come only from tokens whose df
    is ≤ the cap (a stop-token fans the self-join to df² rows), norms
    still use EVERY token, so only pairs whose entire overlap is
    corpus-wide boilerplate are lost. One token-keyed self-join +
    one (a, b) hash aggregate; text never shuffles (token hashes do).
    """
    from .text import token_hashes

    t = docs.select(
        F.col(id_col).alias("doc"), F.explode(token_hashes(text_col)).alias("h")
    )
    tf = t.groupBy("doc", "h").agg(F.count(F.lit(1)).alias("tf"))
    # df via a count window over h (the tfidf_topk discipline): one
    # exchange of the token table, no groupBy(h)+join second side —
    # identical integer counts, A/B bit-equal.
    n = docs.agg(F.count(F.lit(1)).alias("n_total"))
    w = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc",
            "h",
            "df",
            F.floor(
                F.lit(float(scale)) * F.col("tf") * F.col("n_total") / F.col("df")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wq"),
        )
    )
    # the weighted-token table feeds THREE consumers (norms + both
    # sides of the candidate self-join); without a storage boundary
    # Catalyst re-inlines the whole tokenize→tf→df subtree per
    # reference — 12 corpus scans and 16 tokenizer passes at sf0.1
    # (read off the plan). One storage boundary makes it one —
    # cache.cut, not keep (materialization timed: keep 1.44 s, cut
    # 0.79 s, no boundary 0.77 s at sf0.1 — cut kept for the 100 TB
    # posture, where three recomputes of the data-scale tokenize
    # subtree dwarf one checkpoint write).
    from .. import cache

    w = cache.cut(w)
    # decimal(19,0) holds any int64; the product is decimal(38,0) —
    # wq² < 2^126 bits never truncates, and a sum past 1e38 nulls
    # instead of wrapping (see docstring overflow posture)
    wq_dec = F.col("wq").cast("decimal(19,0)")
    norms = w.groupBy("doc").agg(F.sum(wq_dec * F.col("wq")).alias("n2"))
    cand = w.where(
        F.lit(True) if max_doc_freq is None else (F.col("df") <= max_doc_freq)
    )
    l = cand.select(F.col("doc").alias("doc_a"), "h", F.col("wq").alias("wa"))
    r = cand.select(F.col("doc").alias("doc_b"), "h", F.col("wq").alias("wb"))
    dots = (
        l.join(r, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa").cast("decimal(19,0)") * F.col("wb")).alias("dot"))
    )
    out = (
        dots.join(norms.withColumnRenamed("doc", "doc_a").withColumnRenamed("n2", "na2"), "doc_a")
        .join(norms.withColumnRenamed("doc", "doc_b").withColumnRenamed("n2", "nb2"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
            ).alias("cos_sim"),
        )
    )
    return out.where(F.col("cos_sim") >= threshold)
