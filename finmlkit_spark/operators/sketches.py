"""Deterministic cross-engine cardinality sketches: HyperLogLog and
K-minimum-values distinct-count estimators whose every arithmetic step
is reproducible bit-for-bit in plain SQL on any engine.

Why not ``approx_count_distinct``: Spark's HLL++ and DuckDB's HLL use
different hash functions and register encodings, so their estimates
differ — unusable under an exact differential oracle, and unportable
between engines in general. These sketches instead build on the repo's
portable polynomial hash (``text.poly_hash``: acc = acc·31 + char mod
1e9+7 — exactly expressible as a list fold in both engines), and keep
every aggregate an exact integer (register sums as scaled int64, KMV
order statistics as int64 keys), so the one terminal float expression
is bit-identical across engines.

TWO PATHS per sketch:

- **Oracle path** (:func:`hll_counts`, :func:`kmv_counts`,
  :func:`cm_table`): the portable polynomial hash is an interpreted
  char fold, so these hash each DISTINCT (group, key) pair once —
  which reintroduces a data-scale ``.distinct()`` shuffle of exactly
  the keys the sketch exists to summarize. Correct, cross-engine
  bit-exact, and the right form for the differential oracle — but
  NOT the 100 TB form.
- **Production path** (:func:`hll_counts_fast`,
  :func:`kmv_counts_fast`, :func:`cm_table_fast`): hashes EVERY
  occurrence with the JVM-native ``F.xxhash64`` (whole-stage-codegen,
  no char fold) and reduces map-side, so nothing data-scale ever
  crosses an exchange: HLL shuffles ≤ m·|groups| register partials
  per map partition (partial ``max``), KMV shuffles ≤ k·|groups|
  bounded top-k rows per map partition (an Arrow map
  partial — the only non-builtin step, because Spark has no bounded
  top-k aggregate), and CM shuffles ≤ d·w counter partials per map
  partition (partial ``sum``). Estimator algebra is identical; the
  two paths are differential-tested for estimator error on the same
  corpus (``test_sketches.py``), and KMV's below-k exactness regime —
  which is hash-independent — is oracle-gated in the registry
  (``kmv_fast_user_count``).

Accuracy: the polynomial hash is weaker than xxhash/murmur (it is a
base-31 digit fold mod a prime); the unit tests pin observed error
against exact counts on the test corpus (HLL ±~1.04/√m asymptotic,
KMV ±~1/√(k−2)) for BOTH hash families.

No reference-repo counterpart: this tier extends the engine for
LLM-pipeline bookkeeping (per-source distinct doc/user tallies at
corpus scale) where exact distincts are the dominant shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrow
from .text import poly_hash

_MASK31 = 0x7FFFFFFF  # 2^31 − 1: all products stay under 2^63


def sql_salted_hash(salt: str, e: str) -> str:
    """DuckDB mirror of :func:`_salted_hash` — keep in sync. ``salt``
    is the literal salt prefix, ``e`` the key expression."""
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(concat('{salt}', CAST({e} AS VARCHAR)), ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        "(acc, c) -> (acc * 31 + c) % 1000000007)"
    )
    x1 = f"xor({fold}, {fold} >> 16)"
    x2 = f"((({x1}) * 2246822519) & 2147483647)"
    x3 = f"xor({x2}, ({x2}) >> 13)"
    x4 = f"((({x3}) * 3266489917) & 2147483647)"
    return f"xor({x4}, ({x4}) >> 16)"


def _mix31(x: Column) -> Column:
    """Murmur/xxhash-style avalanche finalizer on 31 bits, int64-safe:
    xorshift + odd-multiply rounds with a 2^31 mask (largest product
    2^31 · 3.27e9 < 2^63 — never wraps under Spark's non-ANSI mode).
    NON-LINEAR, which is load-bearing: the raw polynomial fold of a
    short key never wraps the modulus (a 5-char salted id stays below
    ~1e8 — ordered, tiny, useless as a sketch hash), and two salted
    folds of the same key differ only AFFINELY (fold(salt+x) =
    poly(salt)·31^len + poly(x)); the avalanche both spreads the value
    over [0, 2^31) and breaks the cross-salt correlation."""
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = (x * F.lit(2246822519)).bitwiseAND(F.lit(_MASK31))
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = (x * F.lit(3266489917)).bitwiseAND(F.lit(_MASK31))
    return x.bitwiseXOR(F.shiftright(x, 16))


def _salted_hash(key: Column, salt: str) -> Column:
    """Portable salted hash: the repo's polynomial rolling hash over the
    key's decimal/string form with a salt prefix, avalanched to a
    uniform 31-bit value — two different salts give two (approximately)
    independent hashes."""
    return _mix31(poly_hash(F.concat(F.lit(salt), key.cast("string"))))


def hll_counts(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 6,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (Flajolet et al.
    2007), fully deterministic cross-engine.

    Register index = h1 mod m (m = 2^p); rank = trailing zeros of an
    independent second hash + 1 (the Flajolet–Martin geometric — an
    exact integer: ``bit_count((h2 & -h2) - 1) + 1``). The harmonic
    denominator folds as an EXACT scaled int64: Σ 2^(32−rho) with empty
    registers contributing 2^32, bounded by m·2^32 ≤ 2^44 — no float
    fold order anywhere. Outputs per group:

    - ``est``: the standard corrected estimate — linear counting
      m·ln(m/V) in the small range (raw ≤ 2.5m and V>0), else the raw
      harmonic estimate. ``ln`` may differ in the last ulp across
      libms (the pmi_top_pairs posture); every branch CONDITION is
      bit-identical, so both engines always take the same branch.
    - ``est_raw``: alpha·m²·2^32 / S — bit-identical across engines.
    - ``n_empty``: untouched registers (V).
    """
    m = 1 << p
    # register max is idempotent, so hashing DISTINCT (group, key) pairs
    # yields identical registers while the interpreted char-fold hash
    # runs once per distinct key, not per occurrence (the cm_table
    # lesson); the distinct's map-side partial eats the repeats early
    dk = df.select(F.col(group_col).alias("g"), F.col(key_col).alias("_k")).distinct()
    h1 = _salted_hash(F.col("_k"), "r|")
    h2 = _salted_hash(F.col("_k"), "s|")
    rho = F.when(h2 == 0, F.lit(31)).otherwise(
        F.bit_count((h2.bitwiseAND(-h2) - F.lit(1)).cast("long")) + F.lit(1)
    )
    regs = (
        dk.select("g", (h1 % m).alias("ridx"), rho.alias("rho"))
        .groupBy("g", "ridx")
        .agg(F.max("rho").alias("r"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    num = alpha * float(m) * float(m) * 4294967296.0  # alpha·m²·2^32, exact fold
    per_g = regs.groupBy("g").agg(
        F.sum(F.expr("shiftleft(1L, cast(32 - r as int))")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(4294967296)
    v = (F.lit(m) - F.col("n_present")).cast("long")
    est_raw = F.lit(num) / s_total.cast("double")
    est_linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((est_raw <= F.lit(2.5 * m)) & (v > 0), est_linear).otherwise(est_raw)
    return per_g.select(
        F.col("g").alias(group_col),
        est.alias("est"),
        est_raw.alias("est_raw"),
        v.alias("n_empty"),
    )


def kmv_counts(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count estimate per group (Bar-Yossef
    et al. 2002): keep the k smallest distinct hash values; the k-th
    smallest, as a fraction of the hash range R, estimates density —
    est = (k−1)·R / h_(k). Groups with fewer than k distinct hashes are
    EXACT (the sketch degenerates to a distinct count).

    Keys hash to a 62-bit combined value h1·2^31 + h2 (two
    independently salted+avalanched 31-bit hashes), uniform on
    [0, 2^62) — all order statistics are exact int64 comparisons, and
    the single terminal division is bit-identical across engines. The
    per-group top-k rides a WindowGroupLimit (rank ≤ k partial per
    partition — never a global sort)."""
    # distinct (group, key) BEFORE hashing: identical sketch (the hash
    # is a pure function of the key), one char-fold per distinct key
    dk = df.select(F.col(group_col).alias("g"), F.col(key_col).alias("_k")).distinct()
    h = (
        _salted_hash(F.col("_k"), "r|") * F.lit(2147483648)
        + _salted_hash(F.col("_k"), "s|")
    )
    # second distinct on the HASH: two distinct keys colliding to one h
    # must still count once (the sketch lives in hash space)
    dh = dk.select("g", h.alias("h")).distinct()
    w = Window.partitionBy("g").orderBy("h")
    topk = dh.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    r_total = 4611686018427387904.0  # 2^62 — exactly representable
    agg = topk.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(r_total) / F.col("h_k").cast("double"))
    return agg.select(
        F.col("g").alias(group_col),
        est.alias("est"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("h_k").alias("kth_hash"),
    )


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise set-overlap estimates between groups from their KMV
    sketches (Beyer et al. 2007): for each group pair (a < b), take the
    k smallest distinct hashes of the UNION of the two sketches; the
    fraction of those present in BOTH sketches estimates Jaccard, and
    Jaccard × the union-size estimate gives the intersection size —
    distinct-user audience overlap without ever shuffling the raw keys
    twice.

    Exactness ladder: all set algebra is exact int64 hash membership;
    when the merged union holds fewer than k hashes the sketch IS the
    union and every output is exact (est_jaccard = shared/|union|).
    Terminal float expressions are mirrored token-for-token in the
    oracle.

    Scale shape: sketches are ≤ k rows per group (WindowGroupLimit),
    so every join here is bounded by |groups|²·k — group-count scale,
    never data scale (the cross_source_dup_matrix posture: the |G|²
    pair fan is the OUTPUT's own size)."""
    # distinct keys before the char-fold hash, then distinct hashes
    # (the kmv_counts discipline — identical sketch, |vocab| folds)
    dk = df.select(F.col(group_col).alias("g"), F.col(key_col).alias("_k")).distinct()
    h = (
        _salted_hash(F.col("_k"), "r|") * F.lit(2147483648)
        + _salted_hash(F.col("_k"), "s|")
    )
    dh = dk.select("g", h.alias("h")).distinct()
    w = Window.partitionBy("g").orderBy("h")
    sk = dh.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    # pair algebra on packed sketch ARRAYS: each sketch is <= k sorted
    # hashes, so the union-top-k / membership algebra is exact integer
    # set arithmetic over <= 2k-element arrays — one groupBy (reusing
    # the window's hash partitioning on g, no new exchange) + a
    # broadcast self-join + ONE projection, instead of pair-fan joins +
    # union + re-group + second window (4 exchanges on sketch rows
    # collapsed into 0). Values are bit-identical: kept
    # = first k of the sorted distinct union, h_k its max, n_shared
    # the kept hashes present in both sketches.
    arr = sk.groupBy("g").agg(F.array_sort(F.collect_list("h")).alias("hs"))
    pairs = arr.select(F.col("g").alias("ga"), F.col("hs").alias("hsa")).join(
        F.broadcast(arr.select(F.col("g").alias("gb"), F.col("hs").alias("hsb"))),
        F.col("ga") < F.col("gb"),
    )
    kept = F.slice(F.array_sort(F.array_union(F.col("hsa"), F.col("hsb"))), 1, k)
    both = F.array_intersect(F.col("hsa"), F.col("hsb"))
    agg = pairs.select(
        "ga",
        "gb",
        F.size(kept).cast("long").alias("n_kept"),
        F.element_at(kept, F.size(kept)).alias("h_k"),
        F.size(F.array_intersect(kept, both)).cast("long").alias("n_shared"),
    )
    r_total = 4611686018427387904.0  # 2^62
    denom = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(F.lit(k))
    est_union = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(r_total) / F.col("h_k").cast("double"))
    est_j = F.col("n_shared").cast("double") / denom.cast("double")
    return agg.select(
        F.col("ga").alias(f"{group_col}_a"),
        F.col("gb").alias(f"{group_col}_b"),
        est_j.alias("est_jaccard"),
        (est_j * est_union).alias("est_intersection"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def cm_table(
    df: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 3,
    _counts: DataFrame | None = None,
) -> DataFrame:
    """Count-min sketch table (Cormode & Muthukrishnan 2005): d hash
    rows × w counters of EXACT int64 occurrence sums — the
    bounded-memory frequency summary. However many rows stream through,
    the table is d·w rows, and counters are plain sums (associative,
    mergeable across partitions/streams). Returns (r, bucket, cnt).

    ``_counts``: a precomputed (k, n) distinct-key count table — lets a
    caller that already aggregated the keys (the audit) feed both
    consumers from one corpus pass."""
    # hash each DISTINCT key once and weight by its occurrence count —
    # identical counters (the sketch adds n for a key appearing n
    # times), but the interpreted char-fold hash runs |vocab| times
    # instead of |occurrences| (the per-occurrence form measured 9.9 s
    # at sf0.1; 60× fewer folds on this corpus)
    counts = (
        df.select(F.col(key_col).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        if _counts is None
        else _counts
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (_salted_hash(F.col("k"), f"c{r}|") % w).alias("bucket"),
            )
            for r in range(d)
        ]
    )
    return (
        counts.select(F.explode(pairs).alias("p"), "n")
        .select("p.r", "p.bucket", "n")
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )


def cm_freq_audit(
    df: DataFrame,
    key_col: str,
    top: int = 20,
    w: int = 1024,
    d: int = 3,
) -> DataFrame:
    """Honest-measurement harness for the count-min sketch (the
    lsh_recall_audit posture): the EXACT top-``top`` keys by frequency,
    each with its CM estimate (min over the d hashed counters) and the
    collision overestimate. CM never underestimates, and with w
    counters the expected overestimate is ≤ 2N/w per row — the audit
    makes that bound measurable instead of asserted.

    Everything is integer: exact counts, exact counter sums, integer
    min — bit-exact cross-engine with no float anywhere. The exact side
    is the audit's cost (one key-count aggregate + TakeOrdered); a
    production consumer keeps ONLY the d·w-row table."""
    from .. import cache

    # ONE corpus key-count aggregate feeds BOTH the exact audit side
    # and the CM table build (one corpus pass per audit, not one per
    # consumer); the pinned table is vocab-scale. cache.cut, not keep:
    # with materialization inside the timed region the checkpoint
    # write beats the columnar persist (0.59 vs 0.83 s)
    counts = cache.cut(
        df.select(F.col(key_col).alias("k")).groupBy("k").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    topk = (
        counts.select("k", F.col("n").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("k"))
        .limit(top)
    )
    cm = cm_table(df, key_col, w=w, d=d, _counts=counts)
    # one probe join instead of d: explode the top keys' (r, bucket)
    # probes and min over the d matched counters — a key's own counter
    # row always exists (it contributes its own count), so the inner
    # join never drops a probe
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (_salted_hash(F.col("k"), f"c{r}|") % w).alias("bucket"),
            )
            for r in range(d)
        ]
    )
    pb = topk.select("k", "exact_n", F.explode(pairs).alias("p")).select(
        "k", "exact_n", F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket")
    )
    est = (
        cm.join(F.broadcast(pb), ["r", "bucket"])
        .groupBy("k", "exact_n")
        .agg(F.min("cnt").alias("_cm"))
    )
    return est.select(
        F.col("k").alias(key_col),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("_cm").cast("long").alias("cm_est"),
        (F.col("_cm") - F.col("exact_n")).cast("long").alias("overestimate"),
    )


def quantile_histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 256,
    lo: float | None = None,
    hi: float | None = None,
) -> tuple:
    """Mergeable quantile sketch: a fixed equi-width histogram over the
    exact [min, max] range — the portable alternative to
    ``percentile_approx`` (whose GK/KLL internals differ per engine).
    Two passes: ONE min/max/count aggregate (3 scalars to the driver),
    then ONE bin-count aggregate (≤ ``bins`` rows). Counts are exact
    integers and merge by addition across partitions, shards, or days —
    the sketch property. Returns ((lo, hi, n), [(bin, count), ...]).

    Determinism: bin index = least(floor((v − lo)/width), bins−1) with
    width = (hi − lo)/bins — identical double expressions in any
    engine; everything downstream is integer.

    Fixed-range mode (pass BOTH ``lo`` and ``hi``): skips the min/max
    pass — ONE aggregate total (the streaming-parity form: the
    GroupState twin bins on a declared range because a stream's final
    range is unknowable upfront). Out-of-range values clamp to the
    edge bins (greatest/least), n derives from the bin-count sum."""
    if lo is None or hi is None:
        r = df.agg(
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        lo, hi, n = r["lo"], r["hi"], r["n"] and int(r["n"])
        if n == 0 or lo is None:
            return (None, None, 0), []
        if hi == lo:
            return (lo, hi, n), [(0, n)]
    elif hi == lo:
        n = df.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        return (lo, hi, int(n)), ([(0, int(n))] if n else [])
    width = (hi - lo) / float(bins)
    b = F.greatest(
        F.least(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(bins - 1),
        ),
        F.lit(0),
    )
    counts = (
        df.select(b.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out = sorted((int(x["b"]), int(x["c"])) for x in counts)
    n = sum(c for _, c in out)
    return (lo, hi, n), out


def quantile_estimates(
    stats: tuple,
    counts: list,
    qs: list,
    bins: int = 256,
) -> list:
    """Quantile estimates from a :func:`quantile_histogram` sketch:
    within-bin uniform interpolation — est = lo + width·(b + (q·n −
    cum_before)/c_b) at the first bin whose cumulative count reaches
    q·n. Plain deterministic double arithmetic (mirrored token for
    token by the oracle SQL)."""
    lo, hi, n = stats
    if n == 0:
        return [None for _ in qs]
    if hi == lo:
        return [float(lo) for _ in qs]
    width = (hi - lo) / float(bins)
    out = []
    for q in qs:
        target = q * float(n)
        cum = 0
        est = float(hi)  # fallback: everything below target
        for b, c in counts:
            if cum + c >= target:
                est = lo + width * (float(b) + (target - float(cum)) / float(c))
                break
            cum += c
        out.append(est)
    return out


# --- production path: per-occurrence native hash, map-side -------------------
# partial reduction — nothing data-scale crosses an exchange. See the
# module docstring's two-path contract; the portable forms above stay
# as the oracle-gated registry queries.


def hll_counts_fast(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """Production HyperLogLog distinct-count estimate per group: one
    ``F.xxhash64`` per OCCURRENCE (JVM-native, whole-stage codegen —
    no interpreted char fold, no ``.distinct()`` of raw keys), register
    index = low ``p`` hash bits, rank = trailing zeros of the remaining
    64−p bits + 1. The ``groupBy(g, ridx).max(rho)`` reduction is
    where the scale story lives: partial aggregation folds every
    occurrence map-side, so the exchange carries at most m·|groups|
    register rows PER MAP PARTITION regardless of data volume — the
    plan-audit test pins that the only exchanges hash-partition on
    (g, ridx) / (g), never on the key.

    Determinism: registers are exact integers; the harmonic
    denominator folds as Σ 2^(maxrho−rho) in DECIMAL(38,0) (maxrho =
    64−p+1, so the largest term is 2^(64−p) and no width overflows),
    empty registers contribute 2^maxrho; ``est_raw`` is one terminal
    float expression and the linear-counting branch CONDITION is
    integer-exact — same run-to-run bits in any partitioning.

    Output schema matches :func:`hll_counts` (est, est_raw, n_empty);
    estimates differ only through the hash family (differential-tested
    for estimator error, not bit equality)."""
    if not 4 <= p <= 16:
        raise ValueError("hll_counts_fast: p must be in [4, 16]")
    m = 1 << p
    maxrho = 64 - p + 1
    h = F.xxhash64(F.col(key_col))
    ridx = h.bitwiseAND(F.lit(m - 1))
    rest = F.shiftrightunsigned(h, p)
    rho = F.when(rest == 0, F.lit(maxrho)).otherwise(
        F.bit_count(rest.bitwiseAND(-rest) - F.lit(1)) + F.lit(1)
    )
    regs = (
        df.select(F.col(group_col).alias("g"), ridx.alias("ridx"), rho.alias("rho"))
        .groupBy("g", "ridx")
        .agg(F.max("rho").alias("r"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    two_maxrho = float(1 << maxrho)
    num = alpha * float(m) * float(m) * two_maxrho
    per_g = regs.groupBy("g").agg(
        F.sum(
            F.expr(f"cast(shiftleft(1L, {maxrho} - r) as decimal(38,0))")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (
        (F.lit(m) - F.col("n_present")).cast("decimal(38,0)")
        * F.lit(1 << maxrho).cast("decimal(38,0)")
    )
    v = (F.lit(m) - F.col("n_present")).cast("long")
    est_raw = F.lit(num) / s_total.cast("double")
    est_linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((est_raw <= F.lit(2.5 * m)) & (v > 0), est_linear).otherwise(est_raw)
    return per_g.select(
        F.col("g").alias(group_col),
        est.alias("est"),
        est_raw.alias("est_raw"),
        v.alias("n_empty"),
    )


def _xx63(col: Column) -> Column:
    """``F.xxhash64`` mapped onto [0, 2^63): unsigned-shift the sign
    bit away so every order statistic is a plain nonnegative int64
    comparison. One avalanche-quality native hash, no char folds."""
    return F.shiftrightunsigned(F.xxhash64(col), 1)


def kmv_counts_fast(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """Production K-minimum-values distinct-count estimate per group:
    per-occurrence ``F.xxhash64`` (→ uniform on [0, 2^63)), then a
    STRICTLY BOUNDED per-partition partial top-k — an Arrow map pass
    that keeps, per group, only the k smallest distinct hashes seen in
    that partition (a sort-based numpy merge capped at k per batch) and
    emits ≤ k rows per (group, partition); NULL groups are dropped. Spark
    has no bounded top-k aggregate, so this is the one non-builtin
    step; unlike ``collect_set`` the partial STATE and the exchange
    rows are both k-capped, which is the whole point at 100 TB. The
    tiny merge layer (≤ k·|groups|·|partitions| rows) dedupes with one
    hash aggregate and re-ranks with a WindowGroupLimit top-k.

    est = (k−1)·2^63 / h_(k); groups with fewer than k distinct hashes
    are EXACT (n_kept = the distinct count — hash-independent, which
    is the regime the registry oracle-checks). Output schema matches
    :func:`kmv_counts` (est, n_kept, kth_hash)."""
    import numpy as np

    proj = df.select(F.col(group_col).alias("g"), _xx63(F.col(key_col)).alias("h"))

    def smallest(g, h):
        # the k smallest distinct h per g: sort by (g, h), drop repeats,
        # keep each group's first k
        keys, gi = np.unique(g, return_inverse=True)
        order = np.lexsort((h, gi))
        gi, h = gi[order], h[order]
        new = np.ones(len(gi), bool)
        new[1:] = (gi[1:] != gi[:-1]) | (h[1:] != h[:-1])
        gi, h = gi[new], h[new]
        first = np.flatnonzero(np.r_[True, gi[1:] != gi[:-1]])
        rank = np.arange(len(gi)) - np.repeat(first, np.diff(np.r_[first, len(gi)]))
        return keys[gi[rank < k]], h[rank < k]

    def _partial(batches):
        parts = [smallest(b["g"], b["h"]) for b in batches]
        g, h = smallest(*(np.concatenate(c) for c in zip(*parts)))
        yield {"g": g, "h": h}

    partials = arrow.map_partitions(
        proj.where(F.col("g").isNotNull()),
        _partial,
        {"g": df.schema[group_col].dataType, "h": "long"},
    )
    dh = partials.groupBy("g", "h").agg(F.lit(1))
    w = Window.partitionBy("g").orderBy("h")
    topk = dh.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    agg = topk.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    r_total = 9223372036854775808.0  # 2^63 — exactly representable
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(r_total) / F.col("h_k").cast("double"))
    return agg.select(
        F.col("g").alias(group_col),
        est.alias("est"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("h_k").alias("kth_hash"),
    )


def cm_table_fast(
    df: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 3,
) -> DataFrame:
    """Production count-min sketch table: d native ``F.xxhash64``
    probes per OCCURRENCE (salt literal per row — independent hash
    families), reduced by ``groupBy(r, bucket).sum`` whose partial
    aggregation folds every occurrence map-side: the exchange carries
    at most d·w counter rows per map partition however many rows
    stream through — no ``.distinct()``, no key-scale shuffle, and the
    d·w-row table merges across shards by addition exactly like the
    portable form. Returns (r, bucket, cnt)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(
                    F.xxhash64(F.lit(f"c{r}|"), F.col(key_col)), F.lit(w)
                ).alias("bucket"),
            )
            for r in range(d)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.r", "p.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate_fast(
    cm: DataFrame,
    keys_df: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 3,
) -> DataFrame:
    """Point-frequency estimates from a :func:`cm_table_fast` table:
    min over the d hashed counters for each probe key (CM never
    underestimates). ``cm`` is ≤ d·w rows, so every join side is
    broadcast — the probe set never shuffles the corpus."""
    est = keys_df
    for r in range(d):
        cr = cm.where(F.col("r") == r).select(
            F.col("bucket").alias(f"_b{r}"), F.col("cnt").alias(f"_c{r}")
        )
        est = est.withColumn(
            f"_b{r}",
            F.pmod(F.xxhash64(F.lit(f"c{r}|"), F.col(key_col)), F.lit(w)),
        ).join(F.broadcast(cr), f"_b{r}")
    cm_est = F.least(*[F.col(f"_c{r}") for r in range(d)])
    return est.select(key_col, cm_est.cast("long").alias("cm_est"))
