"""Streaming cardinality sketches: running distinct-count estimates
over an unbounded event stream with FIXED per-group state.

The batch tier (``operators/sketches.py``) computes HLL registers as
pure column expressions; the streaming form reuses the SAME hash/
register projections (one definition, two execution modes — the
curation-tier pattern) and folds register maxima in ``GroupState``:
state per group is exactly m = 2^p small ints regardless of how many
events ever arrive — the sketch property IS the streaming story (an
exact streaming distinct would grow state with every new key).

Emission: each micro-batch a group appears in emits its CURRENT
estimate (update mode); register maxima only ever grow, so the last
emission per group equals the batch estimate over the same data —
pinned by the batch-parity test. The raw harmonic estimate is computed
with the identical constant and division as the batch column (Python
and JVM doubles are both IEEE-754 — bit-equal); the linear-counting
correction uses ``math.log`` vs the JVM's ``ln`` (same last-ulp caveat
as every ln in the repo)."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sketches import _salted_hash

HLL_OUT_SCHEMA = "g string, est double, est_raw double, n_empty long"
HLL_STATE_SCHEMA = "regs array<int>"


def with_hll_columns(df: DataFrame, key_col: str, p: int = 6) -> DataFrame:
    """The stateless projection shared with the batch operator: register
    index from one salted+avalanched hash, Flajolet–Martin rank from an
    independent second one."""
    m = 1 << p
    h1 = _salted_hash(F.col(key_col), "r|")
    h2 = _salted_hash(F.col(key_col), "s|")
    rho = F.when(h2 == 0, F.lit(31)).otherwise(
        F.bit_count((h2.bitwiseAND(-h2) - F.lit(1)).cast("long")) + F.lit(1)
    )
    return df.withColumn("ridx", (h1 % m).cast("int")).withColumn(
        "rho", rho.cast("int")
    )


def streaming_hll_distinct(
    stream: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 6,
) -> DataFrame:
    """Running HLL distinct-key estimate per group over a stream.

    State per group: the m register maxima (ints) — fixed size forever.
    Each micro-batch folds the batch's (ridx, rho) rows into the state
    with ``max`` (associative and idempotent, so replays/duplicates are
    harmless) and emits the group's current estimate."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    num = alpha * float(m) * float(m) * 4294967296.0  # == the batch F.lit

    def fn(key, pdfs, state: GroupState):
        regs = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            for ridx, rho in zip(pdf["ridx"], pdf["rho"]):
                ridx = int(ridx)
                if int(rho) > regs[ridx]:
                    regs[ridx] = int(rho)
        state.update((regs,))
        s_total = sum(1 << (32 - r) for r in regs)  # empty: rho=0 → 2^32
        v = sum(1 for r in regs if r == 0)
        est_raw = num / float(s_total)
        if est_raw <= 2.5 * m and v > 0:
            est = float(m) * math.log(float(m) / v)
        else:
            est = est_raw
        yield pd.DataFrame(
            [(key[0], est, est_raw, v)],
            columns=["g", "est", "est_raw", "n_empty"],
        )

    proj = with_hll_columns(stream, key_col, p).select(
        F.col(group_col).cast("string").alias("g"), "ridx", "rho"
    )
    return proj.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=HLL_OUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_OUT_SCHEMA = "g string, est double, n_kept long, kth_hash long"
KMV_STATE_SCHEMA = "mins array<long>"


def with_kmv_hash(df: DataFrame, key_col: str) -> DataFrame:
    """The stateless 62-bit combined hash shared with the batch KMV."""
    h = (
        _salted_hash(F.col(key_col), "r|") * F.lit(2147483648)
        + _salted_hash(F.col(key_col), "s|")
    )
    return df.withColumn("h", h)


def streaming_kmv_distinct(
    stream: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Running KMV distinct-key estimate per group over a stream: state
    per group is the k smallest distinct hashes seen so far (a bounded
    sorted list — min-merge is associative and idempotent, duplicates
    and replays are harmless). Emission math matches the batch
    operator token for token, so the final streaming estimate
    bit-matches batch ``kmv_counts`` over the same data (parity test)."""

    def fn(key, pdfs, state: GroupState):
        mins = list(state.get[0]) if state.exists else []
        s = set(mins)
        for pdf in pdfs:
            for h in pdf["h"]:
                s.add(int(h))
        mins = sorted(s)[:k]
        state.update((mins,))
        n_kept = len(mins)
        h_k = mins[-1] if mins else 0
        if n_kept < k:
            est = float(n_kept)
        else:
            est = float(k - 1) * 4611686018427387904.0 / float(h_k)
        yield pd.DataFrame(
            [(key[0], est, n_kept, h_k)],
            columns=["g", "est", "n_kept", "kth_hash"],
        )

    proj = with_kmv_hash(stream, key_col).select(
        F.col(group_col).cast("string").alias("g"), "h"
    )
    return proj.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quantile_out_schema(qs: tuple) -> str:
    cols = ", ".join(f"q{int(round(q * 1000)):03d} double" for q in qs)
    return f"g string, n long, {cols}"


QHIST_STATE_SCHEMA = "counts array<long>"


def streaming_quantile_histogram(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    qs: tuple = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Running quantile estimates per group over a stream — the
    GroupState twin of ``operators.sketches.quantile_histogram``
    (the streaming sketch tier: distinct = HLL/KMV, quantiles = this).

    State per group: the ``bins`` int64 bin counts — fixed size
    forever; counts merge by addition (associative), so micro-batch
    boundaries cannot move a bit. The range is DECLARED (a stream's
    final min/max is unknowable upfront); the batch operator's
    fixed-range mode bins on the same declared range with the same
    clamped floor expression, and the estimates go through the SAME
    ``quantile_estimates`` Python code path — so the last streaming
    emission per group bit-matches the batch sketch over the same rows
    (the batch-parity test). Out-of-range values clamp to the edge
    bins on both sides."""
    from ..operators.sketches import quantile_estimates

    width = (hi - lo) / float(bins)
    b = F.greatest(
        F.least(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(bins - 1),
        ),
        F.lit(0),
    )
    out_schema = quantile_out_schema(qs)
    qlist = list(qs)

    def fn(key, pdfs, state: GroupState):
        counts = list(state.get[0]) if state.exists else [0] * bins
        for pdf in pdfs:
            for bb in pdf["b"]:
                counts[int(bb)] += 1
        state.update((counts,))
        n = sum(counts)
        pairs = [(i, c) for i, c in enumerate(counts) if c > 0]
        ests = quantile_estimates((lo, hi, n), pairs, qlist, bins=bins)
        yield pd.DataFrame(
            [(key[0], n, *ests)],
            columns=["g", "n"] + [f"q{int(round(q * 1000)):03d}" for q in qlist],
        )

    proj = stream.select(
        F.col(group_col).cast("string").alias("g"), b.alias("b")
    ).where(F.col("b").isNotNull())
    return proj.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=QHIST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CM_OUT_SCHEMA = "g string, r int, bucket int, cnt long"
CM_STATE_SCHEMA = "counts array<long>"


def streaming_cm_table(
    stream: DataFrame,
    group_col: str,
    key_col: str,
    w: int = 256,
    d: int = 3,
) -> DataFrame:
    """Running count-min sketch per group over a stream — the GroupState
    twin of ``operators.sketches.cm_table`` (completes the streaming
    tier: distinct=HLL/KMV, quantiles=histogram, frequency=this).

    State per group: the d·w int64 counter table, flattened — fixed
    size forever; counters are plain sums (associative), so micro-batch
    boundaries cannot move a bit and the final emission bit-matches the
    batch table over the same rows (parity test). Uses the SAME portable
    salted-hash projection as the batch operator (one definition, two
    execution modes); each micro-batch emits the group's current
    non-zero counters."""
    from ..operators.sketches import _salted_hash

    cols = [
        (_salted_hash(F.col(key_col), f"c{r}|") % w).alias(f"_b{r}")
        for r in range(d)
    ]
    proj = stream.select(F.col(group_col).cast("string").alias("g"), *cols)

    def fn(key, pdfs, state: GroupState):
        counts = list(state.get[0]) if state.exists else [0] * (d * w)
        for pdf in pdfs:
            for r in range(d):
                for b in pdf[f"_b{r}"]:
                    counts[r * w + int(b)] += 1
        state.update((counts,))
        rows = [
            (key[0], r, b, counts[r * w + b])
            for r in range(d)
            for b in range(w)
            if counts[r * w + b]
        ]
        yield pd.DataFrame(rows, columns=["g", "r", "bucket", "cnt"])

    return proj.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=CM_OUT_SCHEMA,
        stateStructType=CM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
