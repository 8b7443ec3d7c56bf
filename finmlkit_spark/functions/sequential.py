"""Sequential-recurrence kernels (SURVEY.md §2.5 "seq" rows + §2.3
stateful bar indexers) — the grouped-kernel tier.

These operators are true recurrences (EWMA family, Wilder smoothing,
CUSUM state machines, reset-semantics bar indexers) with no bounded
window form. Execution model: a NumPy kernel per group through the
Arrow kernel boundary (:func:`arrow.groups`, rows sorted within the
group) — sequential *within* a (symbol) group, parallel *across*
groups, exactly mirroring the reference's per-array Numba kernels run
per instrument.

Scale posture (100 TB): state per group is O(1)-O(window), so the only
constraint is one task per symbol. A single huge symbol takes one of two
scale families, both chunk-parallel with no warmup truncation and no
``SinglePartition`` exchange:

- closed-combine scans (``ewma_parallel``, ``ewms_parallel``,
  ``rsi_parallel``, ``atr_ema_parallel`` through :func:`_closed_scan`;
  ``ewmst_parallel`` with a time-anchored combine): the recurrence is
  linear, so chunk-local sums plus a closed-form decayed carry give
  every row its full history. Contract: within 1e-11 relative of the
  sequential kernel (EW std: 1e-9) — float reassociation only;
- chunk-stitch scans (``cusum_filter_chunked``,
  ``cusum_bar_ids_chunked``, ``cusum_adaptive_bars_chunked`` through
  :class:`_ChunkStitch`): the reset state machines have no closed
  combine, so exact entry states are found by a driver-chained fixed
  point and the same kernel is replayed. Contract: bit-identical to the
  sequential kernel.

(``cusum_test_chunked`` looks back a bounded ``w`` rows, so the warmup
row chunks of ``chunked_window`` alone make it bit-identical.)

Each state machine (EWMST, the CUSUM filter and bars, volume, imbalance
and run bars) has ONE per-row body in entry-state form, ``*_state(...,
*entry) -> (values, *exit)``, the bar indexers appending the count of
bars closed: the batch function runs it from the initial state,
:class:`_ChunkStitch` from the converged chunk entries, and
``streaming.bars`` from the state a GroupState carries.

``ewma_parallel``, ``ewms_parallel`` and ``cusum_filter_chunked`` also
run their sequential kernel on the driver when the stream is at most
:data:`SEQ_DRIVER_MAX_ROWS` rows (:func:`_driver_scan`).

Reference behavior parity (math re-derived, no code reuse):
EWMA family ``core/ma.py:6-43``, EW std ``core/volatility.py:9-219``,
RSI ``core/momentum.py:25-65``, EMA-ATR ``core/volatility.py:352-437``,
ADX ``core/trend.py:8-96``, CUSUM filter ``sampling/filters.py:6-70``,
CUSUM test ``core/structural_break/cusum.py``, volume/CUSUM bar
indexers ``bar/logic.py:87-221``.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import arrow
from .chunked_window import CHUNK, GLOBAL_RN, WARM, with_row_chunks


#: Largest single stream (rows) that :func:`ewma_parallel`,
#: :func:`ewms_parallel` and :func:`cusum_filter_chunked`
#: hand to their sequential kernel on the driver; larger inputs run the
#: chunk scan. Measured crossover: SCALE.md "Sequential driver gate".
SEQ_DRIVER_MAX_ROWS = 1_000_000


def _driver_scan(
    df: DataFrame,
    order_col: str,
    cols: list[str],
    out: str,
    kernel: Callable[..., np.ndarray],
) -> tuple[DataFrame, DataFrame | None]:
    """Driver gate of the single-stream scans: ``(cut, local)``.

    The projection ``(order_col, *cols)`` goes through
    :func:`cache.collect_if_small` at :data:`SEQ_DRIVER_MAX_ROWS`. When it
    fits, ``kernel`` gets each of ``cols`` as a float64 array (NULL as
    NaN) in ``order_col`` order, and ``local`` is ``(order_col, out)``
    replanted as a LocalTableScan, NaN as NULL. Otherwise ``local`` is
    None and the caller scans ``cut``, the projection behind its lineage
    cut, so the upstream executes once on either side."""
    import pyarrow as pa

    from .. import cache

    cut, tbl = cache.collect_if_small(df.select(order_col, *cols), SEQ_DRIVER_MAX_ROWS)
    if tbl is None:
        return cut, None
    tbl = tbl.sort_by(order_col)
    y = kernel(*(tbl.column(c).to_numpy().astype(np.float64) for c in cols))
    res = pa.table({order_col: tbl.column(order_col), out: pa.array(y, from_pandas=True)})
    return cut, df.sparkSession.createDataFrame(res)


# --- EWMA family ------------------------------------------------------------

def ewma(x: np.ndarray, span: float) -> np.ndarray:
    """pandas-equivalent adjust=True EWMA: y_t = Σ(1−α)^k x_{t−k} / Σ(1−α)^k."""
    return pd.Series(x).ewm(span=span, adjust=True, ignore_na=False).mean().to_numpy()


def ewms(x: np.ndarray, span: float) -> np.ndarray:
    """Adjust=True bias-corrected EW std (reliability-weight correction
    V²/(V²−V2), pandas ``ewm.std(bias=False)``)."""
    return pd.Series(x).ewm(span=span, adjust=True, ignore_na=False).std(bias=False).to_numpy()


#: :func:`ewmst_state` entry before any sample: (V, V2, Sy, Syy, prev_t, last_out)
EWMST_STATE0 = (0.0, 0.0, 0.0, 0.0, -1, float("nan"))


def ewmst_state(
    ts_ns: np.ndarray,
    y: np.ndarray,
    halflife_ns: float,
    V: float, V2: float, Sy: float, Syy: float,
    prev_t: int, last_out: float,
) -> tuple[np.ndarray, float, float, float, float, int, float]:
    """The :func:`ewmst` recurrence from an explicit entry state — the
    one body behind the batch kernel, the chunk stitch and the stream.
    ``prev_t`` is the EXACT int64 ns anchor of the last non-NaN sample
    (< 0 = none yet: ns epochs exceed double's 2^53 integer range, so it
    must never pass through a float); that sentinel needs every
    ``ts_ns`` ≥ 0. ``last_out`` is the previous emitted std for the
    NaN-carry. Returns (sigma, V, V2, Sy, Syy, prev_t, last_out); a
    chained replay is bit-identical to one run over the whole series."""
    lam = math.log(2.0) / halflife_ns
    out = np.full(len(y), np.nan)
    for i in range(len(y)):
        if np.isnan(y[i]):
            if V != 0:
                out[i] = out[i - 1] if i > 0 else last_out
            continue
        d = 1.0 if prev_t < 0 else math.exp(-lam * (ts_ns[i] - prev_t))
        V = 1.0 + d * V
        V2 = 1.0 + d * d * V2
        Sy = y[i] + d * Sy
        Syy = y[i] * y[i] + d * Syy
        prev_t = int(ts_ns[i])
        if V * V > V2:
            m = Sy / V
            var = max(Syy / V - m * m, 0.0) * (V * V) / (V * V - V2)
            out[i] = math.sqrt(var)
    if len(y):
        last_out = float(out[-1])
    return out, V, V2, Sy, Syy, prev_t, last_out


def ewmst(ts_ns: np.ndarray, y: np.ndarray, halflife_ns: float) -> np.ndarray:
    """Time-decay EW std on an irregular series: weight of sample i at
    time t is exp(−(t−t_i)·ln2/halflife); bias-corrected like ``ewms``.
    NaN samples re-emit the previous std. It is :func:`ewmst_state`
    from :data:`EWMST_STATE0`, so ``ts_ns`` must be ≥ 0.

    O(1) state recurrence (V, V2, Sy, Syy decay by d = w^Δt per step) —
    the closed form over absolute time is what the DuckDB oracle uses.

    Numerical note: the E[y²]−E[y]² form cancels catastrophically when
    std ≪ |mean| (error ~ sqrt(eps)·|mean|, i.e. ~1e-6 per 1e2 of price
    level — negligible at realistic volatility, bounded in
    tests/test_kernel_properties.py). Chosen deliberately so the SQL
    oracle computes the *identical* expression.
    """
    return ewmst_state(ts_ns, y, halflife_ns, *EWMST_STATE0)[0]


# --- closed-combine scans ---------------------------------------------------


def _earlier_chunks(left: DataFrame, summary: DataFrame) -> DataFrame:
    """The triangular join behind every cross-chunk carry: each ``_ck``
    row of ``left`` meets the ``summary`` row of every strictly earlier
    chunk (its chunk id renamed ``_ckb``); chunk 0 keeps one NULL row."""
    return left.join(
        summary.withColumnRenamed("_ck", "_ckb"), F.col("_ckb") < F.col("_ck"), "left"
    )


def _decayed_count(valid: np.ndarray, q: float) -> np.ndarray:
    """Σ_{j<=t, valid_j} q^(t−j) over one chunk — the ``ignore_na=False``
    weight sum: the closed form (1 − q^p)/(1 − q) when every row is
    valid, else that times the EW mean of the validity flags."""
    p = np.arange(1, len(valid) + 1, dtype=np.float64)
    full = (1.0 - q**p) / (1.0 - q)
    if valid.all():
        return full
    flags = pd.Series(valid, dtype=np.float64)
    return flags.ewm(alpha=1.0 - q, adjust=True).mean().to_numpy() * full


def _closed_scan(
    df: DataFrame,
    order_col: str,
    chunk_rows: int,
    warmup: int,
    local: Callable[[dict[str, np.ndarray], np.ndarray, int], dict[str, np.ndarray]],
    decay: dict[str, float],
    final: Callable[[dict[str, Column]], Column],
    out: str,
    rn_col: str | None = None,
) -> DataFrame:
    """The two-pass closed-combine scan behind the ``*_parallel`` EW and
    Wilder scans: ``(order_col[, rn_col], out)``.

    Every moment M in ``decay`` is a linear recurrence
    M_t = f_t + q·M_{t−1} with its own q. The rows of ``df`` are
    chunked by exact global row number
    (:func:`chunked_window.with_row_chunks`, the previous chunk's last
    ``warmup`` rows in front, flagged ``_warm``). ``local(cols, real,
    ck)`` gets one chunk's columns in global row order and returns each
    moment over the chunk's own rows (``real``), summed from a zero state —
    or, for a seeded recurrence, chunk 0's true seeded values. The carry
    into chunk c decays every earlier chunk's end value across the
    full chunks between them,

        C_M(c) = Σ_{j<c} M_end(j) · q^((c−j−1)·chunk_rows),

    a triangular join over the one-row-per-chunk summary, and the row
    at position pos of chunk c combines as M = M_loc + q^pos · C_M(c).
    ``final`` maps the combined moments to the output column (it may
    read the global row number as ``chunked_window.GLOBAL_RN``), which
    ``rn_col`` also exposes when set.
    """
    d = with_row_chunks(df, order_col, warmup=warmup, chunk_rows=chunk_rows)

    def scan(cols):
        real = ~cols[WARM]
        ck = int(cols[CHUNK][0])
        pos = np.arange(1, int(real.sum()) + 1)
        mom = local(cols, real, ck)
        return {
            order_col: cols[order_col][real],
            GLOBAL_RN: cols[GLOBAL_RN][real],
            "_ck": np.full(len(pos), ck),
            "_pos": pos,
            **{f"_l_{k}": mom[k] for k in decay},
        }

    sch = ", ".join(
        [
            f"`{order_col}` {df.schema[order_col].dataType.simpleString()}",
            f"`{GLOBAL_RN}` long",
            "`_ck` long",
            "`_pos` long",
            *(f"`_l_{k}` double" for k in decay),
        ]
    )
    scanned = arrow.groups(d, CHUNK, scan, sch, order=(GLOBAL_RN,))
    summary = scanned.groupBy("_ck").agg(
        *(F.max_by(f"_l_{k}", "_pos").alias(f"_e_{k}") for k in decay)
    )
    gap = (F.col("_ck") - F.col("_ckb") - 1) * chunk_rows
    carries = (
        _earlier_chunks(summary.select("_ck"), summary)
        .groupBy("_ck")
        .agg(
            *(
                F.coalesce(F.sum(F.col(f"_e_{k}") * F.pow(F.lit(q), gap)), F.lit(0.0)).alias(
                    f"_c_{k}"
                )
                for k, q in decay.items()
            )
        )
    )
    moments = {
        k: F.col(f"_l_{k}") + F.pow(F.lit(q), F.col("_pos")) * F.col(f"_c_{k}")
        for k, q in decay.items()
    }
    rn = [F.col(GLOBAL_RN).alias(rn_col)] if rn_col else []
    return scanned.join(F.broadcast(carries), ["_ck"]).select(
        order_col, *rn, final(moments).alias(out)
    )


def ewma_parallel(
    df: DataFrame,
    col: str,
    span: float,
    order_col: str = "ts_ns",
    chunk_rows: int = 4096,
    out: str = "ewma",
) -> DataFrame:
    """EXACT parallel EWMA for one huge stream — no warmup truncation:
    every row's value carries the full history.

    adjust=True EWMA is a ratio of two linear recurrences
    (``core/ma.py:6-43`` semantics):

        y_t = N_t / D_t,  N_t = x_t + q·N_{t−1},  D_t = 1 + q·D_{t−1}

    with q = 1−α, so :func:`_closed_scan` combines them: each chunk's
    local sums come from C-speed ``pandas.ewm`` (N = mean·D), the carry
    is the closed-form decayed sum over the earlier chunks. A NULL
    input decays the sums without adding to them (``ignore_na=False``:
    D counts only non-NULL rows). Terms underflow to 0 once a gap
    exceeds ~−745/ln q rows, which is exactly the memory horizon.

    Driver gate (:func:`_driver_scan`): a stream of at most
    :data:`SEQ_DRIVER_MAX_ROWS` rows runs :func:`ewma` on the driver and
    returns its bits exactly; a larger one runs the chunk scan, within
    1e−11 relative of :func:`ewma` (float reassociation only).
    """
    df, local = _driver_scan(df, order_col, [col], out, lambda x: ewma(x, span))
    if local is not None:
        return local
    q = 1.0 - 2.0 / (span + 1.0)

    def moments(cols, real, ck):
        x = cols[col].astype(np.float64)
        d = _decayed_count(~np.isnan(x), q)
        mean = pd.Series(x).ewm(span=span, adjust=True, ignore_na=False).mean().to_numpy()
        return {"n": np.where(d > 0, mean * d, 0.0), "d": d}

    def final(m):
        return F.when(m["d"] > 0, m["n"] / m["d"])

    return _closed_scan(df, order_col, chunk_rows, 0, moments, {"n": q, "d": q}, final, out)


def ewms_parallel(
    df: DataFrame,
    col: str,
    span: float,
    order_col: str = "ts_ns",
    chunk_rows: int = 4096,
    out: str = "ewms",
) -> DataFrame:
    """EXACT parallel EW moving std (adjust=True, bias-corrected) — the
    four decayed moments behind :func:`ewms` (V, V2, Sy, Syy) are each
    linear recurrences in q = 1−α (V2 in q²), combined by
    :func:`_closed_scan`, then the reliability-weight variance
    V²/(V²−V2)·(Syy/V − (Sy/V)²). V and V2 count only non-NULL rows.
    The first row is NULL.

    Driver gate (:func:`_driver_scan`): a stream of at most
    :data:`SEQ_DRIVER_MAX_ROWS` rows runs :func:`ewms` on the driver and
    returns its bits exactly; a larger one runs the chunk scan, within
    1e−9 relative of :func:`ewms`.
    """
    df, local = _driver_scan(df, order_col, [col], out, lambda x: ewms(x, span))
    if local is not None:
        return local
    q = 1.0 - 2.0 / (span + 1.0)

    def moments(cols, real, ck):
        x = cols[col].astype(np.float64)
        valid = ~np.isnan(x)
        v = _decayed_count(valid, q)
        sy = pd.Series(x).ewm(span=span, adjust=True, ignore_na=False).mean().to_numpy() * v
        syy = pd.Series(x * x).ewm(span=span, adjust=True, ignore_na=False).mean().to_numpy() * v
        return {
            "v": v,
            "v2": _decayed_count(valid, q * q),
            "sy": np.where(v > 0, sy, 0.0),
            "syy": np.where(v > 0, syy, 0.0),
        }

    def final(m):
        V, V2, Sy, Syy = m["v"], m["v2"], m["sy"], m["syy"]
        mean = Sy / V
        var = F.greatest(Syy / V - mean * mean, F.lit(0.0)) * V * V / (V * V - V2)
        return F.when((F.col(GLOBAL_RN) > 1) & (V * V > V2), F.sqrt(var))

    decay = {"v": q, "v2": q * q, "sy": q, "syy": q}
    return _closed_scan(df, order_col, chunk_rows, 0, moments, decay, final, out)


def ewmst_parallel(
    df: DataFrame,
    ts_col: str,
    y_col: str,
    halflife_ns: float,
    chunk_rows: int = 4096,
    out: str = "ewmst",
) -> DataFrame:
    """EXACT parallel time-decay EW std (:func:`ewmst` semantics) — the
    reference's volatility estimator for TBM targets, parallel within
    one symbol with zero truncation.

    All four moments are ABSOLUTE-TIME decayed sums over non-NaN
    samples: M_t = Σ_i f(y_i)·exp(−λ(t − t_i)) (V2 with 2λ), because
    the per-step decays exp(−λΔ) telescope. So chunks (by exact global
    row number) scan locally from zero state, and the cross-chunk carry
    anchored at T_ref(c) = the latest sample time before chunk c is

        C_M(c) = Σ_{j<c} M_end(j)·exp(−λ(T_ref(c) − T_j))

    — which IS the combined end-state of the previous chunks, so the
    per-row combine is one decay factor exp(−λ(t − T_ref)). Both T_ref
    and the carry are triangular joins over the per-chunk summary
    (:func:`_earlier_chunks`). Exponents are never positive: no
    overflow, and terms underflow to zero exactly at the estimator's
    memory horizon. NaN inputs emit the previous sample's std
    (sequential semantics) via an ignore-nulls forward fill within the
    chunk, falling back to the carry's own std at chunk heads; rows
    before any sample stay NULL.

    Caveat (documented, irrelevant for distinct-timestamp bar data): if
    two samples share one timestamp the V²>V2 guard can suppress a
    mid-series std, and a NaN immediately after would fill from an
    older value than the sequential kernel's NaN.
    """
    lam = math.log(2.0) / float(halflife_ns)
    d = with_row_chunks(df, ts_col, warmup=0, chunk_rows=chunk_rows)

    def local_scan(cols):
        t = cols[ts_col].astype(np.int64)
        y = cols[y_col].astype(np.float64)
        n = len(y)
        Vv = np.full(n, np.nan)
        V2v = np.full(n, np.nan)
        Syv = np.full(n, np.nan)
        Syyv = np.full(n, np.nan)
        V = V2 = Sy = Syy = 0.0
        prev_t = None
        for i in range(n):
            if np.isnan(y[i]):
                continue
            dec = 1.0 if prev_t is None else math.exp(-lam * (t[i] - prev_t))
            V = 1.0 + dec * V
            V2 = 1.0 + dec * dec * V2
            Sy = y[i] + dec * Sy
            Syy = y[i] * y[i] + dec * Syy
            prev_t = t[i]
            Vv[i], V2v[i], Syv[i], Syyv[i] = V, V2, Sy, Syy
        return {
            ts_col: cols[ts_col],
            "_ck": cols[CHUNK],
            "_y": y,
            "_v": Vv,
            "_v2": V2v,
            "_sy": Syv,
            "_syy": Syyv,
        }

    sch = ", ".join(
        [
            f"`{ts_col}` {df.schema[ts_col].dataType.simpleString()}",
            "`_ck` long",
            "`_y` double",
            "`_v` double",
            "`_v2` double",
            "`_sy` double",
            "`_syy` double",
        ]
    )
    scanned = arrow.groups(d, CHUNK, local_scan, sch, order=(ts_col,))

    nn = scanned.where(~F.isnan("_v") & F.col("_v").isNotNull())
    summary = nn.groupBy("_ck").agg(
        F.max(ts_col).alias("_Tb"),
        F.max_by("_v", ts_col).alias("_vl"),
        F.max_by("_v2", ts_col).alias("_v2l"),
        F.max_by("_sy", ts_col).alias("_syl"),
        F.max_by("_syy", ts_col).alias("_syyl"),
    )
    tref = (
        _earlier_chunks(summary.select("_ck"), summary)
        .groupBy("_ck")
        .agg(F.max("_Tb").alias("_Tref"))
    )
    # second triangular pass: decayed sums anchored at T_ref(c)
    dec1 = F.exp(-lam * (F.col("_Tref") - F.col("_Tb")))
    dec2 = F.exp(-2.0 * lam * (F.col("_Tref") - F.col("_Tb")))
    carries = (
        _earlier_chunks(tref, summary)
        .groupBy("_ck", "_Tref")
        .agg(
            F.coalesce(F.sum(F.col("_vl") * dec1), F.lit(0.0)).alias("_cv"),
            F.coalesce(F.sum(F.col("_v2l") * dec2), F.lit(0.0)).alias("_cv2"),
            F.coalesce(F.sum(F.col("_syl") * dec1), F.lit(0.0)).alias("_csy"),
            F.coalesce(F.sum(F.col("_syyl") * dec1), F.lit(0.0)).alias("_csyy"),
        )
    )

    def _std(V, V2, Sy, Syy):
        m = Sy / V
        var = F.greatest(Syy / V - m * m, F.lit(0.0)) * V * V / (V * V - V2)
        return F.when((V > 0) & (V * V > V2), F.sqrt(var))

    outdf = scanned.join(F.broadcast(carries), ["_ck"], "left")
    has_c = F.col("_Tref").isNotNull()
    # NB: Arrow maps the kernel's NaN to Spark NULL, and Spark's
    # isnan(NULL) is FALSE — so the sample test must check BOTH
    is_sample = F.col("_y").isNotNull() & ~F.isnan("_y")
    rdec1 = F.when(has_c, F.exp(-lam * (F.col(ts_col) - F.col("_Tref")))).otherwise(F.lit(0.0))
    rdec2 = F.when(has_c, F.exp(-2.0 * lam * (F.col(ts_col) - F.col("_Tref")))).otherwise(F.lit(0.0))
    V = F.when(is_sample, F.col("_v")).otherwise(F.lit(0.0)) + rdec1 * F.coalesce("_cv", F.lit(0.0))
    V2 = F.when(is_sample, F.col("_v2")).otherwise(F.lit(0.0)) + rdec2 * F.coalesce("_cv2", F.lit(0.0))
    Sy = F.when(is_sample, F.col("_sy")).otherwise(F.lit(0.0)) + rdec1 * F.coalesce("_csy", F.lit(0.0))
    Syy = F.when(is_sample, F.col("_syy")).otherwise(F.lit(0.0)) + rdec1 * F.coalesce("_csyy", F.lit(0.0))
    std_sample = F.when(is_sample, _std(V, V2, Sy, Syy))
    outdf = outdf.withColumn("_std_s", std_sample)
    wfill = Window.partitionBy("_ck").orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    carry_std = _std(
        F.col("_cv"), F.col("_cv2"), F.col("_csy"), F.col("_csyy")
    )
    filled = F.when(
        is_sample, F.col("_std_s")
    ).otherwise(
        F.coalesce(F.last("_std_s", ignorenulls=True).over(wfill), F.when(has_c, carry_std))
    )
    return outdf.select(ts_col, filled.alias(out))


def rsi_parallel(
    df: DataFrame,
    close_col: str,
    n: int,
    order_col: str = "ts_ns",
    chunk_rows: int = 4096,
    out: str = "rsi",
    rn_col: str | None = None,
) -> DataFrame:
    """EXACT parallel Wilder RSI for one huge stream via
    :func:`_closed_scan`, zero truncation.

    After its SMA seed, each Wilder average is one linear recurrence
    avg_t = q·avg_{t−1} + x_t/n (q = (n−1)/n). Chunk 0 runs the true
    seeded recurrence sequentially (the seed never crosses a chunk:
    ``chunk_rows`` must exceed n+1); later chunks compute local decayed
    sums at C speed. Chunk 0's end value is its true seeded state, so
    the carry reproduces the seeded recurrence everywhere. Each chunk
    reads ONE warmup row (previous close) for its first diff.

    ``rn_col`` optionally exposes the exact global row number (for
    warmup filtering downstream). Parity vs :func:`rsi_wilder` is float
    reassociation only.
    """
    if chunk_rows <= n + 1:
        raise ValueError(f"chunk_rows ({chunk_rows}) must exceed n+1 ({n + 1})")
    q = (n - 1.0) / n

    def moments(cols, real, ck):
        diff = np.diff(cols[close_col].astype(np.float64), prepend=np.nan)
        g = np.where(diff > 0, diff, 0.0)[real]
        l = np.where(diff < 0, -diff, 0.0)[real]
        m = len(g)
        if ck == 0:
            ag = np.full(m, np.nan)
            al = np.full(m, np.nan)
            if m > n:
                a_g = g[1 : n + 1].mean()
                a_l = l[1 : n + 1].mean()
                ag[n], al[n] = a_g, a_l
                for i in range(n + 1, m):
                    a_g = ((n - 1) * a_g + g[i]) / n
                    a_l = ((n - 1) * a_l + l[i]) / n
                    ag[i], al[i] = a_g, a_l
        else:
            scale = 1.0 - q ** np.arange(1, m + 1, dtype=np.float64)
            ag = pd.Series(g).ewm(alpha=1.0 / n, adjust=True).mean().to_numpy() * scale
            al = pd.Series(l).ewm(alpha=1.0 / n, adjust=True).mean().to_numpy() * scale
        return {"g": ag, "l": al}

    def final(m):
        ag, al = m["g"], m["l"]
        # Scale-invariant form: 100·(ag/(ag+al)) == 100 − 100/(1 + ag/al) but
        # never forms the ag/al quotient; the bounded quotient ag/(ag+al) ∈
        # [0,1] is formed FIRST so neither factor can overflow (100·ag would
        # hit +Inf above ~1.8e306 if multiplied before dividing).
        return F.when(al == 0, F.lit(100.0)).otherwise(100.0 * (ag / (ag + al)))

    return _closed_scan(
        df, order_col, chunk_rows, 1, moments, {"g": q, "l": q}, final, out, rn_col
    )


def atr_ema_parallel(
    df: DataFrame,
    n: int,
    order_col: str = "ts_ns",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    chunk_rows: int = 4096,
    out: str = "atr",
) -> DataFrame:
    """EXACT parallel Wilder EMA ATR — the single-recurrence sibling of
    :func:`rsi_parallel`: chunk 0 runs the true SMA-seeded fold, later
    chunks fold the linear recurrence atr_t = q·atr_{t−1} + tr_t/n from
    zero, and :func:`_closed_scan` carries between them; each chunk
    reads ONE warmup row for its first true-range's previous close.
    Rows where the sequential kernel emits NaN (the first n) are
    dropped, matching the registry query's non-null contract.
    """
    if chunk_rows <= n + 1:
        raise ValueError(f"chunk_rows ({chunk_rows}) must exceed n+1 ({n + 1})")
    q = (n - 1.0) / n

    def moments(cols, real, ck):
        tr = true_range_np(
            cols[high_col].astype(np.float64),
            cols[low_col].astype(np.float64),
            cols[close_col].astype(np.float64),
        )[real]
        m = len(tr)
        if ck == 0:
            vals = np.full(m, np.nan)
            if m > n:
                a = 0.0
                for i in range(1, n + 1):
                    a = a + tr[i]
                a = a / n
                vals[n] = a
                for i in range(n + 1, m):
                    a = ((n - 1) * a + tr[i]) / n
                    vals[i] = a
        else:
            vals = pd.Series(tr).ewm(alpha=1.0 / n, adjust=True).mean().to_numpy() * (
                1.0 - q ** np.arange(1, m + 1, dtype=np.float64)
            )
        return {"t": vals}

    atr = _closed_scan(df, order_col, chunk_rows, 1, moments, {"t": q}, lambda m: m["t"], out)
    return atr.where(F.col(out).isNotNull() & ~F.isnan(out))


# --- Wilder recurrences -----------------------------------------------------

def rsi_wilder(close: np.ndarray, n: int) -> np.ndarray:
    """RSI with Wilder smoothing: seed = SMA of first n gains/losses, then
    avg = ((n−1)·avg + x)/n. NaN for the first n rows."""
    diff = np.diff(close, prepend=np.nan)
    gain = np.where(diff > 0, diff, 0.0)
    loss = np.where(diff < 0, -diff, 0.0)
    out = np.full(len(close), np.nan)
    if len(close) <= n:
        return out
    ag = np.mean(gain[1 : n + 1])
    al = np.mean(loss[1 : n + 1])
    for i in range(n, len(close)):
        if i > n:
            ag = ((n - 1) * ag + gain[i]) / n
            al = ((n - 1) * al + loss[i]) / n
        out[i] = 100.0 if al == 0 else 100.0 * (ag / (ag + al))
    return out


def true_range_np(high, low, close):
    pc = np.roll(close, 1)
    pc[0] = np.nan
    return np.nanmax(
        np.stack([high - low, np.abs(high - pc), np.abs(low - pc)]), axis=0
    )


def atr_ema(high: np.ndarray, low: np.ndarray, close: np.ndarray, n: int) -> np.ndarray:
    """Wilder EMA ATR: seed = SMA of first n TRs, then ((n−1)·atr + tr)/n."""
    tr = true_range_np(high, low, close)
    out = np.full(len(close), np.nan)
    if len(close) <= n:
        return out
    # Sequential-order seed sum (not np.mean): np.mean's unrolled/pairwise
    # accumulation rounds differently from a left-to-right fold, and the
    # DuckDB recursive-CTE oracle replays the fold — keep both bit-identical.
    a = 0.0
    for i in range(1, n + 1):
        a = a + tr[i]
    a = a / n
    out[n] = a
    for i in range(n + 1, len(close)):
        a = ((n - 1) * a + tr[i]) / n
        out[i] = a
    return out


def adx(high: np.ndarray, low: np.ndarray, close: np.ndarray, n: int) -> np.ndarray:
    """ADX: Wilder-accumulated TR/±DM → DI± → DX → Wilder-smoothed ADX."""
    m = len(close)
    tr = true_range_np(high, low, close)
    up = high - np.roll(high, 1)
    dn = np.roll(low, 1) - low
    up[0] = dn[0] = np.nan
    pdm = np.where((up > dn) & (up > 0), up, 0.0)
    ndm = np.where((dn > up) & (dn > 0), dn, 0.0)
    out = np.full(m, np.nan)
    if m <= 2 * n:
        return out
    str_, spdm, sndm = np.sum(tr[1 : n + 1]), np.sum(pdm[1 : n + 1]), np.sum(ndm[1 : n + 1])
    dx = np.full(m, np.nan)
    for i in range(n + 1, m):
        str_ = str_ - str_ / n + tr[i]
        spdm = spdm - spdm / n + pdm[i]
        sndm = sndm - sndm / n + ndm[i]
        pdi = 100.0 * spdm / str_ if str_ > 0 else 0.0
        ndi = 100.0 * sndm / str_ if str_ > 0 else 0.0
        dx[i] = 100.0 * abs(pdi - ndi) / (pdi + ndi) if (pdi + ndi) > 0 else 0.0
    a = np.mean(dx[n + 1 : 2 * n + 1])
    out[2 * n] = a
    for i in range(2 * n + 1, m):
        a = ((n - 1) * a + dx[i]) / n
        out[i] = a
    return out


# --- CUSUM state machines ---------------------------------------------------

def cusum_filter_state(
    r: np.ndarray, thr: np.ndarray, sp: float, sn: float
) -> tuple[np.ndarray, float, float]:
    """:func:`cusum_filter_np` body with an explicit entry state —
    the chunk-stitch building block. Returns (flags, sp_exit, sn_exit)."""
    out = np.zeros(len(r), dtype=np.int32)
    for i in range(len(r)):
        if np.isnan(r[i]):
            continue
        sp = max(0.0, sp + r[i])
        sn = min(0.0, sn + r[i])
        # reference order/strictness (filters.py:48-55): negative side
        # first, strict comparisons (both can never trigger in one step —
        # post-check invariants sp <= thr, sn >= -thr make a same-step
        # double trigger need r > 0 and r < 0 at once)
        if sn < -thr[i]:
            out[i] = 1
            sn = 0.0
        elif sp > thr[i]:
            out[i] = 1
            sp = 0.0
    return out, sp, sn


def cusum_filter_np(r: np.ndarray, threshold: float | np.ndarray) -> np.ndarray:
    """Symmetric CUSUM filter on (log) returns (AFML snippet 2.4;
    reference ``sampling/filters.py:6-70``): S± accumulate, reset on
    trigger; returns 0/1 event flags."""
    thr = np.broadcast_to(np.asarray(threshold, dtype=float), r.shape)
    return cusum_filter_state(r, thr, 0.0, 0.0)[0]


def cusum_bar_state(
    r: np.ndarray,
    sigma: np.ndarray,
    mult: float,
    floor_thr: float,
    sp: float,
    sn: float,
    last_sig: float,
) -> tuple[np.ndarray, float, float, float, int]:
    """:func:`cusum_bar_ids` body with an explicit entry state — the
    chunk-stitch building block. Local bar ids start at 0; returns
    (local_ids, sp_exit, sn_exit, last_sig_exit, bars_closed)."""
    out = np.zeros(len(r), dtype=np.int64)
    bar = 0
    for i in range(len(r)):
        sig = sigma[i]
        if np.isnan(sig):
            sig = last_sig
        else:
            last_sig = sig
        thr = max(mult * sig, floor_thr)
        x = 0.0 if np.isnan(r[i]) else r[i]
        sp = max(0.0, sp + x)
        sn = min(0.0, sn + x)
        out[i] = bar  # the triggering row closes ITS bar (end-inclusive)
        if sp >= thr or sn <= -thr:
            sp = sn = 0.0
            bar += 1
    return out, sp, sn, last_sig, bar


def cusum_bar_ids(
    r: np.ndarray, sigma: np.ndarray, mult: float, floor_thr: float
) -> np.ndarray:
    """CUSUM bar indexer with adaptive threshold max(mult·σ_i, floor)
    (reference ``logic.py:152-221``): NaN σ carries the last valid value;
    bar id increments on trigger."""
    return cusum_bar_state(r, sigma, mult, floor_thr, 0.0, 0.0, floor_thr)[0]


def cusum_adaptive_bar_state(
    ts_ns: np.ndarray,
    r: np.ndarray,
    mult: float,
    floor_thr: float,
    halflife_ns: float,
    V: float, V2: float, Sy: float, Syy: float, prev_t: int, last_out: float,
    sp: float, sn: float, last_sig: float,
) -> tuple:
    """The reference's adaptive CUSUM bar indexer as one state kernel:
    σ = :func:`ewmst_state` of the returns, fed to
    :func:`cusum_bar_state` (``bar/logic.py:152-221``). The entry state
    is the EWMST state then the CUSUM state; returns (local_ids, the
    nine exit fields in the same order, bars_closed). Batch, chunk
    stitch and stream all run this composition."""
    sigma, *ew = ewmst_state(ts_ns, r, halflife_ns, V, V2, Sy, Syy, int(prev_t), last_out)
    ids, *cu, bars = cusum_bar_state(r, sigma, mult, floor_thr, sp, sn, last_sig)
    return (ids, *ew, *cu, bars)


def volume_bar_state(
    qty: np.ndarray, threshold: float, cum: float
) -> tuple[np.ndarray, float, int]:
    """:func:`volume_bar_ids_exact` body with an explicit entry state
    (the running volume). Local bar ids start at 0; returns
    (local_ids, cum_exit, bars_closed)."""
    out = np.empty(len(qty), dtype=np.int64)
    bar = 0
    for i in range(len(qty)):
        cum += qty[i]
        out[i] = bar
        if cum >= threshold:
            bar += 1
            cum = 0.0
    return out, cum, bar


def volume_bar_ids_exact(qty: np.ndarray, threshold: float) -> np.ndarray:
    """Exact reset-to-zero volume bar indexer (reference ``logic.py:87-115``:
    cumulative volume resets to 0 on close — no carry-over)."""
    return volume_bar_state(qty, threshold, 0.0)[0]


def imbalance_bar_state(
    side: np.ndarray, qty: np.ndarray, ewma_span: float, theta: float, expected: float
) -> tuple[np.ndarray, float, float, int]:
    """:func:`imbalance_bar_ids` body with an explicit entry state
    (signed volume θ, expected imbalance E). Local bar ids start at 0;
    returns (local_ids, theta_exit, expected_exit, bars_closed)."""
    alpha = 2.0 / (ewma_span + 1.0)
    out = np.empty(len(side), dtype=np.int64)
    bar = 0
    for i in range(len(side)):
        theta += side[i] * qty[i]
        out[i] = bar
        if abs(theta) >= expected:
            expected = (1 - alpha) * expected + alpha * abs(theta)
            theta = 0.0
            bar += 1
    return out, theta, expected, bar


def imbalance_bar_ids(
    side: np.ndarray, qty: np.ndarray, ewma_span: float = 100.0, init_expected: float = 100.0
) -> np.ndarray:
    """Volume-imbalance bars (AFML §2.3.2.1; the reference only declares
    this sampler, ``logic.py:224-241`` NotImplementedError — implemented
    here beyond-reference): close a bar when |Σ signed volume| exceeds
    the expected imbalance, E updated as an EWMA of realized per-bar
    |imbalance| (adjust=False, span ``ewma_span``)."""
    return imbalance_bar_state(side, qty, ewma_span, 0.0, init_expected)[0]


def run_bar_state(
    side: np.ndarray, qty: np.ndarray, ewma_span: float,
    buy: float, sell: float, expected: float,
) -> tuple[np.ndarray, float, float, float, int]:
    """:func:`run_bar_ids` body with an explicit entry state (one-sided
    volumes, expected run E). Local bar ids start at 0; returns
    (local_ids, buy_exit, sell_exit, expected_exit, bars_closed)."""
    alpha = 2.0 / (ewma_span + 1.0)
    out = np.empty(len(side), dtype=np.int64)
    bar = 0
    for i in range(len(side)):
        if side[i] > 0:
            buy += qty[i]
        else:
            sell += qty[i]
        out[i] = bar
        run = max(buy, sell)
        if run >= expected:
            expected = (1 - alpha) * expected + alpha * run
            buy = sell = 0.0
            bar += 1
    return out, buy, sell, expected, bar


def run_bar_ids(
    side: np.ndarray, qty: np.ndarray, ewma_span: float = 100.0, init_expected: float = 100.0
) -> np.ndarray:
    """Volume-run bars (AFML §2.3.2.2; reference ``logic.py:244-261``
    NotImplementedError — implemented beyond-reference): track the max of
    one-sided cumulative volumes within the bar; close when it exceeds
    the expected run, E updated as EWMA of realized runs."""
    return run_bar_state(side, qty, ewma_span, 0.0, 0.0, init_expected)[0]


# --- chunk stitch: the CUSUM scale path -------------------------------------
#
# The CUSUM family's reset state machines have no closed combine, so
# their scale path is a stitch: time-chunk the stream, run every
# chunk's kernel in parallel from an ENTRY-STATE GUESS, collect the k
# chunk exit states (k rows — scalar-tier driver traffic, the
# connected-components precedent), chain them in chunk order on the
# driver, and re-run only the chunks whose entry changed — a fixed
# point that is provably reached in <= k rounds (chunk c's entry is
# exact once chunks 1..c-1 are), and in practice in 2-3 because a reset
# inside a chunk makes everything after it entry-independent. The
# converged entries then feed ONE final output pass. Worst case (a
# degenerate stream that never triggers) degrades to sequential-
# equivalent total work spread over rounds; typical streams trigger
# every few hundred rows and converge immediately.

def _state_eq(a: tuple, b: tuple) -> bool:
    """Elementwise state equality with NaN == NaN (states are exact
    float/int replays, so bitwise-style equality is the right test)."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x == y:
            continue
        if isinstance(x, float) and isinstance(y, float) \
                and math.isnan(x) and math.isnan(y):
            continue
        return False
    return True


class _ChunkStitch:
    """Entry-state fixed-point engine over time chunks of one stream.

    The projection ``(order_col, *cols)`` gets ``_ck`` (the
    ``chunk_ns`` time-chunk id) and is persisted: every pass reads it.
    ``kernel(cols, entry) -> (values, exit, count)`` replays the
    sequential state machine over one chunk's columns (rows in
    ``order_col`` order) from an explicit entry state: the chunk's
    output values, its exit state, and how many running ids it used
    (0 for a kernel whose values are not ids). ``state_types`` gives
    each state field's Spark type — exact-integer fields (e.g. the
    EWMST ``prev_t`` anchor, whose ns magnitude exceeds double's 2^53
    integer range) MUST be ``long``.

    The first pass runs EVERY chunk from the seed state in one job (this
    also discovers the chunk list — no separate distinct() pass); each
    later pass chains the k exit states on the driver and re-runs only
    chunks whose entry changed. Chunk c's entry is exact once chunks
    1..c-1 are, so <= k passes always converge; in practice 2-3 because
    a reset (or, for decayed moments, float absorption of the entry
    term) makes a chunk's exit entry-independent. :meth:`output` then
    replays each chunk once from its converged entry and offsets its
    values by ``_base``, the exclusive prefix of the converged counts —
    so the output is bit-identical to the sequential kernel.
    """

    def __init__(self, df: DataFrame, order_col: str, cols: list[str], chunk_ns: int,
                 state0: tuple, state_types: list[str], kernel):
        from .. import cache

        self.d = cache.keep(df.select(order_col, *cols).withColumn(
            "_ck", F.floor(F.col(order_col) / F.lit(int(chunk_ns)))
        ))
        self.order_col = order_col
        self.order_type = df.schema[order_col].dataType.simpleString()
        self.state0, self.types, self.kernel = state0, state_types, kernel
        self.spark = df.sparkSession
        n = len(state0)
        self.ent_sch = "_ck long, " + ", ".join(
            f"_e{i} {t}" for i, t in enumerate(state_types)) + ", _base long"
        self.out_sch = "_ck long, " + ", ".join(
            f"_x{i} {t}" for i, t in enumerate(state_types)) + ", _nb long"

        def enter(cols: dict) -> tuple:
            return tuple(cols[f"_e{i}"][0].item() for i in range(n))

        def k(cols: dict) -> list[tuple]:
            _, ex, nb = kernel(cols, enter(cols))
            return [(int(cols["_ck"][0]), *ex, int(nb))]

        self._enter, self._k = enter, k

    def _coerce(self, state: tuple) -> tuple:
        return tuple(
            int(x) if t in ("long", "bigint", "int") else float(x)
            for x, t in zip(state, self.types)
        )

    def _with_entries(self, rows: list[tuple]) -> DataFrame:
        """Join per-chunk entry rows (ck, entry, base) onto ``d``."""
        ent = self.spark.createDataFrame(
            [(int(ck), *self._coerce(e), int(base)) for ck, e, base in rows], self.ent_sch
        )
        return self.d.join(F.broadcast(ent), "_ck")

    def _run(self, stale, entries) -> dict:
        if stale is None:  # the first pass: every chunk from the seed state
            lits = {
                f"_e{i}": F.lit(x).cast(t)
                for i, (x, t) in enumerate(zip(self._coerce(self.state0),
                                               self.types))
            }
            dd = self.d.withColumns(lits)
        else:
            dd = self._with_entries([(ck, entries[ck], 0) for ck in stale])
        rows = arrow.groups(dd, "_ck", self._k, self.out_sch, (self.order_col,)).collect()
        n = len(self.state0)
        return {r["_ck"]: (tuple(r[f"_x{i}"] for i in range(n)), r["_nb"])
                for r in rows}

    def solve(self) -> list[tuple[int, tuple, int]]:
        """Ordered ``[(ck, converged_entry, count_prefix)]``."""
        got = self._run(None, {})
        cks = sorted(got)
        if not cks:
            return []
        cache = {ck: (self.state0, got[ck]) for ck in cks}
        for _ in range(len(cks) + 1):
            entries: dict[int, tuple] = {}
            e = self.state0
            stale: list[int] = []
            for ck in cks:
                entries[ck] = e
                ent_used, (ex, _nb) = cache[ck]
                if not _state_eq(ent_used, e):
                    stale.append(ck)
                # downstream chaining guess: the last computed exit —
                # exact when this chunk's entry was, else refined by the
                # next pass
                e = ex
            if not stale:
                base, out = 0, []
                for ck in cks:
                    out.append((ck, entries[ck], base))
                    base += cache[ck][1][1]
                return out
            got = self._run(stale, entries)
            for ck, exnb in got.items():
                cache[ck] = (entries[ck], exnb)
        raise RuntimeError("cusum chunk stitch did not converge "
                           "(impossible: bounded by chunk count)")

    def output(self, out: str, out_type: str) -> DataFrame:
        """``(order_col, out)``: solve, then ONE final pass from the
        converged entries; no rows in the same schema on empty input."""
        sch = f"`{self.order_col}` {self.order_type}, `{out}` {out_type}"
        solved = self.solve()
        if not solved:
            return self.spark.createDataFrame([], sch)
        order, enter, kernel = self.order_col, self._enter, self.kernel

        def k_final(cols: dict) -> dict:
            values, _, _ = kernel(cols, enter(cols))
            return {order: cols[order], out: values + int(cols["_base"][0])}

        return arrow.groups(self._with_entries(solved), "_ck", k_final, sch, (order,))


def cusum_filter_chunked(
    df: DataFrame,
    threshold: float | None = None,
    r_col: str = "r",
    order_col: str = "ts_ns",
    chunk_ns: int = 86_400_000_000_000,
    thr_col: str | None = None,
) -> DataFrame:
    """Symmetric CUSUM filter (:func:`cusum_filter_np` semantics,
    reference ``sampling/filters.py:6-70``) for ONE un-partitioned
    stream. ``thr_col`` selects the vector-threshold form; otherwise
    ``threshold`` is the constant h. Returns (order_col, flag).

    Driver gate (:func:`_driver_scan`): a stream of at most
    :data:`SEQ_DRIVER_MAX_ROWS` rows runs :func:`cusum_filter_state` on
    the driver. A larger one runs the chunk stitch
    (:class:`_ChunkStitch`), which replays the same kernel from the
    exact entry states. Both sides return bit-identical flags
    (differential-tested)."""
    if (threshold is None) == (thr_col is None):
        raise ValueError("pass exactly one of threshold / thr_col")
    cols = [r_col] + ([thr_col] if thr_col else [])

    def _driver(r, *thr):
        h = thr[0] if thr else np.full(len(r), float(threshold))
        return cusum_filter_state(r, h, 0.0, 0.0)[0]

    df, local = _driver_scan(df, order_col, cols, "flag", _driver)
    if local is not None:
        return local

    def kernel(cols, entry):
        r = cols[r_col].astype(np.float64)
        h = cols[thr_col].astype(np.float64) if thr_col else np.full(len(r), float(threshold))
        flags, sp, sn = cusum_filter_state(r, h, *entry)
        return flags, (sp, sn), 0

    st = _ChunkStitch(df, order_col, cols, chunk_ns, (0.0, 0.0), ["double"] * 2, kernel)
    return st.output("flag", "int")


def cusum_bar_ids_chunked(
    df: DataFrame,
    mult: float,
    floor_thr: float,
    r_col: str = "r",
    sigma_col: str = "sigma",
    order_col: str = "ts_ns",
    chunk_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """CUSUM bar indexer (:func:`cusum_bar_ids` semantics, reference
    ``logic.py:152-221``) over a PRECOMPUTED sigma column, for one huge
    stream via the chunk stitch; state = (sp, sn, last_sig). Global bar
    ids = local ids + the exclusive prefix of converged per-chunk bar
    counts. When sigma itself is the reference's EWMST estimate, use
    :func:`cusum_adaptive_bars_chunked` — it carries the EWMST moments
    in the same stitch, keeping the whole composition bit-exact.
    Returns (order_col, bar_id)."""

    def kernel(cols, entry):
        ids, *exit_, bars = cusum_bar_state(
            cols[r_col].astype(np.float64),
            cols[sigma_col].astype(np.float64),
            mult, floor_thr, *entry,
        )
        return ids, exit_, bars

    st = _ChunkStitch(df, order_col, [r_col, sigma_col], chunk_ns,
                      (0.0, 0.0, float(floor_thr)), ["double"] * 3, kernel)
    return st.output("bar_id", "long")


def cusum_adaptive_bars_chunked(
    df: DataFrame,
    mult: float,
    floor_thr: float,
    halflife_ns: float,
    r_col: str = "r",
    order_col: str = "ts_ns",
    chunk_ns: int = 604_800_000_000_000,
) -> DataFrame:
    """The reference's full adaptive CUSUM bar indexer — σ = time-decay
    EW std of returns (halflife), threshold max(mult·σ, floor)
    (``bar/logic.py:152-221``) — for one huge stream, scaled out by
    carrying the FUSED state of :func:`cusum_adaptive_bar_state` (EWMST
    moments V,V2,Sy,Syy + exact prev_t anchor + NaN-carry std + CUSUM
    sp,sn,last_sig) through the chunk stitch, so the composition replays
    the sequential ``ewmst -> cusum_bar_ids`` pipeline bit-for-bit. Convergence note:
    beyond a trigger reset, the EWMST entry terms decay as
    2^(−Δt/halflife) and are ABSORBED exactly by float addition once
    below one ulp of the local sums — pick ``chunk_ns`` ≫ halflife
    (default one week) and exits become entry-independent, so the fixed
    point lands in 2-3 rounds. Returns (order_col, bar_id)."""
    state0 = (*EWMST_STATE0, 0.0, 0.0, float(floor_thr))
    types = ["double"] * 4 + ["long"] + ["double"] * 4

    def kernel(cols, entry):
        ids, *exit_, bars = cusum_adaptive_bar_state(
            cols[order_col].astype(np.int64), cols[r_col].astype(np.float64),
            mult, floor_thr, halflife_ns, *entry,
        )
        return ids, exit_, bars

    st = _ChunkStitch(df, order_col, [r_col], chunk_ns, state0, types, kernel)
    return st.output("bar_id", "long")


def cusum_test_chunked(
    df: DataFrame,
    w: int,
    warmup: int = 30,
    y_col: str = "close",
    order_col: str = "ts_ns",
    chunk_rows: int = 8192,
) -> DataFrame:
    """Chu-Stinchcombe-White rolling CUSUM statistic
    (:func:`cusum_test_rolling`, reference
    ``core/structural_break/cusum.py:11-274``) for one huge stream —
    NO fixed point needed: the statistic looks back exactly ``w`` rows
    (plus one for the diff), so the warmup-overlap row-chunk machinery
    (``functions.chunked_window``) reproduces the global kernel
    bit-for-bit. Rows below the global ``warmup`` index are dropped,
    exactly like the sequential form leaves them NaN-only.
    Returns (order_col, cusum_stat)."""
    d = with_row_chunks(
        df.select(order_col, y_col), order_col, warmup=w + 1, chunk_rows=chunk_rows
    )

    def k(cols):
        y = cols[y_col].astype(np.float64)
        # local warmup 1 skips only the frameless first row; the global
        # warmup gate is applied on the exact global row number below
        stat = cusum_test_rolling(y, w, warmup=min(1, len(y)))
        keep = ~cols[WARM] & (cols[GLOBAL_RN] > warmup)
        return {order_col: cols[order_col][keep], "cusum_stat": stat[keep]}

    sch = (
        f"`{order_col}` {df.schema[order_col].dataType.simpleString()}, "
        "cusum_stat double"
    )
    return arrow.groups(d, CHUNK, k, sch, order=(GLOBAL_RN,))


# --- complexity / long-memory estimators -----------------------------------

def hurst_rolling(y: np.ndarray, w: int, lags=(1, 2, 4, 8)) -> np.ndarray:
    """Aggregated-variance Hurst exponent over a rolling window
    (reference ``transforms.py:1341``): for each window, var of m-lag
    differences for m in lags; H = OLS slope of log(var) vs log(m) / 2."""
    m = len(y)
    out = np.full(m, np.nan)
    lx = np.log(np.asarray(lags, dtype=float))
    for t in range(w - 1, m):
        win = y[t - w + 1 : t + 1]
        lv = []
        for lag_ in lags:
            d = win[lag_:] - win[:-lag_]
            v = np.var(d)
            if not v > 0:
                lv = None
                break
            lv.append(np.log(v))
        if lv is None:
            continue
        ly = np.asarray(lv)
        slope = np.polyfit(lx, ly, 1)[0]
        out[t] = slope / 2.0
    return out


def approx_entropy(win: np.ndarray, m: int = 2, r_mult: float = 0.2) -> float:
    """Pincus approximate entropy of one window: phi(m) − phi(m+1) with
    Chebyshev tolerance r = r_mult·std (reference wraps antropy;
    re-derived from the standard definition)."""
    n = len(win)
    r = r_mult * np.std(win)
    if not r > 0 or n <= m + 1:
        return float("nan")

    def phi(mm: int) -> float:
        emb = np.lib.stride_tricks.sliding_window_view(win, mm)
        dist = np.max(np.abs(emb[:, None, :] - emb[None, :, :]), axis=2)
        c = (dist <= r).mean(axis=1)
        return float(np.mean(np.log(c)))

    return phi(m) - phi(m + 1)


# --- CUSUM structural-break test -------------------------------------------

def cusum_test_rolling(y: np.ndarray, w: int, warmup: int = 30) -> np.ndarray:
    """Chu-Stinchcombe-White CUSUM test statistic over a rolling window
    (reference ``core/structural_break/cusum.py:11-274``):

        S_t = max_{s ∈ [t−w, t)} |y_t − y_s| / (σ̂_t · sqrt(t − s))

    with σ̂_t the std of 1-step diffs up to t (rolling w). Vectorized per
    row with NumPy broadcasting (O(w) per row, like the reference)."""
    m = len(y)
    out = np.full(m, np.nan)
    d = np.diff(y, prepend=np.nan)
    for t in range(warmup, m):
        lo = max(0, t - w)
        win = d[max(1, lo) : t + 1]
        sig = np.nanstd(win, ddof=1)
        if not sig > 0:
            continue
        s_idx = np.arange(lo, t)
        stats = np.abs(y[t] - y[s_idx]) / (sig * np.sqrt(t - s_idx))
        out[t] = np.max(stats)
    return out
