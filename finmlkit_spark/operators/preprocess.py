"""Trades preprocessing operators (SURVEY.md §2.2).

Parity targets (reference, behavior only — implementation is Spark-native):
- timestamp normalize/unit-inference/resolution: ``data_model.py:346-418,370-388``
- sort + dedup + integrity/gap checks: ``data_model.py:254-324``
- split-trade merge: ``bar/utils.py:263-329``
- tick-rule trade side: ``bar/utils.py:10-46``
- tick-size (GCD) inference: ``bar/utils.py:49-81``

All operators are narrow projections or single-shuffle window/agg ops and
take an optional ``by`` (symbol) column so they parallelize across
symbols at scale; the global-stream form (by=None) uses a single ordered
window, which is fine for per-symbol slices but should not be used on an
unpartitioned 100 TB stream.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .. import cache
from ..functions.prefix import DRIVER_MAX_KEYS, local_prefix, two_level

NS_PER = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}


def _w(by: str | None):
    w = Window.partitionBy(by) if by else Window.partitionBy(F.lit(1))
    return w.orderBy("ts_ns", "trade_id")


def infer_time_unit(df: DataFrame, col: str = "ts_ns") -> str:
    """Magnitude heuristic over max(ts) (reference ``data_model.py:399-418``).

    One scalar agg to the driver.
    """
    mx = df.agg(F.max(col).alias("m")).collect()[0]["m"]
    if mx is None:
        return "ns"
    if mx > 1e17:
        return "ns"
    if mx > 1e14:
        return "us"
    if mx > 1e11:
        return "ms"
    return "s"


def normalize_timestamps(df: DataFrame, col: str = "ts_ns", unit: str | None = None) -> DataFrame:
    """Any epoch unit -> int64 nanoseconds (``data_model.py:346-368``)."""
    unit = unit or infer_time_unit(df, col)
    return df.withColumn(col, (F.col(col) * F.lit(NS_PER[unit])).cast("long"))


def round_resolution(df: DataFrame, col: str = "ts_ns", resolution: str = "ms") -> DataFrame:
    """Floor ts to ms/us resolution (``data_model.py:370-388``)."""
    k = NS_PER[resolution]
    return df.withColumn(col, (F.col(col) - (F.col(col) % F.lit(k))).cast("long"))


def sort_trades(df: DataFrame, by: str | None = "symbol") -> DataFrame:
    """Chronological order, trade_id tiebreak (``bar/utils.py:239-260``).

    At scale: range-partition by time within symbol so downstream
    per-partition ops see locally sorted data.
    """
    cols = ([by] if by else []) + ["ts_ns", "trade_id"]
    return df.orderBy(*cols)


def dedup_trades(df: DataFrame, key: str = "trade_id") -> DataFrame:
    """Drop duplicate trade ids, keep first (``data_model.py:308-313``)."""
    return df.dropDuplicates([key])


def integrity_report(df: DataFrame, by: str | None = "symbol", max_gap_ns: int = 60_000_000_000) -> DataFrame:
    """Id-gap + time-gap report per symbol (``data_model.py:254-292``).

    Returns one row per symbol: n_rows, n_id_gaps, missing_ids,
    missing_pct, n_time_gaps (> max_gap_ns), max_time_gap_ns.
    """
    w = _w(by)
    g = df.select(
        *( [by] if by else [] ),
        "ts_ns",
        "trade_id",
        (F.col("trade_id") - F.lag("trade_id").over(w)).alias("id_diff"),
        (F.col("ts_ns") - F.lag("ts_ns").over(w)).alias("ts_diff"),
    )
    keys = [by] if by else []
    return g.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("id_diff") > 1, 1).otherwise(0)).cast("long").alias("n_id_gaps"),
        F.sum(F.when(F.col("id_diff") > 1, F.col("id_diff") - 1).otherwise(0)).cast("long").alias("missing_ids"),
        F.sum(F.when(F.col("ts_diff") > max_gap_ns, 1).otherwise(0)).cast("long").alias("n_time_gaps"),
        F.max("ts_diff").alias("max_time_gap_ns"),
    )


def merge_split_trades(df: DataFrame, use_side: bool = False) -> DataFrame:
    """Collapse rows with equal (ts, price[, side]) summing qty
    (``bar/utils.py:263-329``).

    The reference only merges *adjacent* rows, but its input is ts-sorted
    so equal keys are always adjacent — a plain groupBy is equivalent and
    shuffle-parallel. trade_id keeps the min (first) id.
    """
    keys = ["symbol", "ts_ns", "price"] + (["side"] if use_side else [])
    return df.groupBy(*keys).agg(
        F.min("trade_id").alias("trade_id"),
        F.sum("qty").alias("qty"),
    )


def _tick_sign(delta: Column) -> Column:
    """The tick rule's sign of a price change: −1/0/+1 as a double, NULL
    without a previous price. A NaN Δprice signs 0, so it carries the
    previous side exactly as Δ = 0 does."""
    return F.when(F.isnan(delta), F.lit(0.0)).otherwise(F.signum(delta))


def _carried_side(w: WindowSpec) -> Column:
    """``side`` over one ordered window: the last nonzero tick sign up to
    the row, +1 before the first one."""
    raw = _tick_sign(F.col("price") - F.lag("price").over(w))
    carried = F.last(F.when(raw != 0, raw), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.coalesce(carried, F.lit(1.0)).cast("int")


def with_trade_side(df: DataFrame, by: str | None = "symbol") -> DataFrame:
    """Tick rule: sign(Δprice), carry previous side when Δ=0 or Δ is NaN
    (``bar/utils.py:10-46``); first trade defaults to +1.
    """
    return df.withColumn("side", _carried_side(_w(by)))


#: helper columns attached by :func:`chunked_side_frame`
SIDE_HELPERS = ("_ck", "_raw", "_cin", "_bnz", "_carry", "_prev_last_p")

DAY_NS = 86_400_000_000_000


#: rows below which the single-exchange global window beats the
#: chunk-carry machinery (whose fixed ~0.5 s of summary aggs + k-row
#: prefix + broadcast a small stream cannot amortize — SCALE.md item 9
#: documents the crossover; the two paths are bit-identical, so the
#: switch is purely a cost decision)
SIDE_SMALL_ROWS = 1_000_000

def with_trade_side_chunked(
    df: DataFrame,
    chunk_ns: int = DAY_NS,
    mode: str = "auto",
) -> DataFrame:
    """Tick-rule side for a SINGLE un-partitioned stream without the
    global window that ``with_trade_side(by=None)`` plans as an
    ``Exchange SinglePartition``.

    Time-bucket evaluation in ONE window pass over the data (vs the two
    shuffle+sort passes a row-chunk warmup-duplication design costs):
    rows partition by coarse time chunk; all cross-chunk state — the
    boundary Δprice sign and the carried last-nonzero sign — travels
    through a per-chunk summary table (k rows for k chunks), collected
    once and prefixed on the driver (``functions.prefix.local_prefix``;
    the two-level plan above ``prefix.DRIVER_MAX_KEYS`` chunks) and
    broadcast back. Signs are exact
    −1/0/+1 integers, so the result equals ``with_trade_side(by=None)``
    bit-for-bit. ``chunk_ns`` trades parallelism against skew: a chunk
    is one task's window work, so pick it so the busiest chunk fits a
    task (the reference data is a single month → daily chunks; at 100 TB
    an hourly grid gives ~9k chunks/year — still a tiny summary table).
    Multi-symbol data should keep using ``with_trade_side(by='symbol')``
    — hash partitioning is cheaper than chunk machinery.

    ``mode``: ``"chunked"`` (the zero-SinglePartition scale path),
    ``"global"`` (one ordered window — faster below ``SIDE_SMALL_ROWS``
    because the chunk-carry machinery's fixed cost disappears), or
    ``"auto"`` (``cache.rows_at_most`` picks the side of the measured
    crossover, see :func:`chunked_side_frame`). Both paths are
    bit-identical.
    """
    d, _ = chunked_side_frame(df, chunk_ns=chunk_ns, mode=mode)
    return d.drop(*SIDE_HELPERS)


def chunked_side_frame(
    df: DataFrame,
    chunk_ns: int = DAY_NS,
    mode: str = "auto",
):
    """Internal: the time-chunked frame with ``side`` plus the
    ``SIDE_HELPERS`` columns still attached, and the per-chunk
    WindowSpec — for callers that stack more lag-1 window expressions
    on the same pass (``bars.bar_directional_features_chunked``'s flip
    spreads). Cross-chunk lag state for such callers:

    - ``_prev_last_p``: last price of the latest earlier non-empty
      chunk (NULL only for the globally-first chunk — callers use it
      both as the boundary lag(price) and as the "a predecessor row
      exists" marker);
    - ``coalesce(_carry, 1)``: the side of the previous chunk's last
      row (the carry accumulates every earlier chunk's last nonzero
      sign, which is exactly that row's side).

    ``mode="global"`` evaluates the same semantics over ONE global
    ordered window — a deliberate ``Exchange SinglePartition`` that is
    the cheaper plan for bounded inputs (SCALE.md item 9's crossover).
    The helper columns are still attached (``_prev_last_p``/``_carry``
    as typed NULLs — there is no earlier chunk), so stacked-lag
    consumers work unchanged and remain bit-identical across modes.

    ``mode="chunked"`` reads its input once, in the window pass, which
    it cuts (``cache.cut``); the one summary aggregate and the returned
    frame both read that cut. The k-row summary goes through one
    ``cache.collect_if_small`` at ``prefix.DRIVER_MAX_KEYS``; the
    chained carries (``_prev_last_p`` → ``_bnz`` → ``_nz`` → ``_carry``)
    then run in NumPy, else as two-level prefix plans.

    ``mode="auto"`` asks ``cache.rows_at_most(df, SIDE_SMALL_ROWS)``:
    global when the input fits, chunked otherwise (always chunked under
    the hook). Either plan reads the probe's cut, so the upstream runs
    once. An explicit ``"global"`` runs no probe and no cut.
    """
    if mode == "auto":
        df, fits = cache.rows_at_most(df, SIDE_SMALL_ROWS)
        mode = "global" if fits else "chunked"
    if mode == "global":
        w = Window.orderBy("ts_ns", "trade_id")
        d = df.withColumns(
            {
                "_prev_last_p": F.lit(None).cast("double"),
                "_carry": F.lit(None).cast("double"),
                "side": _carried_side(w),
            }
        )
        return d, w
    if mode != "chunked":
        raise ValueError(f"mode must be auto|global|chunked, got {mode!r}")
    ck = F.floor(F.col("ts_ns") / F.lit(int(chunk_ns)))
    d = df.withColumn("_ck", ck)
    w = Window.partitionBy("_ck").orderBy("ts_ns", "trade_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    # in-chunk tick signs; NULL on each chunk's first row (boundary sign
    # is reconstructed from the summary table below)
    d = d.withColumn("_raw", _tick_sign(F.col("price") - F.lag("price").over(w)))
    d = d.withColumn(
        "_cin",
        F.last(F.when(F.col("_raw") != 0, F.col("_raw")), ignorenulls=True).over(wcum),
    )
    # the window pass runs once, behind a cut that the summary aggregate
    # and the caller both read. Per chunk: first/last price and the last
    # in-chunk nonzero sign (_cin on the last row; NULL when the chunk
    # trades at one price), trade_id-keyed min_by/max_by — the canonical
    # id-monotone contract, hash-aggregable
    d = cache.cut(d)
    summ = d.groupBy("_ck").agg(
        F.min_by("price", "trade_id").alias("_first_p"),
        F.max_by("price", "trade_id").alias("_last_p"),
        F.max_by("_cin", "trade_id").alias("_lastnz"),
    )
    # k rows for k chunks, collected once; both carries are prefixes
    # over it (on the driver below the bound, else two-level plans)
    cut, tbl = cache.collect_if_small(summ, DRIVER_MAX_KEYS)
    if tbl is None:
        small = _side_carry_scale(cut)
    else:
        small = df.sparkSession.createDataFrame(_side_carry_local(tbl))
    d = d.join(F.broadcast(small), "_ck")
    # last nonzero sign at row i = in-chunk prefix, else this chunk's
    # boundary sign, else the carry; default +1 (reference seeds +1)
    side = F.coalesce(F.col("_cin"), F.col("_bnz"), F.col("_carry"), F.lit(1.0)).cast("int")
    return d.withColumn("side", side), w


def _side_carry_local(summ: pa.Table) -> pa.Table:
    """Driver side of the chunk carry: the summary ``(_ck, _first_p,
    _last_p, _lastnz)`` → ``(_ck, _prev_last_p, _bnz, _carry)``, in Spark's
    arithmetic (NULL propagates) and :func:`_tick_sign`'s rule (a NaN
    boundary Δprice signs 0)."""
    summ = summ.sort_by("_ck")
    prev = local_prefix(summ, "_ck", {}, {"_prev_last_p": "_last_p"})["_prev_last_p"]
    # boundary sign of chunk k = sign(first_p_k − last_p of the latest
    # earlier non-empty chunk), NULL when zero
    b = pc.sign(pc.subtract(summ["_first_p"], prev))
    b = pc.if_else(pc.is_nan(b), 0.0, b)
    bnz = pc.if_else(pc.not_equal(b, 0.0), b, pa.scalar(None, pa.float64()))
    # a chunk's last nonzero sign overall = in-chunk one, else boundary
    nz = pc.coalesce(summ["_lastnz"], bnz)
    out = pa.table({"_ck": summ["_ck"], "_prev_last_p": prev, "_bnz": bnz, "_nz": nz})
    carry = local_prefix(out, "_ck", {}, {"_carry": "_nz"})["_carry"]
    return out.drop_columns("_nz").append_column("_carry", carry)


def _side_carry_scale(summ: DataFrame) -> DataFrame:
    """Scale side of :func:`_side_carry_local`: the same chain over the
    cut summary, each prefix a :func:`prefix.two_level` plan."""
    prevp = two_level(summ, "_ck", {}, {"_prev_last_p": "_last_p"})
    bsign = _tick_sign(F.col("_first_p") - F.col("_prev_last_p"))
    s2 = summ.join(prevp, "_ck").withColumn("_bnz", F.when(bsign != 0, bsign))
    # cut: the carry prefix reads s2 on both of its plan sides
    s2 = cache.cut(s2.withColumn("_nz", F.coalesce("_lastnz", "_bnz")))
    carry = two_level(s2, "_ck", {}, {"_carry": "_nz"})
    return s2.select("_ck", "_prev_last_p", "_bnz").join(carry, "_ck")


def infer_tick_size(df: DataFrame, sample: int = 10_000) -> float:
    """Tick = GCD of unique price diffs over a head sample
    (``bar/utils.py:49-81``). Scalar config value -> driver side.
    """
    rows = df.select("price").limit(sample).collect()
    prices = sorted({r["price"] for r in rows})
    if len(prices) < 2:
        return 0.01
    # quantize to 1e-9 to GCD in integer space
    diffs = [round((b - a) * 1e9) for a, b in zip(prices, prices[1:]) if b > a]
    g = 0
    for d in diffs:
        g = math.gcd(g, d)
    return g / 1e9 if g else 0.01


def time_slice(df: DataFrame, start_ns: int | None, end_ns: int | None) -> DataFrame:
    """View-range filter (``data_model.py:212-243``) — pushed-down predicate."""
    if start_ns is not None:
        df = df.where(F.col("ts_ns") >= start_ns)
    if end_ns is not None:
        df = df.where(F.col("ts_ns") <= end_ns)
    return df
