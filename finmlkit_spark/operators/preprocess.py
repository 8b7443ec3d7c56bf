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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions.prefix import exclusive_prefix

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


def with_trade_side(df: DataFrame, by: str | None = "symbol") -> DataFrame:
    """Tick rule: sign(Δprice), carry previous side when Δ=0
    (``bar/utils.py:10-46``); first trade defaults to +1.
    """
    w = _w(by)
    raw = F.signum(F.col("price") - F.lag("price").over(w))
    carried = F.last(F.when(raw != 0, raw), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("side", F.coalesce(carried, F.lit(1.0)).cast("int"))


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
    through a per-chunk summary table (k rows for k chunks) combined
    with ``functions.prefix.exclusive_prefix`` (flat mode at the daily
    default, two-level mode on finer caller-chosen axes) and
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

    ``mode="auto"`` asks ``cache.rows_at_most(df, SIDE_SMALL_ROWS)``:
    global when the input fits, chunked otherwise (always chunked under
    ``cache._FORCE_DISTRIBUTED``). Either plan reads the probe's cut,
    so the upstream runs once; at scale the chunked plan's two passes
    re-read that ``localCheckpoint`` instead of re-scanning the source.
    An explicit ``"global"`` / ``"chunked"`` runs no probe and no cut.
    """
    if mode == "auto":
        df, fits = cache.rows_at_most(df, SIDE_SMALL_ROWS)
        mode = "global" if fits else "chunked"
    if mode == "global":
        w = Window.orderBy("ts_ns", "trade_id")
        raw = F.signum(F.col("price") - F.lag("price").over(w))
        carried = F.last(F.when(raw != 0, raw), ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        d = df.withColumns(
            {
                "_prev_last_p": F.lit(None).cast("double"),
                "_carry": F.lit(None).cast("double"),
                "side": F.coalesce(carried, F.lit(1.0)).cast("int"),
            }
        )
        return d, w
    if mode != "chunked":
        raise ValueError(f"mode must be auto|global|chunked, got {mode!r}")
    ck = F.col("_ck")
    d = df.withColumn("_ck", F.floor(F.col("ts_ns") / F.lit(int(chunk_ns))))
    w = Window.partitionBy("_ck").orderBy("ts_ns", "trade_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    # in-chunk tick signs; NULL on each chunk's first row (boundary sign
    # is reconstructed from the summary table below)
    d = d.withColumn("_raw", F.signum(F.col("price") - F.lag("price").over(w)))
    d = d.withColumn(
        "_cin",
        F.last(F.when(F.col("_raw") != 0, F.col("_raw")), ignorenulls=True).over(wcum),
    )
    # per-chunk summary from the RAW stream — two hash-agg passes over a
    # 3-column projection with k-row shuffles — NOT from the window pass
    # above: deriving it there would either persist the full windowed
    # frame (a 100 TB cache) or evaluate the shuffle+sort twice (Spark
    # plans are trees). Column-pruned re-scans beat both, and keep the
    # whole operator cache-free.
    base = df.select(
        F.floor(F.col("ts_ns") / F.lit(int(chunk_ns))).alias("_ck"), "price", "trade_id"
    )
    # first/last price per chunk (trade_id-keyed min_by/max_by — the
    # canonical id-monotone contract, hash-aggregable)
    s1 = base.groupBy("_ck").agg(
        F.min_by("price", "trade_id").alias("_first_p"),
        F.max_by("price", "trade_id").alias("_last_p"),
    )
    # last nonzero IN-CHUNK delta sign without the window: every row
    # after the chunk's final price-change point trades at _last_p, so
    # that change is from p_m — the last row priced differently — to
    # _last_p, giving sign(_last_p − p_m). The changed-to row is at
    # least the chunk's second row, so this never captures the boundary
    # delta; NULL when the whole chunk trades at one price.
    pm = (
        base.join(F.broadcast(s1.select("_ck", "_last_p")), "_ck")
        .where(F.col("price") != F.col("_last_p"))
        .groupBy("_ck")
        .agg(F.max_by("price", "trade_id").alias("_pm"))
    )
    # k rows for k chunks; persisted (via the tracked-cache registry,
    # see finmlkit_spark.cache) because the exclusive-prefix below
    # references it twice — without a storage boundary each reference
    # re-runs the scans+aggs (plans are trees). Unlike caching the
    # windowed stream this is bounded at ANY data scale: one row per
    # time chunk (~9k/year on an hourly grid).
    summ = cache.keep(
        s1.join(pm, "_ck", "left").withColumn(
            "_lastnz_excl", F.signum(F.col("_last_p") - F.col("_pm"))
        )
    )
    # boundary sign of chunk k = sign(first_p_k − last_p of the latest
    # earlier non-empty chunk), via functions.prefix over the k-row
    # table: flat triangular mode for day-or-coarser chunk_ns (k small
    # by construction, cheapest plan), two-level O(k·log g) mode when
    # the caller picks a finer axis (hourly grid over years ⇒ k ~ 1e5,
    # where flat would be O(k²) pairs); no SinglePartition either way
    pgrp = None if chunk_ns >= DAY_NS else 4096
    prevp = exclusive_prefix(
        summ, "_ck", lasts={"_prev_last_p": "_last_p"}, group=pgrp
    )
    s2 = summ.join(prevp, "_ck").select(
        "_ck",
        "_prev_last_p",
        F.when(
            F.signum(F.col("_first_p") - F.col("_prev_last_p")) != 0,
            F.signum(F.col("_first_p") - F.col("_prev_last_p")),
        ).alias("_bnz"),
        "_lastnz_excl",
    )
    # a chunk's last nonzero sign overall = in-chunk one, else boundary
    # (persisted via the tracked registry: the carry prefix below reads
    # it on both probe sides)
    s2 = cache.keep(s2.withColumn("_nz", F.coalesce("_lastnz_excl", "_bnz")))
    # carry into chunk k = _nz of the latest earlier chunk that has one
    # (same flat-vs-two-level mode choice as the boundary prefix above)
    carry = exclusive_prefix(s2, "_ck", lasts={"_carry": "_nz"}, group=pgrp)
    small = s2.select("_ck", "_prev_last_p", "_bnz").join(carry, "_ck")
    d = d.join(F.broadcast(small), "_ck")
    # last nonzero sign at row i = in-chunk prefix, else this chunk's
    # boundary sign, else the carry; default +1 (reference seeds +1)
    side = F.coalesce(F.col("_cin"), F.col("_bnz"), F.col("_carry"), F.lit(1.0)).cast("int")
    return d.withColumn("side", side), w


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
