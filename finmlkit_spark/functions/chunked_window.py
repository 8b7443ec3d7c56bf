"""Partition-parallel evaluation of global row-ordered windows.

A single-symbol bar stream ordered by time forces ``Window.orderBy(ts)``
with no partition key — Spark plans that as ``Exchange SinglePartition``:
one task walks every row, the one node in an otherwise-parallel plan
that cannot scale past a single core. This module removes it for the
common case of BOUNDED rows-frames (lookback <= warmup):

1. assign every row an exact global row number WITHOUT a global sort:
   rows get a coarse time bucket (e.g. day); a row_number window
   partitioned by bucket (parallel) ranks within buckets; bucket row
   counts (a tiny agg, one row per bucket) are turned into bucket start
   offsets with ``functions.prefix.exclusive_prefix`` — on the driver
   for up to ``prefix.DRIVER_MAX_KEYS`` buckets, by the two-level
   O(k·log g) plan above that; neither side plans SinglePartition;
2. chunk rows by global row number: chunk = (rn-1) div chunk_rows, so
   every chunk except the last holds exactly chunk_rows rows;
3. duplicate each chunk's last ``warmup`` rows into the NEXT chunk,
   flagged ``_warm`` — every real row now sees >= warmup predecessors
   inside its own chunk;
4. the caller evaluates its window expressions over
   ``Window.partitionBy(_chunk).orderBy(order)`` — embarrassingly
   parallel — and keeps ``~_warm`` rows.

For any window expression whose frame looks back at most ``warmup``
rows (aggregates over ``ROWS n-1 PRECEDING``, ``lag(n)``, count-based
warmup guards), the per-chunk result is BIT-IDENTICAL to the global
window: the frame contents are exactly the same rows in the same order.
Chained row-dependencies (a lag feeding a windowed aggregate, e.g.
true-range into ATR) consume warmup depth additively — size ``warmup``
to the SUM of lookbacks along the deepest chain.

This is the DataFrame analog of the reference's chunked parallel
feature computation (``finmlkit/feature/kit.py`` multiprocessing over
row chunks with warmup overlap) — exact for bounded frames. Infinite-
memory recurrences (EWMA, EW-std) cannot be warmed up exactly; they use
the closed-combine scans in ``sequential`` (``ewma_parallel`` and
siblings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from .prefix import exclusive_prefix

DAY_NS = 86_400_000_000_000

# Width of the coarse buckets ranked in parallel by
# :func:`with_global_row_number` (in ``order_col`` units). The row
# numbers are exact for any width; it only sets the per-bucket task
# size, so tests narrow it to force several buckets on small inputs.
_COARSE_SPAN = DAY_NS

#: helper columns added by :func:`with_row_chunks`
CHUNK = "_chunk"
WARM = "_warm"
GLOBAL_RN = "_rng"


def with_global_row_number(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: tuple[str, ...] = (),
    rn_col: str = GLOBAL_RN,
) -> DataFrame:
    """Exact global row number by (order_col, *tiebreak_cols) with no
    single-partition exchange (scalable zipWithIndex in DataFrame ops).
    The bucket offsets are computed while the frame is built (the
    ``exclusive_prefix`` gate over the per-bucket counts); the rows
    themselves stay one lazy plan. Rows are ranked within buckets of
    ``_COARSE_SPAN`` ``order_col`` units."""
    order = [order_col, *tiebreak_cols]
    bkt = F.floor(F.col(order_col) / F.lit(_COARSE_SPAN))
    counts = df.groupBy(bkt.alias("_cw_bkt")).agg(F.count(F.lit(1)).alias("_cw_cnt"))
    # bucket offset = Σ counts of strictly-earlier buckets
    offsets = exclusive_prefix(counts, "_cw_bkt", sums={"_cw_off": "_cw_cnt"})
    d = df.withColumn("_cw_bkt", bkt)
    wb = Window.partitionBy("_cw_bkt").orderBy(*order)
    d = d.withColumn("_cw_rnw", F.row_number().over(wb))
    d = d.join(F.broadcast(offsets), "_cw_bkt")
    return d.withColumn(rn_col, F.col("_cw_off") + F.col("_cw_rnw")).drop(
        "_cw_bkt", "_cw_rnw", "_cw_off"
    )


def with_row_chunks(
    df: DataFrame,
    order_col: str,
    warmup: int,
    chunk_rows: int = 8192,
    tiebreak_cols: tuple[str, ...] = (),
    persist: bool = False,
) -> DataFrame:
    """Rows + duplicated warmup rows, ready for per-chunk windows.

    Returns the input with three helper columns: ``_rng`` (exact global
    row number), ``_chunk`` (the partition key for the caller's
    ``Window.partitionBy("_chunk").orderBy(order_col, ...)``) and
    ``_warm`` (True on duplicated overlap rows — filter these out AFTER
    evaluating the window expressions). ``chunk_rows`` must exceed
    ``warmup``; every chunk except the last is exactly full, so warmup
    coverage never starves on sparse stretches of the time axis.

    CONTRACT — the phantom trailing chunk: the last real chunk's tail
    rows are still duplicated into chunk id base+1, producing one extra
    chunk that contains ONLY ``_warm`` rows (suppressing it would need
    the global row count, i.e. a scalar-agg SinglePartition exchange —
    deliberately not paid; ``finish()`` drops the rows anyway). Every
    grouped consumer over ``_chunk`` (``arrow.groups``; ``applyInPandas``
    for the rolling median) MUST therefore tolerate a group whose rows
    are all warmup: emit rows normally and let the ``_warm`` filter
    discard them (the seeded-carry scans in ``functions.sequential`` do
    this), or return no rows. Guarded
    by ``tests/test_chunked_window.py::test_all_warm_phantom_chunk``.

    Warmup rows are produced by an ``explode`` of a 1- or 2-element
    chunk-id array, NOT a union of two branches — the upstream subtree
    appears ONCE in the plan. ``warmup=0`` (the closed-combine scans in
    ``functions.sequential``) duplicates nothing, so it plans no
    ``explode`` and no phantom chunk. The input is read twice: once by
    the per-bucket counts of :func:`with_global_row_number` (run while the
    frame is built), once by the rows; pass ``persist=True`` to put
    a storage boundary under both when the input is itself an expensive
    subtree (e.g. a bar aggregation over a 100 TB trade scan).
    """
    if chunk_rows <= warmup:
        raise ValueError(f"chunk_rows ({chunk_rows}) must exceed warmup ({warmup})")
    if persist:
        df = cache.keep(df)
    d = with_global_row_number(df, order_col, tiebreak_cols=tiebreak_cols)
    pos = (F.col(GLOBAL_RN) - 1) % chunk_rows
    base = F.floor((F.col(GLOBAL_RN) - 1) / chunk_rows)
    if warmup == 0:
        return d.withColumn(CHUNK, base).withColumn(WARM, F.lit(False))
    targets = F.when(
        pos >= chunk_rows - warmup, F.array(base, base + 1)
    ).otherwise(F.array(base))
    d = d.withColumn(CHUNK, F.explode(targets))
    return d.withColumn(WARM, F.col(CHUNK) != base)


def chunk_window(order_col: str, *extra_order) -> Window:
    """The per-chunk WindowSpec matching :func:`with_row_chunks`."""
    return Window.partitionBy(CHUNK).orderBy(order_col, *extra_order)


def finish(df: DataFrame) -> DataFrame:
    """Drop warmup duplicates + helper columns after window evaluation."""
    return df.where(~F.col(WARM)).drop(CHUNK, WARM, GLOBAL_RN)
