"""Exclusive prefix aggregates over a small keyed table.

Several operators reduce cross-chunk state to a summary with one row
per time chunk or bucket, then need, for every key, an aggregate over
all STRICTLY EARLIER keys: the bucket offsets of
``chunked_window.with_global_row_number``, the chunk carry of
``preprocess.chunked_side_frame`` and the carried close of
``bars.fill_empty_bars``.

Up to :data:`DRIVER_MAX_KEYS` rows, the summary goes through the one
driver gate (``cache.collect_if_small``), is prefixed in NumPy
(:func:`local_prefix`) and returns as a local table: one job, no
exchange. Above it, or under ``cache._FORCE_DISTRIBUTED``,
:func:`two_level` plans the prefix with neither ``Exchange
SinglePartition`` (a global ``Window.orderBy``) nor O(k²) pairs (a
triangular self-join): a window partitioned by group ``floor(key / g)``
gives the in-group prefix and the k/g group totals go through the
triangular join, O(k·log g) + O((k/g)²). Sums are of integer columns
and ``lasts`` are carried unchanged, so both sides return the same bits.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache

#: keys prefixed on the driver: a bound on what is collected and
#: broadcast back (a few MB), not a measured crossover; daily chunks
#: over decades or hourly chunks over ten years fit
DRIVER_MAX_KEYS = 100_000

#: keys per group on the scale side
_GROUP = 4096


def _last_before(vals: pa.Array) -> pa.Array:
    """For rows in key order: the value on the nearest strictly-earlier
    row where ``vals`` is non-null, NULL when there is none. Values are
    taken, never recomputed, so floats (NaN included) keep their bits."""
    n = len(vals)
    pos = np.where(pc.is_valid(vals).to_numpy(zero_copy_only=False), np.arange(n), -1)
    prev = np.full(n, -1, dtype=np.int64)
    prev[1:] = np.maximum.accumulate(pos)[:-1]
    return vals.take(pa.array(prev, mask=prev < 0))


def local_prefix(
    tbl: pa.Table, key: str, sums: dict[str, str], lasts: dict[str, str]
) -> pa.Table:
    """The driver side of :func:`exclusive_prefix` over an Arrow table:
    returns ``(key, *outputs)`` in key order."""
    tbl = tbl.sort_by(key)
    cols = {key: tbl.column(key)}
    for out, c in sums.items():
        v = pc.fill_null(tbl.column(c), 0).to_numpy().astype(np.int64)
        cols[out] = pa.array(np.cumsum(v) - v)
    for out, c in lasts.items():
        cols[out] = _last_before(tbl.column(c).combine_chunks())
    return pa.table(cols)


def exclusive_prefix(
    df: DataFrame,
    key: str,
    sums: dict[str, str] | None = None,
    lasts: dict[str, str] | None = None,
) -> DataFrame:
    """Attach strictly-exclusive prefix aggregates to a keyed table.

    ``df`` must have ONE row per ``key`` (an integer chunk/bucket id).
    ``sums`` maps output column → integer input column: output = SUM of
    the input over all rows with a strictly smaller key (0 when none).
    ``lasts`` maps output column → input column: output = the input
    value on the largest strictly-smaller key where it is non-null
    (NULL when none) — the "carry state from the latest earlier chunk"
    pattern. Returns the PREFIX TABLE ``(key, *outputs)`` for the caller
    to broadcast back; ``df``'s plan runs once on either side.
    """
    sums = sums or {}
    lasts = lasts or {}
    cols = sorted({*sums.values(), *lasts.values()})
    cut, tbl = cache.collect_if_small(df.select(key, *cols), DRIVER_MAX_KEYS)
    if tbl is None:
        return two_level(cut, key, sums, lasts)
    return df.sparkSession.createDataFrame(local_prefix(tbl, key, sums, lasts))


def _last_nonnull(val: Column, ordc: Column) -> Column:
    # max_by ignores rows whose ordering expression is null, so this is
    # "value at the largest key where value is non-null"
    return F.max_by(val, F.when(val.isNotNull(), ordc))


def two_level(
    df: DataFrame, key: str, sums: dict[str, str], lasts: dict[str, str]
) -> DataFrame:
    """The scale side of :func:`exclusive_prefix`, planned over ``df``
    (referenced twice: the in-group window and the group totals)."""
    pg = F.floor(F.col(key) / F.lit(int(_GROUP)))
    d = df.withColumn("_pg", pg)
    w = (
        Window.partitionBy("_pg")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumns(
        {f"_in_{out}": F.sum(c).over(w) for out, c in sums.items()}
        | {f"_in_{out}": F.last(c, ignorenulls=True).over(w) for out, c in lasts.items()}
    )

    # per-group totals from the RAW input (no dependency on the window
    # columns above — keeps the group-total subtree window-free)
    aggs = [F.sum(c).alias(f"_gt_{out}") for out, c in sums.items()]
    aggs += [
        _last_nonnull(F.col(c), F.col(key)).alias(f"_gt_{out}")
        for out, c in lasts.items()
    ]
    base = df.select(pg.alias("_pg"), F.col(key), *{*sums.values(), *lasts.values()})
    gt = base.groupBy("_pg").agg(*aggs)
    outs = [*sums, *lasts]
    a = gt.select("_pg")
    b = gt.select(
        F.col("_pg").alias("_pgb"),
        *[F.col(f"_gt_{o}").alias(f"_gtb_{o}") for o in outs],
    )
    goff_aggs = [F.sum(f"_gtb_{o}").alias(f"_go_{o}") for o in sums]
    goff_aggs += [
        _last_nonnull(F.col(f"_gtb_{o}"), F.col("_pgb")).alias(f"_go_{o}")
        for o in lasts
    ]
    goff = (
        a.join(b, F.col("_pgb") < F.col("_pg"), "left")
        .groupBy("_pg")
        .agg(*goff_aggs)
    )
    d = d.join(F.broadcast(goff), "_pg", "left")
    d = d.withColumns(
        {
            out: F.coalesce(F.col(f"_go_{out}"), F.lit(0))
            + F.coalesce(F.col(f"_in_{out}"), F.lit(0))
            for out in sums
        }
        | {
            out: F.coalesce(F.col(f"_in_{out}"), F.col(f"_go_{out}"))
            for out in lasts
        }
    )
    return d.select(key, *outs)
