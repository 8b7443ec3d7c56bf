"""Exclusive prefix aggregates over a small keyed table.

Several operators reduce cross-chunk state to a summary with one row
per time chunk or bucket, then need, for every key, an aggregate over
all STRICTLY EARLIER keys: the bucket offsets of
``chunked_window.with_global_row_number``, the chunk carries of
``preprocess.chunked_side_frame`` and ``bars.fill_empty_bars``, the
span-marker offsets of ``labels.concurrency`` and ``labels.span_sweep``
(whose driver pivot calls :func:`local_prefix`), the cumulative
uniqueness of ``labels.time_decay`` and the cumulative weight of
``sampling.weighted_sample``.

Up to :data:`DRIVER_MAX_KEYS` rows, the summary goes through the one
driver gate (``cache.collect_if_small``), is prefixed in NumPy
(:func:`local_prefix`) and returns as a local table: one job, no
exchange. Above it, or under ``cache._FORCE_DISTRIBUTED``,
:func:`two_level` plans the prefix with neither ``Exchange
SinglePartition`` (a global ``Window.orderBy``) nor O(k²) pairs (a
triangular self-join): a window partitioned by group ``floor(key / g)``
gives the in-group prefix and the k/g group totals go through the
triangular join, O(k·log g) + O((k/g)²).

Sums keep their input type: int64 (exact on both sides) or float64.
A float sum is the fold in key order, ``sum() OVER (ORDER BY key ROWS
BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``: exactly on the driver;
on the scale side reassociated only at group boundaries (group offset +
in-group prefix, each folded in key order), so no bit depends on the
partition count, and the two sides agree bit for bit when all keys fall
in one :data:`_GROUP`. ``lasts`` are carried unchanged. An empty
summary gives zero rows in the declared types on both sides.

:func:`ordered_sum` is that key-order fold as an aggregate; the sample
weights' normalizers use it too.
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
        dt = np.float64 if pa.types.is_floating(tbl.column(c).type) else np.int64
        v = pc.fill_null(tbl.column(c), 0).to_numpy().astype(dt)
        run = np.zeros_like(v)  # the shifted fold, not cumsum - v: exact for floats
        run[1:] = np.cumsum(v)[:-1]
        cols[out] = pa.array(run)
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
    ``sums`` maps output column → numeric input column: output = SUM of
    the input over all rows with a strictly smaller key (0 when none),
    int64 for integer inputs and float64 for float inputs, folded in
    key order (see the module docstring for the float contract).
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


def ordered_sum(val: Column, ordc: Column, zero: Column) -> Column:
    """SUM of ``val`` folded in ``ordc`` order, NULL terms as ``zero``:
    an aggregate whose rows are sorted before the fold, so float bits do
    not depend on how they arrived. It holds a whole group in one task:
    for summaries (one row per chunk, event or class), not data-scale
    groups."""
    items = F.array_sort(F.collect_list(F.struct(ordc.alias("o"), val.alias("v"))))
    return F.aggregate(items, zero, lambda acc, x: acc + F.coalesce(x["v"], zero))


def two_level(
    df: DataFrame, key: str, sums: dict[str, str], lasts: dict[str, str]
) -> DataFrame:
    """The scale side of :func:`exclusive_prefix`, planned over ``df``
    (referenced twice: the in-group window and the group totals)."""
    types = dict(df.dtypes)
    zero = {
        out: F.lit(0).cast("double" if types[c] in ("float", "double") else "long")
        for out, c in sums.items()
    }
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
    aggs = [ordered_sum(F.col(c), F.col(key), zero[out]).alias(f"_gt_{out}") for out, c in sums.items()]
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
    goff_aggs = [ordered_sum(F.col(f"_gtb_{o}"), F.col("_pgb"), zero[o]).alias(f"_go_{o}") for o in sums]
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
            out: F.coalesce(F.col(f"_go_{out}"), zero[out])
            + F.coalesce(F.col(f"_in_{out}"), zero[out])
            for out in sums
        }
        | {
            out: F.coalesce(F.col(f"_in_{out}"), F.col(f"_go_{out}"))
            for out in lasts
        }
    )
    return d.select(key, *outs)
