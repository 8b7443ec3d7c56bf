"""Volume profile operators (SURVEY.md §2.6; reference ``core/volume.py``).

Built on the long footprint table: a rolling profile is a time-range
join (anchor bars × trailing footprint rows) + re-bucketing + per-anchor
aggregation. The POC/percentage features are order-free aggregations
(native SQL); the HVA/LVA value-area bounds are the reference's greedy
two-at-a-time expansion around POC (``volume.py:277-364``) — an
inherently sequential walk, implemented as a NumPy kernel per anchor
group (``functions.arrow.groups``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import arrow
from .joins import range_join


def rolling_profile(
    fp: DataFrame,
    window_ns: int,
    n_bins: int = 20,
    key: str = "bar_close_ns",
    bucket_ns: int | None = None,
) -> DataFrame:
    """Anchor each bar; aggregate footprint volume per level over the
    trailing (t−Δt, t] window; re-bucket levels into ``n_bins`` buckets
    between the window's min/max level (``aggregate_footprint`` +
    ``bucket_price_levels``, ``volume.py:133-274``).

    Returns (anchor_ts, bin, vol) — the binned profile per anchor.
    """
    anchors = fp.select(F.col(key).alias("anchor_ts")).distinct()
    anchors = anchors.withColumn("start_ts", F.col("anchor_ts") - F.lit(window_ns))
    j = range_join(anchors, fp, "start_ts", "anchor_ts", key, bucket_ns=bucket_ns)
    lv = j.select(
        "anchor_ts", "level", (F.col("buy_vol") + F.col("sell_vol")).alias("vol")
    )
    wa = Window.partitionBy("anchor_ts")
    lv = lv.withColumn("lo", F.min("level").over(wa)).withColumn("hi", F.max("level").over(wa))
    width = F.greatest((F.col("hi") - F.col("lo") + 1) / n_bins, F.lit(1.0))
    binned = lv.withColumn(
        "bin", F.least(F.floor((F.col("level") - F.col("lo")) / width), F.lit(n_bins - 1)).cast("long")
    )
    return binned.groupBy("anchor_ts", "bin").agg(F.sum("vol").alias("vol"))


def poc_features(profile: DataFrame) -> DataFrame:
    """POC bin (max volume, lowest bin on ties) + volume share above POC
    (``comp_poc_hva_lva`` POC part + ``calc_volume_percentage_above_poc``,
    ``volume.py:277-390``)."""
    w = Window.partitionBy("anchor_ts").orderBy(F.col("vol").desc(), F.col("bin").asc())
    p = profile.withColumn("rk", F.row_number().over(w))
    poc = p.where(F.col("rk") == 1).select("anchor_ts", F.col("bin").alias("poc_bin"))
    j = profile.join(poc, "anchor_ts")
    return j.groupBy("anchor_ts", "poc_bin").agg(
        (
            F.sum(F.when(F.col("bin") > F.col("poc_bin"), F.col("vol")).otherwise(0.0))
            / F.sum("vol")
        ).alias("pct_above_poc"),
        F.sum("vol").alias("total_vol"),
    )


def hva_lva(profile: DataFrame, va_pct: float = 0.7) -> DataFrame:
    """Value-area bounds: start at POC, expand two-levels-at-a-time toward
    the larger neighbor volume until ≥ va_pct of total volume is covered
    (market-profile TPO algorithm, ``volume.py:277-364``). Greedy and
    order-dependent -> per-anchor grouped kernel (anchors are independent, so
    this parallelizes across the shuffle like every other grouped kernel).
    """

    def kernel(cols):
        vols = cols["vol"].astype(float)
        bins = cols["bin"]
        total = vols.sum()
        # POC: max vol, lowest bin on ties
        p = int(np.lexsort((bins, -vols))[0])
        covered = vols[p]
        lo = hi = p
        while covered < va_pct * total:
            up2 = vols[hi + 1 : hi + 3].sum() if hi + 1 < len(vols) else -1.0
            dn2 = vols[max(lo - 2, 0) : lo].sum() if lo > 0 else -1.0
            if up2 < 0 and dn2 < 0:
                break
            if up2 >= dn2:
                new_hi = min(hi + 2, len(vols) - 1)
                covered += vols[hi + 1 : new_hi + 1].sum()
                hi = new_hi
            else:
                new_lo = max(lo - 2, 0)
                covered += vols[new_lo:lo].sum()
                lo = new_lo
        coverage = covered / total if total > 0 else float("nan")
        return [(cols["anchor_ts"][0], int(bins[p]), int(bins[lo]), int(bins[hi]), coverage)]

    return arrow.groups(
        profile,
        "anchor_ts",
        kernel,
        "anchor_ts long, poc_bin long, lva_bin long, hva_bin long, va_coverage double",
        order=("bin",),
    )
