"""Footprint + volume-profile queries (SURVEY.md §2.4, §2.6).

Footprints on 5-minute bars with tick=0.01 (level = round(price·100));
volume profile anchored hourly over a trailing 6 h window, 20 bins.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import bars as B
from ..operators import footprint as FP
from ..operators import preprocess as P
from ..operators import volume_profile as VP
from ..sources.trades import events_to_trades
from ._registry import query
from .bars_suite import _SIDED

BAR5_NS = 300_000_000_000
HOUR_NS = 3_600_000_000_000
IMB_MULT = 3.0

_FP = (
    _SIDED
    + f""",
lv AS (
  SELECT *, (CAST(floor(ts_ns / {BAR5_NS}) AS BIGINT) + 1) * {BAR5_NS} AS bar_close_ns,
         CAST(round(price * 100) AS BIGINT) AS level
  FROM sided
),
fp AS (
  SELECT bar_close_ns, level,
         sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END) AS buy_vol,
         sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END) AS sell_vol,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS buy_ticks,
         CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS sell_ticks
  FROM lv GROUP BY bar_close_ns, level
)
"""
)

_FPH = _FP.replace(str(BAR5_NS), str(HOUR_NS))


def _fp_spark(spark: SparkSession, sf_dir: str, interval_ns: int = BAR5_NS):
    tr = P.with_trade_side_chunked(events_to_trades(spark, sf_dir))
    tr = B.with_time_bar(tr, interval_ns)
    return FP.footprint_long(tr, tick=0.01)


@query("footprint_long", _FP + "SELECT * FROM fp")
def footprint_long_q(spark, sf_dir):
    """Long-form footprint table (comp_bar_footprints, base.py:615-752)."""
    return _fp_spark(spark, sf_dir)


@query(
    "footprint_features",
    _FP
    + f""",
im AS (
  SELECT *, buy_vol + sell_vol AS vol,
         CAST(floor(buy_vol * 1000000.0e0 + 0.5e0) AS BIGINT)
           + CAST(floor(sell_vol * 1000000.0e0 + 0.5e0) AS BIGINT) AS volq,
         CAST(sell_vol > {IMB_MULT} * lead(buy_vol) OVER wl AS INT) AS sell_imb,
         CAST(buy_vol > {IMB_MULT} * lag(sell_vol) OVER wl AS INT) AS buy_imb
  FROM fp
  WINDOW wl AS (PARTITION BY bar_close_ns ORDER BY level)
),
sg AS (
  SELECT *,
         CASE WHEN buy_imb = 1 THEN 1
              WHEN sell_imb = 1 THEN -1
              ELSE 0 END AS imb_sgn
  FROM im
),
ch AS (
  SELECT *,
         CASE WHEN imb_sgn <> lag(imb_sgn, 1, 0)
                OVER (PARTITION BY bar_close_ns ORDER BY level) THEN 1 ELSE 0 END AS chg
  FROM sg
),
gr AS (
  SELECT *,
         sum(chg) OVER (PARTITION BY bar_close_ns ORDER BY level
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM ch
),
rl AS (
  SELECT *, CASE WHEN imb_sgn <> 0
                 THEN row_number() OVER (PARTITION BY bar_close_ns, grp ORDER BY level)
                 ELSE 0 END AS run_len
  FROM gr
),
cot AS (
  SELECT bar_close_ns, level AS cot_level,
         row_number() OVER (PARTITION BY bar_close_ns ORDER BY vol DESC, level ASC) AS rk
  FROM rl
),
bv AS (
  SELECT bar_close_ns,
         CAST(sum(CAST(floor(price * qty * 1000000.0e0 + 0.5e0) AS HUGEINT)) AS DOUBLE)
           / CAST(sum(CAST(floor(qty * 1000000.0e0 + 0.5e0) AS HUGEINT)) AS DOUBLE) AS bar_vwap
  FROM lv GROUP BY bar_close_ns
)
SELECT r.bar_close_ns,
       count(*) AS n_levels,
       CAST(sum(coalesce(buy_imb, 0)) AS BIGINT) AS buy_imb_sum,
       CAST(sum(coalesce(sell_imb, 0)) AS BIGINT) AS sell_imb_sum,
       CAST(arg_min(run_len * imb_sgn, (0 - run_len) * 1000000 + level) AS BIGINT) AS max_imb_run,
       any_value(c.cot_level) AS cot_level,
       CAST(sum(CAST(floor((r.level * 0.01e0 - b.bar_vwap) * (CAST(volq AS DOUBLE) / 1000000.0e0) * 1000000.0e0 + 0.5e0) AS HUGEINT)) AS DOUBLE)
         / nullif(CAST(sum(CAST(volq AS HUGEINT)) AS DOUBLE), 0.0e0) AS vp_skew,
       CAST(sum(CAST(floor((r.level * 0.01e0 - b.bar_vwap) * (r.level * 0.01e0 - b.bar_vwap) * (CAST(volq AS DOUBLE) / 1000000.0e0) * 1000000.0e0 + 0.5e0) AS HUGEINT)) AS DOUBLE)
         / nullif(CAST(sum(CAST(volq AS HUGEINT)) AS DOUBLE), 0.0e0) AS vp_var,
       1.0 - CAST(sum(CAST(floor((CAST(volq AS DOUBLE) / 1000000.0e0) * (CAST(volq AS DOUBLE) / 1000000.0e0) * 1000000.0e0 + 0.5e0) AS HUGEINT)) AS DOUBLE) * 1000000.0e0
         / nullif(CAST(sum(CAST(volq AS HUGEINT)) AS DOUBLE)
             * CAST(sum(CAST(volq AS HUGEINT)) AS DOUBLE), 0.0e0) AS vp_gini
FROM rl r
JOIN (SELECT bar_close_ns, cot_level FROM cot WHERE rk = 1) c USING (bar_close_ns)
JOIN bv b USING (bar_close_ns)
GROUP BY r.bar_close_ns""",
)
def footprint_features_q(spark, sf_dir):
    """Per-bar footprint features: diagonal imbalances, signed-run length,
    COT level, vp_skew around the bar's TRADE vwap (base.py:838-843),
    vp_var = Σv·(p−bar_vwap)²/Σv — the shifted one-pass 2nd moment
    (the naive E[x²]−E[x]² form amplifies a 1-ulp pow()
    difference by mean²/var ~1e12; the shifted form is a sum of
    non-negative terms, cancellation-free) — and gini (base.py:755-850).

    Determinism: bar_vwap and every moment sum derive
    from HALF_UP-1e6-quantized exact integer folds on both engine
    sides, so the output doubles are IDENTICAL by construction at any
    scale — the float form's fold-order last-ulp could flip a value
    sitting exactly on the round(·,6) boundary (the one documented
    sf0.1 case, vp_var 611.168338 vs .168337). Two non-obvious pieces:
    DuckDB parses ``0.01`` as DECIMAL, so an oracle ``level * 0.01``
    is an exact-decimal price cast to double — 1 ulp OFF Spark's
    double product (use ``0.01e0``); and the query applies no
    round(·,6), because the 1e-6-grid
    integer ratio lands exactly on the 6-digit halfway point whenever
    2·Σq ≡ Σvq (mod 2Σvq), where the engines' round rules disagree
    (observed on 6 bars). Raw identical doubles need no round."""
    tr = events_to_trades(spark, sf_dir)
    # side pass on the MEMOIZED trades frame (not a derived one) so the
    # auto-mode crossover count caches on it across builds; the bar key
    # attaches after — same values, order-independent columns
    fp = FP.footprint_long(
        B.with_time_bar(P.with_trade_side_chunked(tr), BAR5_NS), tick=0.01
    )
    # bar_vwap needs no side — branch off BEFORE the side pass so the
    # chunked-carry subtree evaluates once, not once per branch
    # bar_vwap from exact HALF_UP-1e6-quantized integer folds: both
    # engines derive the SAME double
    # from the same integer sums, so the downstream (p - vwap) terms are
    # bit-identical inputs to the quantized moment sums
    bv = B.with_time_bar(tr, BAR5_NS).groupBy("bar_close_ns").agg(
        (
            F.sum(
                F.floor(F.col("price") * F.col("qty") * 1000000.0 + 0.5).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / F.sum(
                F.floor(F.col("qty") * 1000000.0 + 0.5).cast("decimal(38,0)")
            ).cast("double")
        ).alias("bar_vwap")
    )
    out = FP.footprint_features(fp, imb_mult=IMB_MULT, tick=0.01, bar_vwap=bv)
    # no query-side round: the quantized-int derivation makes the raw
    # ratios identical doubles on both engines, and rounding would
    # REINTRODUCE a hazard — the 1e-6-grid ratio lands EXACTLY on the
    # 6-digit halfway point whenever 2·Σvarq ≡ Σvq (mod 2Σvq), where
    # Spark's HALF_UP round and DuckDB's disagree (observed: 6 bars at
    # sf0.1, 1045.2253015 → .225302 vs .225301). −0.0 cannot arise:
    # integer numerators over positive denominators.
    return out


@query(
    "vp_profile",
    _FPH
    + f""",
anchors AS (SELECT DISTINCT bar_close_ns AS anchor_ts FROM fp),
j AS (
  SELECT a.anchor_ts, f.level, f.buy_vol + f.sell_vol AS vol
  FROM anchors a JOIN fp f
    ON f.bar_close_ns > a.anchor_ts - {6 * HOUR_NS} AND f.bar_close_ns <= a.anchor_ts
),
bounds AS (
  SELECT *, min(level) OVER (PARTITION BY anchor_ts) AS lo,
            max(level) OVER (PARTITION BY anchor_ts) AS hi
  FROM j
),
binned AS (
  SELECT anchor_ts,
         CAST(least(floor((level - lo) / greatest((hi - lo + 1) / 20.0, 1.0)), 19) AS BIGINT) AS bin,
         vol
  FROM bounds
)
SELECT anchor_ts, bin, sum(vol) AS vol FROM binned GROUP BY anchor_ts, bin""",
)
def vp_profile_q(spark, sf_dir):
    """Rolling binned volume profile: hourly anchors × trailing 6 h of
    hourly footprints, 20 bins (volume.py:133-274,393-456)."""
    fp = _fp_spark(spark, sf_dir, HOUR_NS)
    return VP.rolling_profile(fp, 6 * HOUR_NS, n_bins=20, bucket_ns=HOUR_NS)


@query(
    "vp_poc",
    _FPH
    + f""",
anchors AS (SELECT DISTINCT bar_close_ns AS anchor_ts FROM fp),
j AS (
  SELECT a.anchor_ts, f.level, f.buy_vol + f.sell_vol AS vol
  FROM anchors a JOIN fp f
    ON f.bar_close_ns > a.anchor_ts - {6 * HOUR_NS} AND f.bar_close_ns <= a.anchor_ts
),
bounds AS (
  SELECT *, min(level) OVER (PARTITION BY anchor_ts) AS lo,
            max(level) OVER (PARTITION BY anchor_ts) AS hi
  FROM j
),
prof AS (
  SELECT anchor_ts,
         CAST(least(floor((level - lo) / greatest((hi - lo + 1) / 20.0, 1.0)), 19) AS BIGINT) AS bin,
         sum(vol) AS vol
  FROM bounds GROUP BY 1, 2
),
poc AS (
  SELECT anchor_ts, bin AS poc_bin,
         row_number() OVER (PARTITION BY anchor_ts ORDER BY vol DESC, bin ASC) AS rk
  FROM prof
)
SELECT p.anchor_ts, c.poc_bin,
       sum(CASE WHEN p.bin > c.poc_bin THEN p.vol ELSE 0.0 END) / sum(p.vol) AS pct_above_poc,
       sum(p.vol) AS total_vol
FROM prof p JOIN (SELECT anchor_ts, poc_bin FROM poc WHERE rk = 1) c USING (anchor_ts)
GROUP BY p.anchor_ts, c.poc_bin""",
)
def vp_poc_q(spark, sf_dir):
    """POC bin + volume share above POC (volume.py:277-390)."""
    fp = _fp_spark(spark, sf_dir, HOUR_NS)
    prof = VP.rolling_profile(fp, 6 * HOUR_NS, n_bins=20, bucket_ns=HOUR_NS)
    return VP.poc_features(prof)


_VP_PROF = f""",
anchors AS (SELECT DISTINCT bar_close_ns AS anchor_ts FROM fp),
j AS (
  SELECT a.anchor_ts, f.level, f.buy_vol + f.sell_vol AS vol
  FROM anchors a JOIN fp f
    ON f.bar_close_ns > a.anchor_ts - {6 * HOUR_NS} AND f.bar_close_ns <= a.anchor_ts
),
bounds AS (
  SELECT *, min(level) OVER (PARTITION BY anchor_ts) AS lo,
            max(level) OVER (PARTITION BY anchor_ts) AS hi
  FROM j
),
prof AS (
  SELECT anchor_ts,
         CAST(least(floor((level - lo) / greatest((hi - lo + 1) / 20.0, 1.0)), 19) AS BIGINT) AS bin,
         sum(vol) AS vol
  FROM bounds GROUP BY 1, 2
)"""


@query(
    "vp_hva_lva",
    _FPH.replace("WITH ", "WITH RECURSIVE ", 1)
    + _VP_PROF
    + """,
agg AS (
  SELECT anchor_ts,
         list(vol ORDER BY bin) AS varr,
         list(bin ORDER BY bin) AS barr,
         sum(vol) AS total
  FROM prof GROUP BY anchor_ts
),
pocx AS (
  SELECT anchor_ts, bin AS poc_bin
  FROM (SELECT anchor_ts, bin,
               row_number() OVER (PARTITION BY anchor_ts ORDER BY vol DESC, bin ASC) AS rk
        FROM prof)
  WHERE rk = 1
),
rec AS (
  SELECT a.anchor_ts, varr, barr, total,
         CAST(list_position(barr, p.poc_bin) AS BIGINT) AS p,
         CAST(list_position(barr, p.poc_bin) AS BIGINT) AS lo,
         CAST(list_position(barr, p.poc_bin) AS BIGINT) AS hi,
         varr[list_position(barr, p.poc_bin)] AS covered,
         varr[list_position(barr, p.poc_bin)] >= 0.7 * total AS done
  FROM agg a JOIN pocx p USING (anchor_ts)
  UNION ALL
  SELECT anchor_ts, varr, barr, total, p,
         CAST(nlo AS BIGINT), CAST(nhi AS BIGINT), ncov, ndone
  FROM (
    SELECT anchor_ts, varr, barr, total, p, lo, hi, covered,
           CASE WHEN hi < len(varr)
                THEN varr[hi + 1] + CASE WHEN hi + 2 <= len(varr) THEN varr[hi + 2] ELSE 0.0 END
                ELSE -1.0 END AS up2,
           CASE WHEN lo > 1
                THEN CASE WHEN lo > 2 THEN varr[lo - 2] + varr[lo - 1] ELSE varr[1] END
                ELSE -1.0 END AS dn2,
           (up2 < 0 AND dn2 < 0) AS stuck,
           (NOT stuck AND up2 >= dn2) AS go_up,
           CASE WHEN stuck OR NOT go_up THEN hi ELSE least(hi + 2, len(varr)) END AS nhi,
           CASE WHEN stuck OR go_up THEN lo ELSE greatest(lo - 2, 1) END AS nlo,
           CASE WHEN stuck THEN covered
                WHEN go_up THEN covered + varr[hi + 1]
                     + CASE WHEN nhi >= hi + 2 THEN varr[hi + 2] ELSE 0.0 END
                ELSE covered + varr[nlo]
                     + CASE WHEN lo - 1 > nlo THEN varr[lo - 1] ELSE 0.0 END END AS ncov,
           (stuck OR ncov >= 0.7 * total) AS ndone
    FROM rec WHERE NOT done
  ) q
)
SELECT anchor_ts, barr[p] AS poc_bin, barr[lo] AS lva_bin, barr[hi] AS hva_bin,
       CASE WHEN total > 0 THEN covered / total END AS va_coverage
FROM rec WHERE done""",
)
def vp_hva_lva_q(spark, sf_dir):
    """HVA/LVA value-area bounds via greedy two-at-a-time expansion around
    POC (volume.py:277-364) — per-anchor pandas UDF; golden-tested in
    tests/test_volume_profile.py.

    The oracle replays the walk as a lockstep recursive CTE (one row per
    unfinished anchor per step, ≤ n_bins/2 steps). Binned volumes are
    integer-valued doubles, so coverage sums and the 0.7·total threshold
    compare identically on both engines — bar ids and bounds are exact."""
    fp = _fp_spark(spark, sf_dir, HOUR_NS)
    prof = VP.rolling_profile(fp, 6 * HOUR_NS, n_bins=20, bucket_ns=HOUR_NS)
    return VP.hva_lva(prof, va_pct=0.7)


@query(
    "footprint_packed",
    _FP
    + """
SELECT bar_close_ns, CAST(count(*) AS INT) AS n_levels, min(level) AS min_level
FROM fp GROUP BY bar_close_ns""",
)
def footprint_packed(spark, sf_dir):
    """Nested per-bar footprint packing (collect_list of level structs,
    sorted) — the API-edge interop shape (FootprintData.get_df parity,
    bar/utils.py:129-209). Long-form remains the compute representation;
    the oracle checks the packed array's cardinality and head (sort_array
    on the level-led struct = ascending level order)."""
    fp = _fp_spark(spark, sf_dir)
    packed = FP.pack_footprint(fp)
    return packed.select(
        "bar_close_ns",
        F.size("footprint").alias("n_levels"),
        F.element_at("footprint", 1)["level"].alias("min_level"),
    )
