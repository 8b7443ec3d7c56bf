"""Partition-parallel queries keyed by user_id — the multi-symbol scale
path: every window/agg partitions by the key, so these plans shuffle by
hash(user) instead of collapsing to a single ordered partition (the
shape all operators take at 100 TB via their ``by=`` parameter)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import bars as B
from ..operators import preprocess as P
from ..sources.trades import events_to_trades
from ._registry import query

HOUR_NS = 3_600_000_000_000
SESSION_GAP_NS = 30 * 60_000_000_000

_UTRADES = """
trades AS (
  SELECT epoch_us(ts) * 1000 AS ts_ns,
         event_id AS trade_id,
         value AS price,
         CAST(1 + (event_id % 5) AS DOUBLE) AS qty,
         CAST(user_id AS VARCHAR) AS symbol
  FROM events WHERE value > 0
)
"""


@query(
    "user_hourly_bars",
    "WITH "
    + _UTRADES.strip()
    + f""",
t AS (
  SELECT *, (CAST(floor(ts_ns / {HOUR_NS}) AS BIGINT) + 1) * {HOUR_NS} AS bar_close_ns
  FROM trades
)
SELECT symbol, bar_close_ns,
       arg_min(price, trade_id) AS open,
       max(price) AS high,
       min(price) AS low,
       arg_max(price, trade_id) AS close,
       sum(qty) AS volume,
       sum(price * qty) / sum(qty) AS vwap,
       count(*) AS trades,
       median(qty) AS median_trade_size,
       min(ts_ns) AS first_ts_ns,
       max(ts_ns) AS last_ts_ns
FROM t GROUP BY symbol, bar_close_ns""",
)
def user_hourly_bars(spark, sf_dir):
    """Per-user hourly OHLCV — hash-partitioned by user, the shape every
    bar build takes across symbols at scale (no global sort anywhere)."""
    tr = events_to_trades(spark, sf_dir, by_user=True)
    df = B.with_time_bar(tr, HOUR_NS)
    out = B.bar_ohlcv(df, key="bar_close_ns", by="symbol")
    return out.select(
        "symbol", "bar_close_ns", "open", "high", "low", "close", "volume",
        "vwap", "trades", "median_trade_size", "first_ts_ns", "last_ts_ns",
    )


@query(
    "user_trade_side",
    "WITH "
    + _UTRADES.strip()
    + """,
r AS (
  SELECT *, sign(price - lag(price) OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id)) AS raw
  FROM trades
)
SELECT ts_ns, trade_id, price, qty, symbol,
       CAST(coalesce(
         last_value(CASE WHEN raw <> 0 THEN raw END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         1) AS INT) AS side
FROM r""",
)
def user_trade_side(spark, sf_dir):
    """Tick-rule side per user partition (sequential logic stays inside a
    hash partition — zero cross-partition state)."""
    tr = events_to_trades(spark, sf_dir, by_user=True)
    return P.with_trade_side(tr, by="symbol")


@query(
    "user_sessions",
    "WITH "
    + _UTRADES.strip()
    + f""",
g AS (
  SELECT *, CASE WHEN ts_ns - lag(ts_ns) OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id)
                     > {SESSION_GAP_NS} OR lag(ts_ns) OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id) IS NULL
                 THEN 1 ELSE 0 END AS new_sess
  FROM trades
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT symbol, CAST(session_id AS BIGINT) AS session_id,
       min(ts_ns) AS session_start_ns,
       max(ts_ns) AS session_end_ns,
       count(*) AS n_events,
       sum(price * qty) AS session_value
FROM s GROUP BY symbol, session_id""",
)
def user_sessions(spark, sf_dir):
    """Sessionization (30-min inactivity gap) per user — gaps-and-islands
    window + one agg; the batch shape of streaming session windows."""
    tr = events_to_trades(spark, sf_dir, by_user=True)
    w = Window.partitionBy("symbol").orderBy("ts_ns", "trade_id")
    prev = F.lag("ts_ns").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("ts_ns") - prev) > SESSION_GAP_NS), 1
    ).otherwise(0)
    s = tr.withColumn("new_sess", new_sess).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return s.groupBy("symbol", "session_id").agg(
        F.min("ts_ns").alias("session_start_ns"),
        F.max("ts_ns").alias("session_end_ns"),
        F.count("*").alias("n_events"),
        F.sum(F.col("price") * F.col("qty")).alias("session_value"),
    )


from ..functions import arrow  # noqa: E402
from ..functions import sequential as S  # noqa: E402


@query(
    "user_ewma",
    "WITH "
    + _UTRADES.strip()
    + """,
lx AS (
  SELECT symbol, ts_ns, trade_id,
         list(price) OVER (PARTITION BY symbol ORDER BY ts_ns, trade_id
              ROWS BETWEEN 499 PRECEDING AND CURRENT ROW) AS l
  FROM trades
)
SELECT symbol, ts_ns, trade_id,
       list_sum(list_transform(l, (x, i) -> x * pow(0.9, len(l) - i)))
       / list_sum(list_transform(l, (x, i) -> pow(0.9, len(l) - i))) AS ewma_19
FROM lx""",
)
def user_ewma(spark, sf_dir):
    """Per-user EWMA(19) — the grouped sequential tier running
    partition-parallel across 150 user streams (one exact recurrence per
    group, zero cross-group state); oracle = per-partition closed-form
    convolution."""
    tr = events_to_trades(spark, sf_dir, by_user=True)

    def kernel(c):
        return {**c, "ewma_19": S.ewma(c["price"], 19)}

    return arrow.groups(
        tr,
        "symbol",
        kernel,
        "symbol string, ts_ns long, trade_id long, ewma_19 double",
        order=("ts_ns", "trade_id"),
    )


from ..operators.joins import range_join  # noqa: E402


@query(
    "user_tbm_labels",
    "WITH "
    + _UTRADES.strip()
    + """,
ev AS (
  SELECT symbol, trade_id AS event_id, ts_ns AS event_ts_ns, price AS entry_price,
         0.5 AS target, ts_ns + 86400000000000 AS vert_ts_ns
  FROM trades WHERE trade_id % 29 = 0
),
j AS (
  SELECT e.symbol, e.event_id, e.event_ts_ns, e.target,
         t.ts_ns, ln(t.price / e.entry_price) AS r
  FROM ev e JOIN trades t
    ON t.symbol = e.symbol AND t.ts_ns > e.event_ts_ns AND t.ts_ns <= e.vert_ts_ns
),
a AS (
  SELECT symbol, event_id, event_ts_ns, target,
         min(CASE WHEN r >= target THEN ts_ns END) AS up_ts,
         min(CASE WHEN r <= -target THEN ts_ns END) AS dn_ts,
         max(ts_ns) AS last_ts
  FROM j GROUP BY symbol, event_id, event_ts_ns, target
)
SELECT symbol, event_id, event_ts_ns,
       CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN 1
            WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN -1
            ELSE 0 END AS label,
       CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ts
            WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ts
            ELSE last_ts END AS touch_ts_ns
FROM a""",
)
def user_tbm_labels(spark, sf_dir):
    """Triple Barrier per user stream (150-way partition-parallel range
    join keyed by symbol — the multi-instrument labeling shape; 24h
    vertical barrier on the sparse per-user streams)."""
    tr = events_to_trades(spark, sf_dir, by_user=True)
    events = tr.where(F.col("trade_id") % 29 == 0).select(
        "symbol",
        F.col("trade_id").alias("event_id"),
        F.col("ts_ns").alias("event_ts_ns"),
        F.col("price").alias("entry_price"),
        F.lit(0.5).alias("target"),
    )
    ev = events.withColumn("vert_ts_ns", F.col("event_ts_ns") + F.lit(86_400_000_000_000))
    j = range_join(
        ev, tr.select("symbol", "ts_ns", "price"), "event_ts_ns", "vert_ts_ns", "ts_ns",
        by=["symbol"], bucket_ns=6 * HOUR_NS,
    )
    r = F.log(F.col("price") / F.col("entry_price"))
    agg = j.groupBy("symbol", "event_id", "event_ts_ns", "target").agg(
        F.min(F.when(r >= F.col("target"), F.col("ts_ns"))).alias("up_ts"),
        F.min(F.when(r <= -F.col("target"), F.col("ts_ns"))).alias("dn_ts"),
        F.max("ts_ns").alias("last_ts"),
    )
    up_first = F.col("up_ts").isNotNull() & (
        F.col("dn_ts").isNull() | (F.col("up_ts") <= F.col("dn_ts"))
    )
    dn_first = F.col("dn_ts").isNotNull() & (
        F.col("up_ts").isNull() | (F.col("dn_ts") < F.col("up_ts"))
    )
    return agg.select(
        "symbol",
        "event_id",
        "event_ts_ns",
        F.when(up_first, 1).when(dn_first, -1).otherwise(0).alias("label"),
        F.when(up_first, F.col("up_ts"))
        .when(dn_first, F.col("dn_ts"))
        .otherwise(F.col("last_ts"))
        .alias("touch_ts_ns"),
    )


def _user_fast_oracle() -> str:
    from ..functions import rolling as _R

    return (
        "WITH "
        + _UTRADES.strip()
        + f""",
t AS (
  SELECT *, (CAST(floor(ts_ns / {HOUR_NS}) AS BIGINT) + 1) * {HOUR_NS} AS bar_close_ns
  FROM trades
),
b AS (
  SELECT symbol, bar_close_ns,
         max(price) AS high, min(price) AS low,
         arg_max(price, trade_id) AS close, sum(qty) AS volume
  FROM t GROUP BY symbol, bar_close_ns
)"""
        + _R.fast_stage_ticks_oracle_sql(by="symbol")
    )


@query("user_fast_features", _user_fast_oracle())
def user_fast_features(spark, sf_dir):
    """The prefix-sum feature stage on the PARTITION-PARALLEL path: per
    user/symbol hourly bars, all window passes keyed by hash(symbol) —
    the oracle-verified form of the 100 TB shape. Tick-exact variant
    (rolling.fast_feature_stage_ticks): integer window sums + shared
    IEEE expression text, no round() equalizer."""
    from ..functions import rolling as R

    tr = events_to_trades(spark, sf_dir, by_user=True)
    df = B.with_time_bar(tr, HOUR_NS)
    bars = B.bar_ohlcv(df, key="bar_close_ns", by="symbol")
    out = R.fast_feature_stage_ticks(bars, by="symbol", order_col="bar_close_ns")
    return out.select("symbol", "bar_close_ns", "sma", "z", "k", "roc", "vd", "bb")


# --- product-analytics tier: funnel + cohort retention over events ----------

DAY_NS = 86_400_000_000_000


def _events_ns(spark, sf_dir, cols: tuple = ("user_id", "event_type")):
    """events with ts normalized to epoch ns (µs-floored) plus the
    requested raw columns — the same dtype-branch contract as
    ``events_to_trades`` (the physical type of ``ts`` has drifted
    across driver regenerations: TIMESTAMP(NANOS) arrives as long ns
    under nanosAsLong, timestamp[us] as TIMESTAMP_NTZ), keeping
    whichever columns the caller names (the trade adapter drops
    ``event_type``). Session-memoized per column set like the trade
    adapter (the raw read costs ~100 ms of file listing + footer
    schema per plan build; the analytics queries share these relations
    per bench pass). The UTC/nanosAsLong session confs are ensured
    here, so every caller inherits the read_table contract."""
    from ..sources.tables import (
        _RELATION_MEMO,
        _memo_key,
        ensure_session_confs,
        memo_put,
    )

    ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    tag = "events_ns:" + ",".join(cols)
    key = _memo_key(spark, path, tag)
    cached = _RELATION_MEMO.get(key)
    if cached is not None:
        return cached
    ev = spark.read.parquet(path)
    ts_dtype = dict(ev.dtypes)["ts"]
    if ts_dtype.startswith("timestamp"):
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    elif ts_dtype == "bigint":
        ts_ns = F.col("ts") - F.col("ts") % F.lit(1000)
    else:
        raise TypeError(f"events.ts: unsupported dtype {ts_dtype!r}")
    out = ev.select(*cols, ts_ns.alias("ts_ns"))
    return memo_put(spark, path, tag, out, key=key)


#: shared first-touch funnel stage CTEs (ev/s1/s2/s3) — ONE definition
#: for both funnel oracles, mirroring the Spark-side _funnel_stage_times
_FUNNEL_STAGES_SQL = """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) * 1000 AS ts_ns FROM events),
s1 AS (SELECT user_id, min(ts_ns) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts_ns) AS t2 FROM ev e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts_ns > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts_ns) AS t3 FROM ev e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts_ns > s2.t2 GROUP BY e.user_id)"""


@query(
    "event_funnel",
    _FUNNEL_STAGES_SQL
    + """,
c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2),
c3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s3)
SELECT CAST(1 AS BIGINT) AS step_ord, 'view' AS step, c1.n AS n_users,
       1.0 AS conv_from_top FROM c1
UNION ALL
SELECT 2, 'click', c2.n, CAST(c2.n AS DOUBLE) / c1.n FROM c1, c2
UNION ALL
SELECT 3, 'purchase', c3.n, CAST(c3.n AS DOUBLE) / c1.n FROM c1, c3""",
)
def event_funnel(spark, sf_dir):
    """Strictly-ordered conversion funnel (first view → later click →
    later purchase): each stage is one user-keyed aggregate joined to
    the previous stage's first-touch time — user-hash shuffles only;
    the three stage counts are sanctioned 1-row scalar aggregates
    composed by a 3-row union."""
    s1, s2, s3 = _funnel_stage_times(spark, sf_dir)
    c1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    top = c1.select(
        F.lit(1).cast("long").alias("step_ord"),
        F.lit("view").alias("step"),
        F.col("n1").alias("n_users"),
        F.lit(1.0).alias("conv_from_top"),
    )
    mid = c2.crossJoin(F.broadcast(c1)).select(
        F.lit(2).cast("long").alias("step_ord"),
        F.lit("click").alias("step"),
        F.col("n2").alias("n_users"),
        (F.col("n2").cast("double") / F.col("n1")).alias("conv_from_top"),
    )
    bot = c3.crossJoin(F.broadcast(c1)).select(
        F.lit(3).cast("long").alias("step_ord"),
        F.lit("purchase").alias("step"),
        F.col("n3").alias("n_users"),
        (F.col("n3").cast("double") / F.col("n1")).alias("conv_from_top"),
    )
    return top.unionAll(mid).unionAll(bot)


@query(
    "cohort_retention",
    f"""
WITH ev AS (
  SELECT user_id, (epoch_us(ts) * 1000) // {DAY_NS} AS day FROM events
),
ud AS (SELECT DISTINCT user_id, day FROM ev),
coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
SELECT c.cohort_day, CAST(u.day - c.cohort_day AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM ud u JOIN coh c USING (user_id)
GROUP BY c.cohort_day, day_offset""",
)
def cohort_retention(spark, sf_dir):
    """Daily cohort retention triangle (the classic D30 matrix): users
    grouped by first-activity epoch day, counted in each later day
    they return. Pure integer day arithmetic (ts_ns DIV day-ns) —
    exact in both engines; two user-keyed aggregates + one join, no
    windows."""
    ev = _events_ns(spark, sf_dir)
    ud = ev.select(
        "user_id", F.expr(f"ts_ns DIV {DAY_NS}").alias("day")
    ).distinct()
    coh = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(coh, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _funnel_stage_times(spark, sf_dir):
    """(user_id, t1[, t2[, t3]]) first-touch frames shared by
    event_funnel and funnel_latency: s1 = first view, s2 = first click
    strictly after it, s3 = first purchase strictly after that.

    s1/s2 are not pinned: with materialization paid inside the timed
    region the persist round-trip loses to the parallel recompute on
    BOTH consumers — event_funnel keep 0.45 s vs unpinned 0.39 s, cut
    0.40 s; funnel_latency keep 0.45 s vs unpinned 0.37 s, cut 0.43 s.
    Same conclusion as the cohort_retention A/B: a user-scale
    materialization round-trip costs more than re-running the
    event-scale stage aggregates on idle cores. §5 memory note for
    100 TB deployments: if the event table no longer fits the cluster's
    parallel-recompute budget, pin s2 (the twice-referenced frame) with
    ``cache.cut``."""
    ev = _events_ns(spark, sf_dir)
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts_ns") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts_ns") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )
    return s1, s2, s3


@query(
    "funnel_latency",
    _FUNNEL_STAGES_SQL
    + """,
l1 AS (SELECT s2.t2 - s1.t1 AS lat FROM s1 JOIN s2 USING (user_id)),
l2 AS (SELECT s3.t3 - s2.t2 AS lat FROM s2 JOIN s3 USING (user_id))
SELECT 'view_to_click' AS hop, CAST(count(*) AS BIGINT) AS n_users,
       avg(lat) / 1e9 AS mean_sec,
       quantile_cont(lat, 0.5) / 1e9 AS p50_sec,
       quantile_cont(lat, 0.9) / 1e9 AS p90_sec
FROM l1
UNION ALL
SELECT 'click_to_purchase', CAST(count(*) AS BIGINT),
       avg(lat) / 1e9, quantile_cont(lat, 0.5) / 1e9, quantile_cont(lat, 0.9) / 1e9
FROM l2""",
)
def funnel_latency(spark, sf_dir):
    """Time-to-convert distribution per funnel hop: exact interpolated
    percentiles of the first-touch latencies (int64 ns diffs — the
    percentile parity), one 2-row summary."""
    s1, s2, s3 = _funnel_stage_times(spark, sf_dir)
    l1 = s1.join(s2, "user_id").select((F.col("t2") - F.col("t1")).alias("lat"))
    l2 = s2.join(s3, "user_id").select((F.col("t3") - F.col("t2")).alias("lat"))

    def summ(df, hop):
        return df.agg(
            F.lit(hop).alias("hop"),
            F.count(F.lit(1)).alias("n_users"),
            (F.avg("lat") / 1e9).alias("mean_sec"),
            (F.percentile("lat", F.lit(0.5)) / 1e9).alias("p50_sec"),
            (F.percentile("lat", F.lit(0.9)) / 1e9).alias("p90_sec"),
        )

    return summ(l1, "view_to_click").unionAll(summ(l2, "click_to_purchase"))


@query(
    "rfm_segments",
    f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) * 1000 AS ts_ns, value
  FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT max(ts_ns) AS now_ns FROM ev),
rfm AS (
  SELECT user_id,
         CAST((mx.now_ns - max(ev.ts_ns)) // {DAY_NS} AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(ev.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(ev.value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS monetary
  FROM ev CROSS JOIN mx
  GROUP BY user_id, mx.now_ns
),
q AS (
  SELECT *,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS r_q,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_q,
         ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_q
  FROM rfm
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q, CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       sum(monetary) AS monetary
FROM q GROUP BY r_q, f_q, m_q""",
)
def rfm_segments(spark, sf_dir):
    """RFM segmentation (recency/frequency/monetary quintiles over
    purchase events) aggregated to the segment grid — the classic
    product-analytics cohorting. The ntile windows run over the USER
    table (one row per purchasing user — k-row scale, a sanctioned
    bounded ordered window like the per-day tables), never over the
    event stream; deterministic tie-breaks by user_id."""
    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_type", "value")).where(
        F.col("event_type") == "purchase"
    )
    mx = ev.agg(F.max("ts_ns").alias("now_ns"))
    # monetary ranks on EXACT integer cents (values are 2-decimal;
    # HALF_UP to cents is deterministic, integer sums are
    # order-independent) — a float sum's last-ulp summation-order
    # differences could flip quintile membership near a boundary
    rfm = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "now_ns")
        .agg(
            F.max("ts_ns").alias("last_ns"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("_cents"),
        )
        .select(
            "user_id",
            F.expr(f"(now_ns - last_ns) DIV {DAY_NS}").alias("recency_days"),
            "frequency",
            "_cents",
            (F.col("_cents").cast("double") / 100).alias("monetary"),
        )
    )
    from pyspark.sql import Window

    q = (
        rfm.withColumn(
            "r_q",
            F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), "user_id")).cast("long"),
        )
        .withColumn(
            "f_q",
            F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), "user_id")).cast("long"),
        )
        .withColumn(
            "m_q",
            F.ntile(5).over(Window.orderBy(F.col("_cents").desc(), "user_id")).cast("long"),
        )
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("monetary").alias("monetary")
    )


MINUTE_NS = 60_000_000_000


@query(
    "error_rate_spikes",
    f"""
WITH ev AS (SELECT event_type, epoch_us(ts) * 1000 AS ts_ns FROM events),
m AS (
  SELECT (ts_ns // {MINUTE_NS}) * {MINUTE_NS} AS minute_ns,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM ev GROUP BY 1
),
p AS (SELECT *, (n_errors * 1000000) // n_events AS ppm FROM m),
r AS (
  SELECT *,
         sum(ppm) OVER (ORDER BY minute_ns ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING) AS s1,
         sum(ppm * ppm) OVER (ORDER BY minute_ns ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING) AS s2,
         row_number() OVER (ORDER BY minute_ns) AS rn
  FROM p
),
zc AS (
  SELECT *,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / 30.0) / 29.0) AS sd,
         CAST(s1 AS DOUBLE) / 30.0 AS mu
  FROM r WHERE rn > 30
)
SELECT minute_ns, n_events, n_errors,
       CAST(ppm AS DOUBLE) / 1000000.0 AS err_rate,
       (ppm - mu) / sd AS z
FROM zc
WHERE sd > 0 AND (ppm - mu) / sd >= 2.0""",
)
def error_rate_spikes(spark, sf_dir):
    """Operational anomaly detection on the event stream: per-minute
    error rate vs a trailing 30-minute rolling baseline, flag minutes
    ≥ 2σ above it. The ordered window runs over the MINUTE table (one
    row per minute — the sanctioned bounded k-row ordered-window class,
    like feat_daily_gap), never the event stream; at scale the minute
    rollup is one hash aggregate with map-side combine."""
    from pyspark.sql import Window

    ev = _events_ns(spark, sf_dir)
    m = (
        ev.groupBy(
            (F.expr(f"ts_ns DIV {MINUTE_NS}") * MINUTE_NS).alias("minute_ns")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        # rates in EXACT integer ppm, baseline from exact int64 window
        # sums: float avg/stddev window aggregation associates
        # differently between engines (segment-tree vs sequential
        # frames), so a z within ulps of the 2.0 cut could flip row
        # membership — with integer s1/s2 every downstream double is
        # bit-identical
        .withColumn("ppm", F.expr("(n_errors * 1000000) DIV n_events"))
    )
    w = Window.orderBy("minute_ns").rowsBetween(-30, -1)
    wr = Window.orderBy("minute_ns")
    r = (
        m.withColumn("s1", F.sum("ppm").over(w))
        .withColumn("s2", F.sum(F.col("ppm") * F.col("ppm")).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") > 30)
        .withColumn("mu", F.col("s1").cast("double") / 30.0)
        .withColumn(
            "sd",
            F.sqrt(
                (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / 30.0)
                / 29.0
            ),
        )
    )
    return (
        r.where(F.col("sd") > 0)
        .withColumn("z", (F.col("ppm") - F.col("mu")) / F.col("sd"))
        .where(F.col("z") >= 2.0)
        .select(
            "minute_ns",
            "n_events",
            "n_errors",
            (F.col("ppm").cast("double") / 1e6).alias("err_rate"),
            "z",
        )
    )


@query(
    "session_path_topk",
    f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) * 1000 AS ts_ns FROM events
),
g AS (
  SELECT *, CASE WHEN ts_ns - lag(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
                     > {SESSION_GAP_NS} OR lag(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL
                 THEN 1 ELSE 0 END AS new_sess
  FROM ev
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
),
p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts_ns, event_id) AS path
  FROM s GROUP BY user_id, session_id
),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
FROM c QUALIFY rank <= 20""",
)
def session_path_topk(spark, sf_dir):
    """Top-20 session paths (ordered event-type sequences within the
    30-min-gap sessions) — the navigation-pattern mining classic. The
    per-session path is an ordered collect bounded by session length;
    path counting is one hash aggregate and the top-k a true
    TakeOrderedAndProject (per-partition top-20 partials, no global
    exchange of the path table) + a 20-row re-rank."""
    from pyspark.sql import Window

    # event_id is needed for deterministic ordering ties
    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_id", "event_type"))
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("ts_ns").over(w)
    s = ev.withColumn(
        "new_sess",
        F.when(prev.isNull() | ((F.col("ts_ns") - prev) > SESSION_GAP_NS), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    p = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts_ns", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    c = p.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    # TakeOrderedAndProject over the unbounded distinct-path aggregate,
    # then re-rank the 20 survivors — replaces a global row_number()
    # window that single-partitioned every distinct session path; the
    # re-rank window is bounded at 20 rows.
    top = c.orderBy(F.col("n_sessions").desc(), F.col("path")).limit(20)
    wr = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))
