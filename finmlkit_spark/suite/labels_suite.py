"""Triple-Barrier labeling + sample-weight queries (SURVEY.md §2.7).

Events = every 97th trade of the events stream; target = constant 0.5
log-return barrier; vertical barrier = 2 h. The whole pipeline
(labels → concurrency → uniqueness → attribution → decay → balance) is
SQL-expressible, so every stage gets a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..operators import labels as L
from ..sources.tables import _memo_key, register_memo
from ..sources.trades import EVENTS_TRADES_CTE, events_to_trades
from ._registry import query

H_NS = 7_200_000_000_000  # 2h vertical barrier
TARGET = 0.5
EV_MOD = 97
HOUR_NS = 3_600_000_000_000

_TRADES = "WITH " + EVENTS_TRADES_CTE.strip()

# labels pipeline prefix: trades -> events -> range join -> barrier agg -> lab
_LAB = (
    _TRADES
    + f""",
ev AS (
  SELECT trade_id AS event_id, ts_ns AS event_ts_ns, price AS entry_price,
         {TARGET} AS target, ts_ns + {H_NS} AS vert_ts_ns
  FROM trades WHERE trade_id % {EV_MOD} = 0
),
j AS (
  SELECT e.event_id, e.event_ts_ns, e.entry_price, e.target, e.vert_ts_ns,
         t.ts_ns, ln(t.price / e.entry_price) AS r
  FROM ev e JOIN trades t
    ON t.ts_ns > e.event_ts_ns AND t.ts_ns <= e.vert_ts_ns
),
jw AS (
  SELECT *,
         min(CASE WHEN r >= target OR r <= -target THEN ts_ns END)
             OVER (PARTITION BY event_id) AS touch0,
         max(ts_ns) OVER (PARTITION BY event_id) AS t1_ts
  FROM j
),
a AS (
  SELECT event_id, event_ts_ns, target,
         min(CASE WHEN r >= target THEN ts_ns END) AS up_ts,
         min(CASE WHEN r <= -target THEN ts_ns END) AS dn_ts,
         max(ts_ns) AS last_ts,
         arg_max(r, ts_ns) AS last_ret,
         arg_min(r, CASE WHEN r >= target THEN ts_ns END) AS up_ret,
         arg_min(r, CASE WHEN r <= -target THEN ts_ns END) AS dn_ret,
         coalesce(max(CASE WHEN r > 0 AND ts_ns <= coalesce(touch0, t1_ts)
                           THEN r / target END), 0.0) AS max_urbr,
         coalesce(max(CASE WHEN r < 0 AND ts_ns <= coalesce(touch0, t1_ts)
                           THEN r / (-target) END), 0.0) AS max_lrbr
  FROM jw GROUP BY event_id, event_ts_ns, target
),
lab AS (
  SELECT event_id, event_ts_ns,
         CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN 1
              WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN -1
              ELSE 0 END AS label,
         CAST(CASE WHEN sign(CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ret
                        WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ret
                        ELSE coalesce(last_ret, 0.0) END) <> 0
              THEN sign(CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ret
                        WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ret
                        ELSE coalesce(last_ret, 0.0) END)
              ELSE 1 END AS INT) AS label_sign,
         CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ts
              WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ts
              ELSE last_ts END AS touch_ts_ns,
         CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ret
              WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ret
              ELSE coalesce(last_ret, 0.0) END AS touch_ret,
         CASE WHEN (CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ts
                         WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ts
                         ELSE last_ts END) = last_ts
              THEN CASE WHEN (CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ret
                                   WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ret
                                   ELSE coalesce(last_ret, 0.0) END) > 0
                        THEN least(max_urbr / (1 + max_lrbr), 1.0)
                        ELSE least(max_lrbr / (1 + max_urbr), 1.0) END
              ELSE 1.0 END AS barrier_ratio
  FROM a
)
"""
)

# concurrency over the trade stream from labeled spans
_CONC = (
    _LAB
    + """,
mk AS (
  SELECT event_ts_ns AS ts_ns, 1 AS delta, 0 AS prio FROM lab
  UNION ALL
  SELECT touch_ts_ns + 1 AS ts_ns, -1 AS delta, 0 AS prio FROM lab
),
uni AS (
  SELECT ts_ns, delta, prio FROM mk
  UNION ALL
  SELECT ts_ns, 0 AS delta, 1 AS prio FROM trades
),
cc AS (
  SELECT ts_ns, prio,
         sum(delta) OVER (ORDER BY ts_ns, prio ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM uni
),
conc AS (SELECT ts_ns, CAST(c AS BIGINT) AS c FROM cc WHERE prio = 1)
"""
)

_UNIQ = (
    _CONC
    + """,
uq AS (
  SELECT l.event_id, l.event_ts_ns, avg(1.0 / c.c) AS uniqueness
  FROM lab l JOIN conc c
    ON c.ts_ns >= l.event_ts_ns AND c.ts_ns <= l.touch_ts_ns
  GROUP BY l.event_id, l.event_ts_ns
)
"""
)


def _spark_events(trades: DataFrame) -> DataFrame:
    return trades.where(F.col("trade_id") % EV_MOD == 0).select(
        F.col("trade_id").alias("event_id"),
        F.col("ts_ns").alias("event_ts_ns"),
        F.col("price").alias("entry_price"),
        F.lit(TARGET).alias("target"),
    )


def _labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = events_to_trades(spark, sf_dir)
    return L.triple_barrier(_spark_events(tr), tr, H_NS, bucket_ns=HOUR_NS)


#: session-scoped memo of the label-spans cut — the derived-table analog
#: of the source-relation memo (sources/tables.py): six labels-tier
#: queries build the identical triple-barrier spans frame, and each
#: fresh build pays ~0.2 s of tbm SQL analysis plus ~0.4 s of
#: localCheckpoint physical planning (measured at sf0.1). The
#: frame is deterministic in (applicationId, sf_dir) — same staleness
#: convention as the source memo (the external driver regenerates
#: testdata only between sessions); entry value is (spans, n_events),
#: counted once at fill time (reads the just-materialized checkpoint
#: blocks). The memo holds a strong reference, so cache.release_all()
#: between bench queries drops only the _CUT registry ref — the blocks
#: (3 narrow columns, ~1 row per 97 trades) stay pinned for the session.
#: The key folds in the events table's mtime (captured BEFORE the spans
#: build) so an in-session testdata rewrite re-derives the spans in
#: lockstep with the source memo; registered with tables.memo_clear so
#: one call flushes both layers.
_SPANS_MEMO: dict[tuple, tuple[DataFrame, int]] = register_memo({})


def _trades_spans(spark: SparkSession, sf_dir: str):
    """(trades, spans-behind-a-cut, n_events) — the weight queries'
    inputs; the sweeps fuse concurrency into their own pass."""
    key = _memo_key(spark, f"{sf_dir}/events.parquet", "labels_spans")
    tr = events_to_trades(spark, sf_dir)
    hit = _SPANS_MEMO.get(key)
    if hit is not None:
        return tr, hit[0], hit[1]
    # storage boundary: spans (3 narrow columns, ~1 row per 97 trades)
    # feed both the sweep's markers and its chunk offsets — without it
    # the whole triple-barrier range join + agg runs twice per action
    # cache.cut, not keep: every sweep/concurrency op stacked on spans
    # re-analyzes the whole triple-barrier subtree JVM-side; the
    # LogicalRDD truncation saves ~2 s of build per consumer query (and
    # ~1 s at bench cadence even though, unlike keep, fresh builds do
    # not CacheManager-match — measured across the four variants)
    spans = cache.cut(
        _labels(spark, sf_dir).select("event_id", "event_ts_ns", "touch_ts_ns")
    )
    n = spans.count()  # materializes the checkpoint: memo hits are plan-free
    while len(_SPANS_MEMO) > 8:  # a session touches a handful of sf dirs
        _SPANS_MEMO.pop(next(iter(_SPANS_MEMO)))
    _SPANS_MEMO[key] = (spans, n)
    return tr, spans, n


def _uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, event_ts_ns, uniqueness) over the label spans."""
    tr, spans, _n = _trades_spans(spark, sf_dir)
    return L.average_uniqueness_sweep(spans, tr, chunk_ns=HOUR_NS)


def _attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, event_ts_ns, attribution) over the label spans. The
    per-trade r is the side-frame lag (``chunked_side_frame``): at scale
    its chunk-parallel mode keeps the plan SinglePartition-free, with
    the cross-chunk previous price on the carry table; below the
    crossover auto mode picks the global window, bit-identical either
    way."""
    from ..operators import preprocess as P

    tr, spans, _n = _trades_spans(spark, sf_dir)
    d, w = P.chunked_side_frame(tr)
    r = F.log(
        F.col("price") / F.coalesce(F.lag("price").over(w), F.col("_prev_last_p"))
    )
    return L.return_attribution_sweep(spans, d.select("ts_ns", r.alias("r")), chunk_ns=HOUR_NS)


@query("tbm_labels", _LAB + "SELECT event_id, event_ts_ns, label, label_sign, touch_ts_ns, touch_ret, barrier_ratio FROM lab")
def tbm_labels(spark, sf_dir):
    """Triple Barrier labels via bucketed range join (tbm.py:11-158)."""
    return _labels(spark, sf_dir)


TARGET_M = 0.02  # tighter barriers so the meta query mixes touch/vertical
MINC_NS = 600_000_000_000  # 10 min minimum open time
MIN_RET = 0.0005


@query(
    "tbm_meta",
    _TRADES
    + f""",
ev2 AS (
  SELECT trade_id AS event_id, ts_ns AS event_ts_ns, price AS entry_price,
         {TARGET_M} AS target, ts_ns + {H_NS} AS vert_ts_ns,
         CASE WHEN (trade_id // {EV_MOD}) % 2 = 0 THEN 1 ELSE -1 END AS side
  FROM trades WHERE trade_id % {EV_MOD} = 0
),
j2 AS (
  SELECT e.event_id, e.event_ts_ns, e.target, t.ts_ns,
         e.side * ln(t.price / e.entry_price) AS r,
         (t.ts_ns - e.event_ts_ns) >= {MINC_NS} AS el
  FROM ev2 e JOIN trades t
    ON t.ts_ns > e.event_ts_ns AND t.ts_ns <= e.vert_ts_ns
),
jw2 AS (
  SELECT *,
         min(CASE WHEN el AND (r >= target OR r <= -target) THEN ts_ns END)
             OVER (PARTITION BY event_id) AS touch0,
         max(ts_ns) OVER (PARTITION BY event_id) AS t1_ts
  FROM j2
),
a2 AS (
  SELECT event_id, event_ts_ns, target,
         min(CASE WHEN el AND r >= target THEN ts_ns END) AS up_ts,
         min(CASE WHEN el AND r <= -target THEN ts_ns END) AS dn_ts,
         max(ts_ns) AS last_ts,
         arg_max(CASE WHEN el THEN r END, CASE WHEN el THEN ts_ns END) AS last_el_ret,
         arg_min(r, CASE WHEN el AND r >= target THEN ts_ns END) AS up_ret,
         arg_min(r, CASE WHEN el AND r <= -target THEN ts_ns END) AS dn_ret,
         coalesce(max(CASE WHEN el AND r > 0 AND ts_ns <= coalesce(touch0, t1_ts)
                           THEN r / target END), 0.0) AS max_urbr,
         coalesce(max(CASE WHEN el AND r < 0 AND ts_ns <= coalesce(touch0, t1_ts)
                           THEN r / (-target) END), 0.0) AS max_lrbr
  FROM jw2 GROUP BY event_id, event_ts_ns, target
),
m AS (
  SELECT event_id, event_ts_ns, max_urbr, max_lrbr, last_ts,
         CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ts
              WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ts
              ELSE last_ts END AS touch_ts_ns,
         CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ret
              WHEN dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) THEN dn_ret
              ELSE coalesce(last_el_ret, 0.0) END AS touch_ret
  FROM a2
)
SELECT event_id, event_ts_ns,
       CASE WHEN touch_ret >= {MIN_RET} THEN 1 ELSE 0 END AS label,
       CAST(CASE WHEN sign(touch_ret) <> 0 THEN sign(touch_ret) ELSE 1 END AS INT) AS label_sign,
       touch_ts_ns, touch_ret,
       CASE WHEN touch_ts_ns = last_ts
            THEN CASE WHEN touch_ret > 0
                      THEN least(max_urbr / (1 + max_lrbr), 1.0)
                      ELSE least(max_lrbr / (1 + max_urbr), 1.0) END
            ELSE 1.0 END AS barrier_ratio
FROM m""",
)
def tbm_meta(spark, sf_dir):
    """Meta-labeling Triple Barrier (tbm.py:19-21,34-36,139-140): a given
    per-event side flips the return sign, labels become {0,1} vs min_ret,
    and a 10-minute minimum open time gates the path walk."""
    tr = events_to_trades(spark, sf_dir)
    ev = tr.where(F.col("trade_id") % EV_MOD == 0).select(
        F.col("trade_id").alias("event_id"),
        F.col("ts_ns").alias("event_ts_ns"),
        F.col("price").alias("entry_price"),
        F.lit(TARGET_M).alias("target"),
        F.when((F.col("trade_id") / EV_MOD).cast("long") % 2 == 0, 1)
        .otherwise(-1)
        .alias("side"),
    )
    return L.triple_barrier(
        ev, tr, H_NS, bucket_ns=HOUR_NS,
        side_col="side", min_close_ns=MINC_NS, min_ret=MIN_RET,
    )


@query("event_concurrency", _CONC + "SELECT ts_ns, c FROM conc")
def event_concurrency(spark, sf_dir):
    """Sweep-line concurrency c(t) of open label spans (weights.py:7-49)."""
    tr, spans, _n = _trades_spans(spark, sf_dir)
    c = L.concurrency(spans, tr)
    return c.select("ts_ns", F.col("c").cast("long").alias("c"))


@query("avg_uniqueness", _UNIQ + "SELECT event_id, event_ts_ns, uniqueness FROM uq")
def avg_uniqueness(spark, sf_dir):
    """Average uniqueness = mean(1/c) over each event span (weights.py:7-49),
    read at each span's markers in one sweep of the trade stream."""
    return _uniqueness(spark, sf_dir)


@query(
    "return_attribution",
    _CONC
    + """,
tr_r AS (
  SELECT ts_ns, ln(price / lag(price) OVER (ORDER BY ts_ns, trade_id)) AS r
  FROM trades
),
trc AS (
  SELECT t.ts_ns, t.r, c.c FROM tr_r t JOIN conc c ON c.ts_ns = t.ts_ns
)
SELECT l.event_id, l.event_ts_ns, abs(sum(t.r / t.c)) AS attribution
FROM lab l JOIN trc t ON t.ts_ns >= l.event_ts_ns AND t.ts_ns <= l.touch_ts_ns
GROUP BY l.event_id, l.event_ts_ns""",
)
def return_attribution_q(spark, sf_dir):
    """Return attribution |Σ r/c| over each span (weights.py:52-103).

    Note: equal-µs trades each contribute their own r with the shared
    concurrency at that ts."""
    return _attribution(spark, sf_dir)


@query(
    "time_decay",
    _UNIQ
    + """,
td AS (
  SELECT event_id, event_ts_ns,
         sum(uniqueness) OVER (ORDER BY event_ts_ns, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u,
         sum(uniqueness) OVER () AS tot_u
  FROM uq
)
SELECT event_id, event_ts_ns,
       greatest(0.5 + 0.5 * cum_u / tot_u, 0.0) AS decay_weight
FROM td""",
)
def time_decay_q(spark, sf_dir):
    """Linear time-decay on cumulative uniqueness, last_weight=0.5
    (weights.py:106-142)."""
    return L.time_decay(_uniqueness(spark, sf_dir), last_weight=0.5)


@query(
    "class_balance",
    _UNIQ
    + """,
lw AS (
  SELECT l.event_id, l.event_ts_ns, l.label, u.uniqueness AS w
  FROM lab l JOIN uq u USING (event_id, event_ts_ns)
),
cls AS (
  SELECT label, sum(w) AS w_class FROM lw GROUP BY label
),
tot AS (
  SELECT sum(w) AS w_total, count(DISTINCT label) AS n_classes FROM lw
)
SELECT lw.event_id, lw.event_ts_ns, lw.label,
       lw.w * (tot.w_total / (tot.n_classes * cls.w_class)) AS balanced_w
FROM lw, tot JOIN cls ON lw.label = cls.label""",
)
def class_balance_q(spark, sf_dir):
    """Class-balance weights over uniqueness (weights.py:146-188)."""
    u = _uniqueness(spark, sf_dir)
    lab = _labels(spark, sf_dir).select("event_id", "label")
    lw = lab.join(u, "event_id").withColumnRenamed("uniqueness", "w")
    out = L.class_balance_weights(lw, "w")
    return out.select("event_id", "event_ts_ns", "label", "balanced_w")
