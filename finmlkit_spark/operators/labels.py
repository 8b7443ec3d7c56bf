"""Event sampling, Triple Barrier labeling, sample weights (SURVEY.md §2.7).

Behavior parity with the reference's ``finmlkit/label`` package
(``tbm.py:11-158``, ``kit.py:12-477``, ``weights.py:7-188``), expressed
Spark-first:

- triple barrier = bucketed range join (events × trades within the
  vertical-barrier horizon) + one conditional aggregation per event —
  no per-event Python loop, scales with the shuffle;
- concurrency/uniqueness/attribution = sweep-line: +1/−1 markers
  unioned into the trade stream, running-sum windows, and each span's
  sums read at its own two markers (:func:`span_sweep`);
- time decay / class balance = window cumsum + broadcast joins.

All operators take a ``by`` symbol column implicitly via the caller's
partitioning of events/trades (events for one symbol join that symbol's
trades); the range join is bucketed to bound fan-out at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions.prefix import exclusive_prefix, local_prefix, ordered_sum
from ..functions.sqlstage import sql_stage


def triple_barrier(
    events: DataFrame,
    trades: DataFrame,
    horizon_ns: int,
    pt_mult: float = 1.0,
    sl_mult: float = 1.0,
    bucket_ns: int | None = None,
    side_col: str | None = None,
    min_close_ns: int = 0,
    min_ret: float = 0.0,
) -> DataFrame:
    """Triple Barrier Method (reference ``tbm.py:11-158``).

    ``events``: (event_id, event_ts_ns, entry_price, target[, side]) —
    target is the log-return barrier half-width (e.g. a volatility
    estimate). Walks the price path in (event_ts, event_ts + horizon]:
    label +1 if the +pt_mult·target log-return barrier is touched first,
    −1 for the −sl_mult·target barrier, 0 if neither before the vertical
    barrier.

    Reference-parity knobs (``tbm.py:19-21,34-36``):

    - ``side_col``: meta-labeling. Returns are computed as
      side·log(price/entry) (``tbm.py:103,116``) and ``label`` becomes
      the {0,1} meta label: 1 iff the terminal return ≥ ``min_ret``
      (``tbm.py:139-140``).
    - ``min_close_ns``: minimum open time — path rows closer than this
      to the event are skipped entirely (no touch, no ratio update, no
      return; ``tbm.py:111-114``).
    - ``barrier_ratio`` replicates ``max_rb_ratios`` (``tbm.py:146-156``):
      exactly 1.0 when a horizontal barrier is touched before the
      vertical index; on a vertical touch, max_urbr/(1+max_lrbr) for a
      positive terminal return (max_lrbr/(1+max_urbr) otherwise), capped
      at 1.0, where max_urbr/max_lrbr are the per-side maximum
      return/barrier ratios accumulated up to the touch row; NULL when
      the relevant barrier is disabled (inf/0 — ref emits NaN).

    Tie-break deviation (documented): the reference walks rows in array
    index order, so equal-timestamp trades are ordered; here the touch
    row is resolved at timestamp granularity (all trades sharing the
    first-touch timestamp count toward the ratio accumulators).

    Per event the output is: label (±1/0, or {0,1} meta), label_sign
    (sign of terminal return, 0→+1, ``tbm.py:141-143``), touch_ts_ns,
    touch_ret, barrier_ratio.

    Plan shape: one server-parsed SQL stage. It must stay one: the
    SQL text is analyzed once per build, where an op-chained form
    re-analyzes the deep trades subtree per op (~0.5 s of JVM analysis
    per build), and it yields the same Catalyst expressions, so the
    output bits are the same (differential-tested). The path walk
    itself stays a pure bucketed join + hash aggregate: the reference breaks the walk at the first
    touch, but that prefix truncation is OBSERVATIONALLY IRRELEVANT —
    max_urbr/max_lrbr feed barrier_ratio only in the
    ``touch_ts == last_ts`` branch (no touch, or a touch on the path's
    final row), where "rows up to the touch" already means every
    eligible row; a strictly-earlier touch lands in the 1.0 branch and
    the accumulators are discarded. So no per-event window pre-pass:
    partial (map-side) aggregation collapses the joined path rows
    before the shuffle and only ~|events| combine buffers move.
    """
    is_meta = side_col is not None
    side_sql = side_col if is_meta else "1"
    # float() first: repr of a plain float is shortest-round-trip (the
    # string parses back to the identical double in any engine); a
    # numpy scalar's repr ('np.float64(2.0)') would CAST to NULL and
    # silently disable the barriers
    pt = f"CAST('{float(pt_mult)!r}' AS DOUBLE)"
    sl = f"CAST('{float(sl_mult)!r}' AS DOUBLE)"
    mr = f"CAST('{float(min_ret)!r}' AS DOUBLE)"
    inf = "CAST('Infinity' AS DOUBLE)"
    # NOTE: this SQL mirrors joins.range_join's bucketed range join
    # (same floor(ts/bucket) assignment, same start-exclusive /
    # end-inclusive residual, base.py:363-377) — the convention lives in
    # both places because this operator is one server-parsed stage; a
    # semantic change to range_join must be mirrored here (and
    # vice versa — test_tbm_parity differential-covers both forms).
    if bucket_ns is not None:
        bn = int(bucket_ns)
        join_sql = f"""
lb AS (
  SELECT ev.*, explode(sequence(floor(event_ts_ns / {bn}), floor(vert_ts_ns / {bn}))) AS _bucket
  FROM ev
),
rb AS (SELECT ts_ns, price, floor(ts_ns / {bn}) AS _bucket FROM {{trades}}),
j AS (
  SELECT lb.event_id, lb.event_ts_ns, lb.entry_price, lb.target,
         lb.vert_ts_ns, lb.side, rb.ts_ns, rb.price
  FROM lb JOIN rb ON lb._bucket = rb._bucket
  WHERE rb.ts_ns > lb.event_ts_ns AND rb.ts_ns <= lb.vert_ts_ns
)"""
    else:
        join_sql = """
j AS (
  SELECT ev.event_id, ev.event_ts_ns, ev.entry_price, ev.target,
         ev.vert_ts_ns, ev.side, t.ts_ns, t.price
  FROM ev JOIN {trades} t
    ON t.ts_ns > ev.event_ts_ns AND t.ts_ns <= ev.vert_ts_ns
)"""
    label_sql = (
        f"CASE WHEN touch_ret >= {mr} THEN 1 ELSE 0 END"
        if is_meta
        else "CASE WHEN up_first THEN 1 WHEN dn_first THEN -1 ELSE 0 END"
    )
    sql = f"""
WITH ev AS (
  SELECT event_id, event_ts_ns, entry_price, target,
         event_ts_ns + {int(horizon_ns)} AS vert_ts_ns, {side_sql} AS side
  FROM {{events}}
),{join_sql},
jr AS (
  SELECT *,
         side * ln(price / entry_price) AS _r,
         (ts_ns - event_ts_ns) >= {int(min_close_ns)} AS _el,
         target * {pt} AS _up,
         -target * {sl} AS _dn
  FROM j
),
je AS (
  SELECT *,
         (abs(_up) <> {inf}) AND (_up <> 0.0e0) AND NOT isnan(_up) AS _upv,
         (abs(_dn) <> {inf}) AND (_dn <> 0.0e0) AND NOT isnan(_dn) AS _dnv
  FROM jr
),
a AS (
  SELECT event_id, event_ts_ns, entry_price, target, vert_ts_ns, side,
         min(CASE WHEN _el AND _r >= _up THEN ts_ns END) AS up_ts,
         min(CASE WHEN _el AND _r <= _dn THEN ts_ns END) AS dn_ts,
         max(ts_ns) AS last_ts,
         max_by(CASE WHEN _el THEN _r END, CASE WHEN _el THEN ts_ns END) AS last_el_ret,
         min_by(_r, CASE WHEN _el AND _r >= _up THEN ts_ns END) AS up_ret,
         min_by(_r, CASE WHEN _el AND _r <= _dn THEN ts_ns END) AS dn_ret,
         coalesce(max(CASE WHEN _el AND _r > 0 AND _upv THEN _r / _up END), 0.0e0) AS max_urbr,
         coalesce(max(CASE WHEN _el AND _r < 0 AND _dnv THEN _r / _dn END), 0.0e0) AS max_lrbr,
         first(_upv) AS up_valid,
         first(_dnv) AS dn_valid
  FROM je
  GROUP BY event_id, event_ts_ns, entry_price, target, vert_ts_ns, side
),
m AS (
  SELECT *,
         up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) AS up_first,
         dn_ts IS NOT NULL AND (up_ts IS NULL OR dn_ts < up_ts) AS dn_first
  FROM a
),
t AS (
  SELECT *,
         CASE WHEN up_first THEN up_ts
              WHEN dn_first THEN dn_ts
              ELSE last_ts END AS touch_ts_ns,
         CASE WHEN up_first THEN up_ret
              WHEN dn_first THEN dn_ret
              ELSE coalesce(last_el_ret, 0.0e0) END AS touch_ret
  FROM m
)
SELECT event_id, event_ts_ns,
       {label_sql} AS label,
       CAST(CASE WHEN sign(touch_ret) <> 0 THEN sign(touch_ret) ELSE 1.0e0 END AS INT) AS label_sign,
       touch_ts_ns, touch_ret,
       CASE WHEN touch_ts_ns = last_ts
            THEN CASE WHEN touch_ret > 0
                      THEN CASE WHEN up_valid
                                THEN least(max_urbr / (1.0e0 + max_lrbr), 1.0e0) END
                      ELSE CASE WHEN dn_valid
                                THEN least(max_lrbr / (1.0e0 + max_urbr), 1.0e0) END END
            ELSE 1.0e0 END AS barrier_ratio
FROM t
"""
    ev_cols = ["event_id", "event_ts_ns", "entry_price", "target"] + (
        [side_col] if is_meta else []
    )
    return sql_stage(
        sql,
        events=events.select(*ev_cols),
        trades=trades.select("ts_ns", "price"),
    )


#: time-chunk width of :func:`concurrency`'s running sum (one hour)
_CONC_CHUNK_NS = 3_600_000_000_000


def _markers(spans: DataFrame) -> DataFrame:
    """``(ts_ns, delta)``: +1 at each span's start, −1 just past its end."""
    m = F.explode(F.array(
        F.struct(F.col("event_ts_ns").alias("ts_ns"), F.lit(1).alias("delta")),
        F.struct((F.col("touch_ts_ns") + 1).alias("ts_ns"), F.lit(-1).alias("delta")),
    ))
    return spans.select(m.alias("m")).select("m.*")


def _span_offsets(spans: DataFrame, ck: int) -> DataFrame:
    """``(_ck, _doff)`` from ``spans`` alone: for each chunk
    ``floor(ts / ck)`` between the first and the last marker's, spans
    opened minus closed in all strictly earlier chunks. The ±1 deltas
    sum to 0, so a chunk off this axis has offset 0."""
    per = _markers(spans).groupBy(
        F.floor(F.col("ts_ns") / F.lit(ck)).alias("_ck")
    ).agg(F.sum("delta").alias("_dt"))
    axis = per.select(F.explode(F.sequence(F.min("_ck"), F.max("_ck"))).alias("_ck"))
    # a chunk without markers joins a NULL delta, which the prefix sums as 0
    return exclusive_prefix(axis.join(per, "_ck", "left"), "_ck", sums={"_doff": "_dt"})


def concurrency(spans: DataFrame, trades: DataFrame) -> DataFrame:
    """c(t): number of open event spans at each trade ts (sweep line,
    reference ``weights.py:7-49``). ``spans``: (event_ts_ns, touch_ts_ns).

    Markers sort before trades at equal ts, so a span [s, e] is active for
    trades with s <= t <= e.

    c is exact: the in-chunk running Σdelta plus the chunk's offset from
    :func:`_span_offsets`. Trades carry delta 0, so the offsets need no
    trade and the trade stream is read once, never on one partition.
    """
    tr = trades.select("ts_ns", F.lit(0).alias("delta"), F.lit(1).alias("prio"))
    u = _markers(spans).withColumn("prio", F.lit(0)).unionByName(tr).withColumn(
        "_ck", F.floor(F.col("ts_ns") / F.lit(_CONC_CHUNK_NS))
    )
    w_in = (
        Window.partitionBy("_ck")
        .orderBy("ts_ns", "prio")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("_cum_in", F.sum("delta").over(w_in))
    off = _span_offsets(spans, _CONC_CHUNK_NS)
    c = u.join(F.broadcast(off), "_ck", "left").withColumn(
        "c", F.coalesce(F.col("_doff"), F.lit(0)) + F.col("_cum_in")
    )
    return c.where(F.col("prio") == 1).select("ts_ns", "c")


#: span_sweep's driver gate: at or below this many rows (2 per event +
#: 1 per time-chunk head, ≈ 40 MB of narrow rows at the bound) the sweep
#: summary is collected and the pivot runs in numpy; above it the summary
#: stays cluster-side behind a lineage cut. Both sides return
#: bit-identical rows.
SWEEP_DRIVER_MAX_ROWS = 600_000


def span_sweep(
    spans: DataFrame,
    trades: DataFrame,
    val_col: str | None = None,
    chunk_ns: int = 3_600_000_000_000,
) -> DataFrame:
    """Per-event (Σ val/c, trade count) over each span in ONE sweep of
    the trade stream — the fused core behind
    ``average_uniqueness_sweep`` (val ≡ 1) and
    ``return_attribution_sweep`` (val = per-trade log return), with no
    per-(event, trade) interval join. Returns
    ``(event_id, event_ts_ns, s_span, n_span)``; null ``val`` rows
    contribute nothing to ``s_span`` (matching a SQL SUM) but do count
    in ``n_span``.

    Every per-span aggregate of a prefix-summable quantity is a
    difference of running sums read AT the span's own sweep markers:
    with S(t) = Σ_{trades ≤ t} 1/c(t) and N(t) the running trade count,

        uniqueness_i = (S(e_i) − S(s_i−)) / (N(e_i) − N(s_i−)),

    and the +1/−1 markers (prio 0, sorted before same-ts trades) sit at
    exactly s_i− and e_i. The whole computation is one consumer chain —
    no subtree is referenced twice, so nothing data-scale is persisted
    or recomputed:

    1. per-chunk concurrency offsets come from the SPANS table alone
       (:func:`_span_offsets`: ±1 deltas per chunk over the dense chunk
       axis, through the one exclusive prefix);
    2. one exchange+sort of (trades ∪ markers) by time chunk feeds a
       first window pass (in-chunk running Σdelta and the chunk-head
       row number), a broadcast join of the offsets (c = exact integer),
       and a second window pass in the SAME partitioning/order (no new
       exchange or sort): in-chunk running S and N plus full-frame
       per-chunk S/N totals;
    3. only marker rows and chunk-head rows survive the filter
       (2·|events| + k rows); chunk-head rows carry the per-chunk S/N
       totals into a key-order prefix (cross-chunk offsets), markers
       read their offset + in-chunk running value, and a per-event
       pivot of the two markers emits the quotient.

    Driver gate (:func:`cache.collect_if_small`): a summary of at most
    ``SWEEP_DRIVER_MAX_ROWS`` rows is pivoted in numpy
    (:func:`_sweep_pivot_driver`), a larger one in SQL over its lineage
    cut; the sweep executes once either way, and the two pivots return
    bit-identical rows (pinned by test).

    Scale: the trade stream crosses the wire ONCE (the chunk exchange).
    S is a prefix-sum difference, so values match a per-span fold at
    the reassociation floor (~1e-13 rel after cancellation).

    The sweep order is ``(ts_ns, _prio, _val)``: equal-ts trades share
    one c but may carry different values, and ordering them by value
    makes each running sum one fixed fold, whatever order the chunk
    exchange delivers them in.
    """
    ck = int(chunk_ns)
    val_expr = val_col if val_col is not None else "1.0"
    # -- (1) + (2): one server-parsed SQL stage (one JVM analysis pass,
    # SCALE.md item 10). The spans frame is read by one lateral-view
    # expansion and callers pass it through a storage boundary, so the
    # read is a bounded re-scan. Null _val → null term → skipped by SUM.
    small_sql = f"""
WITH mk AS (
  SELECT event_id, event_ts_ns,
         CASE WHEN _is_start = 1 THEN event_ts_ns ELSE touch_ts_ns + 1 END AS ts_ns,
         CASE WHEN _is_start = 1 THEN 1 ELSE -1 END AS _delta,
         0 AS _prio, _is_start,
         CAST(NULL AS DOUBLE) AS _val
  FROM {{spans}} LATERAL VIEW explode(array(1, 0)) AS _is_start
),
u AS (
  SELECT *, floor(ts_ns / {ck}) AS _ck FROM (
    SELECT * FROM mk
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS event_ts_ns,
           ts_ns, 0 AS _delta, 1 AS _prio, CAST(NULL AS INT) AS _is_start,
           CAST(({val_expr}) AS DOUBLE) AS _val
    FROM {{trades}}
  )
),
w1 AS (
  SELECT *,
         sum(_delta) OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cd,
         row_number() OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val) AS _rn
  FROM u
),
terms AS (
  SELECT /*+ BROADCAST(doff) */ w1.*,
         CASE WHEN _prio = 1 AND coalesce(doff._doff, 0) + w1._cd > 0
              THEN _val / (coalesce(doff._doff, 0) + w1._cd) END AS _s_term,
         CASE WHEN _prio = 1 THEN 1 ELSE 0 END AS _n_term
  FROM w1 LEFT JOIN {{doff}} doff ON w1._ck = doff._ck
),
w2 AS (
  SELECT *,
         coalesce(sum(_s_term) OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0d) AS _s_in,
         sum(_n_term) OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _n_in,
         coalesce(sum(_s_term) OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 0.0d) AS _s_tot,
         sum(_n_term) OVER (PARTITION BY _ck ORDER BY ts_ns, _prio, _val
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _n_tot
  FROM terms
)
SELECT event_id, event_ts_ns, _is_start, _prio, _rn, _ck,
       _s_in, _n_in, _s_tot, _n_tot
FROM w2 WHERE _prio = 0 OR _rn = 1
"""
    # storage boundary: the pivot reads the summary twice (chunk heads
    # and markers), and without one each reference would re-run the
    # whole sweep (plans are trees — no automatic reuse). The cut also
    # truncates the analyzed plan, so the pivot re-analyzes a leaf.
    small, tbl = cache.collect_if_small(
        sql_stage(small_sql, spans=spans, trades=trades, doff=_span_offsets(spans, ck)),
        SWEEP_DRIVER_MAX_ROWS,
    )
    if tbl is not None:
        return _sweep_pivot_driver(spans.sparkSession, tbl)
    # -- (3) small-table machinery (2|events| + k rows): cross-chunk S/N
    # offsets over the k-row chunk-head table, markers read offset +
    # in-chunk running value, and a per-event pivot of the two markers
    # emits the span sums. The offsets stay a k-row ordered window, not
    # prefix.exclusive_prefix: this pivot must equal the driver pivot
    # bit for bit at any k, and the two-level prefix reassociates the
    # float S fold at its group boundaries.
    piv_sql = f"""
WITH heads AS (
  SELECT _ck, _s_tot, _n_tot FROM {{small}} WHERE _rn = 1
),
soff AS (
  SELECT _ck,
         coalesce(sum(_s_tot) OVER (ORDER BY _ck
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0d) AS _soff,
         coalesce(sum(_n_tot) OVER (ORDER BY _ck
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _noff
  FROM heads
),
marks AS (
  SELECT /*+ BROADCAST(soff) */ m.*, soff._soff, soff._noff
  FROM (SELECT * FROM {{small}} WHERE _prio = 0) m
  JOIN soff ON m._ck = soff._ck
)
SELECT event_id, event_ts_ns,
       max(CASE WHEN _is_start = 0 THEN _soff + _s_in END)
         - max(CASE WHEN _is_start = 1 THEN _soff + _s_in END) AS s_span,
       max(CASE WHEN _is_start = 0 THEN _noff + _n_in END)
         - max(CASE WHEN _is_start = 1 THEN _noff + _n_in END) AS n_span
FROM marks GROUP BY event_id, event_ts_ns
"""
    return sql_stage(piv_sql, small=small)


def _sweep_pivot_driver(spark, tbl) -> DataFrame:
    """Driver side of :func:`span_sweep`'s stage (3): the chunk-head
    prefix + marker pivot over the collected summary ``tbl`` (a pyarrow
    table), in numpy with the SAME IEEE op sequence as the SQL pivot,
    replanted as a JVM LocalTableScan. Bit-identity with the SQL pivot
    (pinned by test):

    - cross-chunk offsets: the SQL ``sum() OVER (ORDER BY _ck ROWS
      UNBOUNDED PRECEDING TO 1 PRECEDING)`` is the sequential fold over
      the _ck-sorted heads, which is what ``prefix.local_prefix``
      computes;
    - per-marker value: ``_soff + _s_in`` — same two operands, one add;
    - per-event span: the SQL ``max(CASE WHEN _is_start...)`` picks the
      single non-null end/start value per event — here the literal
      end − start over the event's two marker rows.

    The numpy pivot is <1 ms at bounded sizes where the SQL pivot over
    a LocalTableScan costs 2-3 AQE jobs; Arrow keeps int64/float64 bits
    and NULLs exact in both directions."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # filter BEFORE to_numpy: the full table has NULL event ids on
    # chunk-head trade rows, and pyarrow converts nullable int64 to
    # float64 (lossy above 2^53 — event_ts_ns is ~1.6e18)
    heads = local_prefix(
        tbl.filter(pc.equal(tbl.column("_rn"), 1)),
        "_ck",
        {"_soff": "_s_tot", "_noff": "_n_tot"},
        {},
    )
    marks = tbl.filter(pc.equal(tbl.column("_prio"), 0))

    hk = heads.column("_ck").to_numpy()
    soff = heads.column("_soff").to_numpy()
    noff = heads.column("_noff").to_numpy()

    eid = marks.column("event_id").to_numpy()
    ets = marks.column("event_ts_ns").to_numpy()
    iss = marks.column("_is_start").to_numpy()
    mck = marks.column("_ck").to_numpy()
    pos = np.searchsorted(hk, mck)
    # bounds-check BEFORE dereferencing: pos == len(hk) (marker chunk
    # above every head) must raise the diagnostic, not an IndexError
    ok = (
        len(hk) > 0
        and bool((pos < len(hk)).all())
        and bool((hk[np.minimum(pos, len(hk) - 1)] == mck).all())
    )
    if len(mck) and not ok:
        raise RuntimeError("span_sweep: marker chunk missing its head row")
    val_s = soff[pos] + marks.column("_s_in").to_numpy()
    val_n = noff[pos] + marks.column("_n_in").to_numpy()

    # each event contributes exactly two marker rows (start _is_start=1,
    # end _is_start=0); sort pairs adjacent, end first
    order = np.lexsort((iss, ets, eid))
    eid, ets, iss = eid[order], ets[order], iss[order]
    val_s, val_n = val_s[order], val_n[order]
    ends, starts = slice(0, None, 2), slice(1, None, 2)
    if len(eid) % 2 or not (
        (iss[ends] == 0).all()
        and (iss[starts] == 1).all()
        and (eid[ends] == eid[starts]).all()
    ):
        raise RuntimeError("span_sweep: unpaired sweep markers")
    out = pa.table(
        {
            "event_id": pa.array(eid[ends], type=pa.int64()),
            "event_ts_ns": pa.array(ets[ends], type=pa.int64()),
            "s_span": pa.array(val_s[ends] - val_s[starts], type=pa.float64()),
            "n_span": pa.array(val_n[ends] - val_n[starts], type=pa.int64()),
        }
    )
    return spark.createDataFrame(out)


def average_uniqueness_sweep(
    spans: DataFrame,
    trades: DataFrame,
    chunk_ns: int = 3_600_000_000_000,
) -> DataFrame:
    """Per-event mean(1/c) over each span via :func:`span_sweep`
    (reference ``weights.py:7-49``): one exchange of the trade stream,
    no per-(event, trade) rows; an event whose span holds no trade is
    dropped."""
    s = span_sweep(spans, trades, val_col=None, chunk_ns=chunk_ns)
    return s.where(F.col("n_span") > 0).select(
        "event_id",
        "event_ts_ns",
        (F.col("s_span") / F.col("n_span")).alias("uniqueness"),
    )


def return_attribution_sweep(
    spans: DataFrame,
    trades_r: DataFrame,
    normalize: bool = False,
    chunk_ns: int = 3_600_000_000_000,
) -> DataFrame:
    """Per-event |Σ r/c| over each span via :func:`span_sweep`
    (reference ``weights.py:52-103``); ``trades_r``: ``(ts_ns, r)`` with
    r the per-trade log return (null on the first trade, skipped like
    SQL SUM). ``normalize`` scales the weights to mean 1
    (:func:`scale_to_mean_one`)."""
    s = span_sweep(spans, trades_r, val_col="r", chunk_ns=chunk_ns)
    out = s.where(F.col("n_span") > 0).select(
        "event_id", "event_ts_ns", F.abs(F.col("s_span")).alias("attribution")
    )
    return scale_to_mean_one(out, "attribution") if normalize else out


def scale_to_mean_one(df: DataFrame, col: str) -> DataFrame:
    """``df`` with ``col`` scaled to mean 1, as ``col · n / Σcol``. The
    sum is folded in value order, so no bit depends on partitioning."""
    c = F.col(col)
    tot = df.agg(ordered_sum(c, c, F.lit(0.0)).alias("_tot"), F.count(F.lit(1)).alias("_n"))
    return df.crossJoin(F.broadcast(tot)).withColumn(
        col, c * F.col("_n") / F.col("_tot")
    ).drop("_tot", "_n")


#: time-chunk width of :func:`time_decay`'s running sum (one day)
_DECAY_CHUNK_NS = 86_400_000_000_000

#: a chunk key after every real day chunk (event_ts_ns is int64)
_AFTER_LAST_CHUNK = 2**62


def time_decay(events_u: DataFrame, last_weight: float = 0.5) -> DataFrame:
    """Linear decay on cumulative uniqueness, newest weight 1.0, oldest
    ``last_weight`` (∈ [−1,1]), clipped at 0 (reference ``weights.py:106-142``).

    The cumulative uniqueness is one fold in ``(event_ts_ns, event_id)``
    order: an in-chunk running sum per day plus the chunk's offset, the
    exclusive prefix of the chunk totals (each the running sum at the
    chunk's last event). The grand total is that prefix past the last
    chunk, so no bit depends on how the input is partitioned.
    """
    df = events_u.withColumn("_ck", F.floor(F.col("event_ts_ns") / F.lit(_DECAY_CHUNK_NS)))
    w_in = (
        Window.partitionBy("_ck")
        .orderBy("event_ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = df.withColumn("_cum_in", F.sum("uniqueness").over(w_in))
    tot = df.groupBy("_ck").agg(
        F.max_by("_cum_in", F.struct("event_ts_ns", "event_id")).alias("_tot")
    )
    after = tot.sparkSession.range(1).select(F.lit(_AFTER_LAST_CHUNK).alias("_ck"), F.lit(0.0).alias("_tot"))
    off = exclusive_prefix(tot.unionByName(after), "_ck", sums={"_off": "_tot"})
    # the prefix past the last chunk is the grand total
    off = off.withColumn("_tot_u", F.max_by("_off", "_ck").over(Window.partitionBy()))
    df = df.join(F.broadcast(off), "_ck").withColumn(
        "cum_u", F.col("_off") + F.col("_cum_in")
    )
    decay = F.lit(last_weight) + (1.0 - last_weight) * F.col("cum_u") / F.col("_tot_u")
    return df.select(
        "event_id", "event_ts_ns", F.greatest(decay, F.lit(0.0)).alias("decay_weight")
    )


def class_balance_weights(labeled: DataFrame, weight_col: str = "w") -> DataFrame:
    """Per-class weight = total/(n_classes·Σw_class), applied to each event
    (reference ``weights.py:146-188``). Class table is tiny -> broadcast.
    Both sums are folded in value order, so no bit depends on
    partitioning.
    """
    w = F.col(weight_col)
    per_class = labeled.groupBy("label").agg(ordered_sum(w, w, F.lit(0.0)).alias("w_class"))
    tot = labeled.agg(
        ordered_sum(w, w, F.lit(0.0)).alias("w_total"), F.countDistinct("label").alias("n_classes")
    )
    scaled = per_class.crossJoin(F.broadcast(tot)).select(
        "label",
        (F.col("w_total") / (F.col("n_classes") * F.col("w_class"))).alias("class_weight"),
    )
    return labeled.join(F.broadcast(scaled), "label").withColumn(
        "balanced_w", F.col(weight_col) * F.col("class_weight")
    )
