"""Storage-layer queries (SURVEY.md §2.1): bar re-aggregation (the
materialized-table read path) + the store inspector, plus the CUSUM bar
sampler (§2.3 parity; exact recursive-CTE oracle on hourly bars)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import arrow
from ..functions import sequential as S
from ..sources import bars_io as IO
from ..sources.trades import EVENTS_TRADES_CTE, events_to_trades
from ._registry import query
from .features_suite import _B, MIN_NS, bars_1m
from .sequential_suite import _BH

Q15_NS = 900_000_000_000


@query(
    "bars_resample_15m",
    _B
    + f""",
bm AS (
  SELECT b.*, t2.med FROM b JOIN (
    SELECT bar_close_ns, median(qty) AS med FROM t GROUP BY bar_close_ns
  ) t2 USING (bar_close_ns)
),
ck AS (
  SELECT *, (CAST(floor((bar_close_ns - 1) / {Q15_NS}) AS BIGINT) + 1) * {Q15_NS} AS c
  FROM bm
),
cw AS (
  SELECT *,
         sum(trades) OVER (PARTITION BY c ORDER BY med, bar_close_ns
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(trades) OVER (PARTITION BY c) AS totw
  FROM ck
)
SELECT c AS bar_close_ns,
       arg_min(open, cw.bar_close_ns) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, cw.bar_close_ns) AS close,
       sum(volume) AS volume,
       CAST(sum(trades) AS BIGINT) AS trades,
       sum(vwap * volume) / (CASE WHEN sum(volume) > 0 THEN sum(volume) END) AS vwap,
       min(CASE WHEN cumw * 2 >= totw THEN med END) AS med_wm
FROM cw GROUP BY c""",
)
def bars_resample_15m(spark, sf_dir):
    """Re-aggregate the materialized 1m bars to 15m (TimeBarReader
    ``_resample`` ``io.py:890-950``): volume-weighted vwap recombination
    + the reference's exact trade-count-weighted median (sort+cumsum)."""
    # per-fine-bar median trade size (as the reference stores) rides the
    # SAME aggregation — a separate with_time_bar + groupBy + join
    # would pay a second trades pass and an extra exchange; and
    # seq=False skips the global-window brn/r this query only dropped
    fine = bars_1m(spark, sf_dir, seq=False, median_size=True).drop("first_ts_ns")
    return IO.resample_bars(fine, Q15_NS, median_col="med")


# shared by store_inspector (on-demand scan) and store_meta_sidecar
# (write-time _meta round-trip) — both must report the same stats
_INSPECTOR_SQL = (
    "WITH "
    + EVENTS_TRADES_CTE.strip()
    + """,
m AS (
  SELECT *, strftime(DATE '1970-01-01'
           + CAST(floor(ts_ns / 86400000000000) AS BIGINT) * INTERVAL 1 DAY, '%Y-%m') AS year_month
  FROM trades
),
g AS (
  SELECT *, ts_ns - lag(ts_ns) OVER (PARTITION BY year_month ORDER BY ts_ns) AS gap
  FROM m
)
SELECT year_month,
       count(*) AS n_rows,
       min(ts_ns) AS first_ts_ns,
       max(ts_ns) AS last_ts_ns,
       max(gap) AS max_gap_ns,
       CAST(sum(CASE WHEN gap > 3600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
FROM g GROUP BY year_month"""
)


@query("store_inspector", _INSPECTOR_SQL)
def store_inspector_q(spark, sf_dir):
    """Partition metadata report (H5Inspector analog ``io.py:35-308``)."""
    tr = events_to_trades(spark, sf_dir)
    return IO.store_inspector(tr, "ts_ns")


@query("store_meta_sidecar", _INSPECTOR_SQL)
def store_meta_sidecar(spark, sf_dir):
    """Write-time metadata/integrity sidecar round-trip (reference
    ``data_model.py:449-574``: /meta + /integrity groups persisted at
    store time): write the trades store's ``_meta`` parquet sidecar,
    then answer the H5Inspector report by READING IT BACK — k rows, no
    rescan. The oracle recomputes the same stats from the raw table, so
    the sidecar's content is what the gate checks."""
    import os
    import tempfile

    tr = events_to_trades(spark, sf_dir)
    # deterministic per-process path, not mkdtemp: bench builds each
    # query several times per run and a fresh dir per build leaked a
    # sidecar copy each time; parquet overwrite makes re-use safe.
    path = os.path.join(
        tempfile.gettempdir(), f"fmk_store_meta_{os.getpid()}"
    )
    IO.write_store_meta(tr, path, ts_col="ts_ns")
    return IO.read_store_meta(spark, path)


@query(
    "store_upsert",
    "WITH "
    + EVENTS_TRADES_CTE.strip()
    + f""",
t AS (
  SELECT *, (CAST(floor(ts_ns / {60_000_000_000}) AS BIGINT) + 1) * {60_000_000_000} AS bar_close_ns
  FROM trades
)
SELECT bar_close_ns,
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
FROM t GROUP BY bar_close_ns""",
)
def store_upsert_q(spark, sf_dir):
    """Incremental-ingest round-trip (``bars_io.upsert_time_bars``, the
    daily-ingest form of the materialized store): build the 1m bars,
    materialize the store from every bar but the final week, upsert a
    batch holding that week PLUS a 3-day replay of already-stored bars
    (batch-wins merge — replays and corrections are safe), and answer
    from the store read back. The oracle is the plain 1m OHLCV
    aggregate over all trades, so the gate proves the incremental path
    converges to the one-shot build value-for-value. Work per upsert
    scales with the touched monthly partitions, never the store
    (untouched months' files stay byte-identical — pinned by mtime in
    the unit test)."""
    import os
    import tempfile

    from ..operators import bars as B
    from .bars_suite import _ohlcv_cols, _trades

    df = B.with_time_bar(_trades(spark, sf_dir), MIN_NS)
    bars = _ohlcv_cols(B.bar_ohlcv(df, key="bar_close_ns"), "bar_close_ns")
    # materialize the bar table ONCE (one eager checkpoint job): the
    # max-probe, the base-store write, the batch's month-probe and the
    # upsert merge all derive from it — without this cut each of those
    # actions re-runs the full trades scan + 1m aggregation (4 passes;
    # the checkpoint lives only inside this query's timed run, every
    # invocation still computes from parquet)
    bars = bars.localCheckpoint()
    mx = bars.agg(F.max("bar_close_ns")).collect()[0][0]  # one scalar
    day_ns = 86_400_000_000_000
    cut_ns = mx - 7 * day_ns  # base = all but the last week
    overlap_ns = 3 * day_ns  # batch replays 3 stored days (no-op merge)
    base = bars.where(F.col("bar_close_ns") < cut_ns)
    batch = bars.where(F.col("bar_close_ns") >= cut_ns - overlap_ns)
    # deterministic per-process path (see store_meta_sidecar note)
    path = os.path.join(tempfile.gettempdir(), f"fmk_store_upsert_{os.getpid()}")
    IO.materialize_time_bars(base, path, write_meta=False)
    IO.upsert_time_bars(batch, path, write_meta=False)
    return spark.read.parquet(path).drop("year_month")


_CB_HL_NS = 30 * 60_000_000_000
_CB_LAM = __import__("math").log(2.0) / _CB_HL_NS
_CB_MULT = 5.0
_CB_FLOOR = 0.5


# Oracle shape note: one recursion carrying the full (EWMST + CUSUM)
# state with ~15 chained lateral aliases took ~7.5 s — DuckDB re-inlines
# each alias reference, so the sigma/threshold/trigger chains blow up
# into a large duplicated expression tree per iteration. Splitting into
# two SIMPLE recursions (EWMST state, then the CUSUM machine over a
# materialized per-row threshold) is ~8x faster with bit-identical
# output: sigma is a pure per-row function of the carried state, and
# the NaN-carry in both kernels collapses into one last-non-null fill.
_CUSUM_BARS_SQL = (
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, bm AS MATERIALIZED (SELECT brn, bar_close_ns, r FROM b),
st AS (
  SELECT brn, CAST(0.0 AS DOUBLE) AS v, CAST(0.0 AS DOUBLE) AS v2,
         CAST(0.0 AS DOUBLE) AS sy, CAST(0.0 AS DOUBLE) AS syy,
         CAST(NULL AS BIGINT) AS prev_t
  FROM bm WHERE brn = 1
  UNION ALL
  SELECT brn2,
         CASE WHEN r2 IS NULL THEN v ELSE 1.0 + d * v END,
         CASE WHEN r2 IS NULL THEN v2 ELSE 1.0 + d * d * v2 END,
         CASE WHEN r2 IS NULL THEN sy ELSE r2 + d * sy END,
         CASE WHEN r2 IS NULL THEN syy ELSE r2 * r2 + d * syy END,
         CASE WHEN r2 IS NULL THEN prev_t ELSE t2 END
  FROM (
    SELECT nb.brn AS brn2, nb.bar_close_ns AS t2, nb.r AS r2,
           st.v, st.v2, st.sy, st.syy, st.prev_t,
           CASE WHEN nb.r IS NULL THEN NULL
                WHEN st.prev_t IS NULL THEN 1.0
                ELSE exp(-{_CB_LAM!r} * (nb.bar_close_ns - st.prev_t)) END AS d
    FROM st JOIN bm nb ON nb.brn = st.brn + 1
  )
),
thrt AS MATERIALIZED (
  SELECT brn, bar_close_ns, x,
         greatest({_CB_MULT!r} * coalesce(
           last_value(sraw IGNORE NULLS) OVER (ORDER BY brn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           {_CB_FLOOR!r}), {_CB_FLOOR!r}) AS thr
  FROM (
    SELECT bm.brn, bm.bar_close_ns, coalesce(bm.r, 0.0) AS x,
           CASE WHEN bm.r IS NULL OR NOT (st.v * st.v > st.v2) THEN NULL
                ELSE sqrt(greatest(st.syy / st.v - (st.sy / st.v) * (st.sy / st.v), 0.0)
                          * (st.v * st.v) / (st.v * st.v - st.v2)) END AS sraw
    FROM bm JOIN st USING (brn)
  )
),
cm AS (
  SELECT brn, bar_close_ns, CAST(0 AS BIGINT) AS bar_id,
         CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn,
         CAST(0 AS BIGINT) AS nxt
  FROM thrt WHERE brn = 1
  UNION ALL
  SELECT brn2, t2, nxt0,
         CASE WHEN trig THEN 0.0 ELSE nsp END,
         CASE WHEN trig THEN 0.0 ELSE nsn END,
         CASE WHEN trig THEN nxt0 + 1 ELSE nxt0 END
  FROM (
    SELECT brn2, t2, nxt0, nsp, nsn, (nsp >= t OR nsn <= -t) AS trig
    FROM (
      SELECT nb.brn AS brn2, nb.bar_close_ns AS t2, nb.thr AS t,
             cm.nxt AS nxt0,
             greatest(0.0, cm.sp + nb.x) AS nsp,
             least(0.0, cm.sn + nb.x) AS nsn
      FROM cm JOIN thrt nb ON nb.brn = cm.brn + 1
    )
  )
)
SELECT bar_close_ns, bar_id FROM cm"""
)


@query("seq_cusum_bars", _CUSUM_BARS_SQL)
def seq_cusum_bars(spark, sf_dir):
    """CUSUM bar sampler with adaptive threshold max(mult·σ, floor)
    (reference ``logic.py:152-221``) on hourly bars; σ = time-decay EW
    std of log returns (halflife 30 min).

    The oracle is an exact WITH RECURSIVE replay carrying the full EWMST
    state (V, V2, Sy, Syy, prev_t) plus the CUSUM machine (sp, sn,
    last_sig, bar): exp/sqrt are bit-identical between glibc (Python
    kernel) and DuckDB, and every arithmetic step is written in the same
    order on both sides, so bar ids match exactly."""
    from .sequential_suite import bars_1h

    bars = bars_1h(spark, sf_dir)

    def kernel(c):
        t, r = c["bar_close_ns"], c["r"]
        sigma = S.ewmst(t, r, _CB_HL_NS)
        ids = S.cusum_bar_ids(r, sigma, mult=_CB_MULT, floor_thr=_CB_FLOOR)
        return {"bar_close_ns": t, "bar_id": ids}

    return arrow.groups(bars, None, kernel, "bar_close_ns long, bar_id long", order=("bar_close_ns",))


@query("seq_cusum_bars_chunked", _CUSUM_BARS_SQL)
def seq_cusum_bars_chunked(spark, sf_dir):
    """The same adaptive CUSUM bar indexer via the fused chunk
    stitch (sequential.cusum_adaptive_bars_chunked): the EWMST moments
    (V, V2, Sy, Syy, exact int64 prev_t, NaN-carry std) and the CUSUM
    machine (sp, sn, last_sig) ride ONE per-chunk entry state, chained
    on the driver to a fixed point — 2-day chunks span ~96 sigma
    halflives, so chunk exits are entry-independent by exact float
    absorption and the stitch lands in 2-3 rounds. Bit-identical to the
    sequential composition, checked against the same recursive-CTE
    oracle."""
    from .sequential_suite import DAY_NS, bars_1h

    bars = bars_1h(spark, sf_dir)
    return S.cusum_adaptive_bars_chunked(
        bars, mult=_CB_MULT, floor_thr=_CB_FLOOR, halflife_ns=_CB_HL_NS,
        r_col="r", order_col="bar_close_ns", chunk_ns=2 * DAY_NS,
    )
