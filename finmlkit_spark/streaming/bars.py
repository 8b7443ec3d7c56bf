"""Structured Streaming surface (SURVEY.md §2.10).

The reference is batch-only; its "developing"/incremental kernels are
the state formulations we reuse here:

- time bars and sessions = event-time windows + watermark (late data
  beyond the watermark is dropped — the streaming analog of the
  reference's sorted-input assumption);
- the information-driven samplers (volume, imbalance, run and CUSUM
  bars, the CUSUM filter) = arbitrary stateful ops via
  ``applyInPandasWithState``.

Invariant: each stateful sampler IS its ``functions.sequential`` state
kernel run from the carried GroupState — :func:`_state_op` reads the
state (the batch kernel's initial state on a key's first batch), orders
the micro-batch once, calls the kernel, offsets its local bar ids by the
carried bar counter and stores the exit state. No recurrence has a
second per-row body here, so a stream equals the batch kernel over the
concatenated micro-batches in event-time order.

Two GroupState ops keep their own function: ``streaming_late_data_metrics``
reads rows in ARRIVAL order (its subject is disorder, which
``_ordered_batch`` would erase) and emits one summary row per batch, and
``streaming_funnel`` is keyed by user and emits its state in update
mode; neither is a ``sequential.py`` recurrence.

Batch/stream parity is tested by running the same input through both
paths (tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import sequential as S


def _ordered_batch(pdfs) -> pd.DataFrame:
    """Concatenate a group's Arrow chunks and sort ONCE by event time.

    A micro-batch larger than the Arrow batch size (default 10k rows)
    reaches the state function as SEVERAL chunks; sorting each chunk
    independently would feed the sequential state machines out-of-order
    rows at chunk boundaries (diverging from the batch kernels). Memory:
    buffers the group's micro-batch — the bound sequential semantics
    already imply. Returns an empty frame when the group has no rows."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return pd.DataFrame()
    out = pd.concat(chunks, ignore_index=True)
    # stable mergesort + id tiebreak: equal-timestamp rows must keep the
    # same deterministic order the batch kernels use (they disambiguate
    # by trade_id/event_id), or parity diverges under chunked arrival
    keys = ["ts_ns"] + [c for c in ("trade_id", "event_id") if c in out.columns]
    return out.sort_values(keys, kind="stable")


def streaming_time_bars(
    stream: DataFrame,
    interval: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling OHLCV bars over a trades stream with columns
    (ts timestamp, price, qty[, symbol]). Emits one row per closed window
    in append mode once the watermark passes.

    open/close are min_by/max_by on the ns timestamp — deterministic
    under out-of-order arrival within the watermark."""
    by = ["symbol"] if "symbol" in stream.columns else []
    w = stream.withWatermark(ts_col, watermark)
    return w.groupBy(*by, F.window(ts_col, interval).alias("win")).agg(
        F.min_by("price", ts_col).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", ts_col).alias("close"),
        F.sum("qty").alias("volume"),
        (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("vwap"),
        F.count("*").alias("trades"),
    )


def streaming_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Event-time session windows per symbol (native ``session_window``):
    the streaming form of the batch gaps-and-islands sessionization
    (``suite.multiuser_suite.user_sessions``). A session closes when no
    event arrives within ``gap``; late data beyond the watermark drops.
    """
    w = stream.withWatermark(ts_col, watermark)
    return w.groupBy("symbol", F.session_window(ts_col, gap).alias("win")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("price") * F.col("qty")).alias("session_value"),
    )


def _state_op(
    stream: DataFrame,
    kernel: Callable[[pd.DataFrame, tuple], tuple],
    state0: tuple,
    state_schema: str,
    out: str = "bar_id long",
) -> DataFrame:
    """The GroupState adapter of the sequential samplers, per symbol.

    ``kernel(pdf, entry) -> (values, exit, count)`` is the chunk-stitch
    contract (``sequential._ChunkStitch``): it replays one ordered
    micro-batch from ``entry`` and returns one value per row, the exit
    state and the bars it closed. The GroupState is ``state_schema``
    plus the running ``bar_id`` counter; a key's first batch enters at
    ``state0``. Emits (symbol, ts, ``out``) per row, with the values
    offset by the counter."""
    col = out.split()[0]

    def fn(key: tuple, pdfs: Any, state: GroupState):
        *entry, base = state.get if state.exists else (*state0, 0)
        pdf = _ordered_batch(pdfs)
        if len(pdf):
            values, exit_, count = kernel(pdf, tuple(entry))
            state.update((*exit_, base + count))
            yield pd.DataFrame({"symbol": key[0], "ts": pdf["ts_ns"].to_numpy(), col: values + base})

    return stream.groupBy("symbol").applyInPandasWithState(
        fn,
        outputStructType=f"symbol string, ts long, {out}",
        stateStructType=f"{state_schema}, bar_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _log_returns(price: np.ndarray, last: float) -> np.ndarray:
    """log(p_t / p_{t−1}) against the carried last price — the batch
    kernels' returns: NaN at a NaN price (and at the stream's first
    row), ±inf at a zero one."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.log(price / np.concatenate(([last], price[:-1])))


def streaming_volume_bars(stream: DataFrame, threshold: float) -> DataFrame:
    """Exact-reset volume bar assignment per symbol:
    ``sequential.volume_bar_state`` from the carried (running volume,
    bar counter). Output (symbol, ts, bar_id)."""

    def kernel(pdf, entry):
        ids, cum, bars = S.volume_bar_state(pdf["qty"].to_numpy(np.float64), threshold, *entry)
        return ids, (cum,), bars

    return _state_op(stream, kernel, (0.0,), "cum double")


def streaming_imbalance_bars(
    stream: DataFrame, ewma_span: float = 100.0, init_expected: float = 100.0
) -> DataFrame:
    """Volume-imbalance bar assignment per symbol (AFML §2.3.2.1,
    beyond-reference): ``sequential.imbalance_bar_state`` from the
    carried (theta, expected, bar counter)."""

    def kernel(pdf, entry):
        ids, *exit_, bars = S.imbalance_bar_state(
            pdf["side"].to_numpy(np.float64), pdf["qty"].to_numpy(np.float64), ewma_span, *entry
        )
        return ids, exit_, bars

    return _state_op(stream, kernel, (0.0, float(init_expected)), "theta double, expected double")


def streaming_run_bars(
    stream: DataFrame, ewma_span: float = 100.0, init_expected: float = 100.0
) -> DataFrame:
    """Volume-run bar assignment per symbol (AFML §2.3.2.2):
    ``sequential.run_bar_state`` from the carried (buy, sell, expected,
    bar counter)."""

    def kernel(pdf, entry):
        ids, *exit_, bars = S.run_bar_state(
            pdf["side"].to_numpy(np.float64), pdf["qty"].to_numpy(np.float64), ewma_span, *entry
        )
        return ids, exit_, bars

    return _state_op(
        stream, kernel, (0.0, 0.0, float(init_expected)),
        "buy double, sell double, expected double",
    )


LATE_STATE_SCHEMA = "max_ts long, n_total long, n_late_total long"
LATE_OUT_SCHEMA = (
    "symbol string, batch_max_ts_ns long, n_rows long, n_out_of_order long, "
    "n_late long, n_late_total long, max_lag_ns long"
)


def streaming_late_data_metrics(
    stream: DataFrame, lateness_ns: int, ts_col: str = "ts_ns"
) -> DataFrame:
    """Dropped-late / watermark-lag metrics stream (SURVEY §2.10) — the
    streaming analog of the reference's timestamp-order and gap integrity
    report (``data_model.py:294-324``).

    Emits one row per (symbol, micro-batch):

    - ``n_out_of_order``: rows behind the running per-symbol max event
      time (any regression — the reference's out-of-order count);
    - ``n_late`` / ``n_late_total``: rows more than ``lateness_ns``
      behind it — exactly the rows a downstream watermarked aggregation
      with the matching delay would silently drop, surfaced instead of
      lost;
    - ``max_lag_ns``: worst observed event-time regression, for sizing
      the watermark.

    Run it as a second sink next to ``streaming_time_bars`` (same source,
    two queries): the bar query keeps its exactly-once append output, and
    this one makes the drop behavior observable. State per symbol is three
    scalars, so the operator adds no meaningful state pressure."""

    def fn(key, pdfs, state: GroupState):
        max_ts, n_total, n_late_total = state.get if state.exists else (-(2**62), 0, 0)
        n_rows = n_ooo = n_late = 0
        batch_max = max_ts
        max_lag = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pdf[ts_col].to_numpy(dtype=np.int64)
            # running max INCLUDING earlier rows of this batch: prefix
            # cummax seeded with the carried state
            run_max = np.maximum.accumulate(np.concatenate(([max_ts], ts)))[:-1]
            lag = run_max - ts
            n_rows += len(ts)
            n_ooo += int((lag > 0).sum())
            n_late += int((lag > lateness_ns).sum())
            max_lag = max(max_lag, int(lag.max()) if len(lag) else 0)
            max_ts = max(max_ts, int(ts.max()))
            batch_max = max_ts
        n_total += n_rows
        n_late_total += n_late
        state.update((max_ts, n_total, n_late_total))
        yield pd.DataFrame(
            [
                (
                    key[0],
                    int(batch_max),
                    int(n_rows),
                    int(n_ooo),
                    int(n_late),
                    int(n_late_total),
                    int(max_lag),
                )
            ],
            columns=[
                "symbol",
                "batch_max_ts_ns",
                "n_rows",
                "n_out_of_order",
                "n_late",
                "n_late_total",
                "max_lag_ns",
            ],
        )

    return stream.groupBy("symbol").applyInPandasWithState(
        fn,
        outputStructType=LATE_OUT_SCHEMA,
        stateStructType=LATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum_filter(stream: DataFrame, threshold: float) -> DataFrame:
    """Symmetric CUSUM event filter per symbol:
    ``sequential.cusum_filter_state`` over the log returns against the
    carried last price, from the carried (sp, sn). Emits only the
    flagged rows, (symbol, ts, flag = 1)."""

    def kernel(pdf, entry):
        last, sp, sn = entry
        price = pdf["price"].to_numpy(np.float64)
        r = _log_returns(price, last)
        flags, sp, sn = S.cusum_filter_state(r, np.full(len(r), float(threshold)), sp, sn)
        return flags, (price[-1], sp, sn), 0

    out = _state_op(
        stream, kernel, (float("nan"), 0.0, 0.0),
        "last_price double, sp double, sn double", out="flag int",
    )
    return out.where(F.col("flag") == 1)


def streaming_cusum_bars(
    stream: DataFrame,
    mult: float = 3.0,
    floor_thr: float = 1e-4,
    halflife_ns: float = 1_800_000_000_000.0,
) -> DataFrame:
    """CUSUM *bar* assignment with the EWMST-adaptive threshold per
    symbol (reference ``bar/logic.py:152-221``: threshold =
    max(mult·σ_t, floor), σ_t a time-decay EW std of log returns):
    ``sequential.cusum_adaptive_bar_state`` over the log returns against
    the carried last price. The state is scalars only — last price,
    EWMST moments with the exact int64 ``prev_t`` anchor and NaN-carry
    std, CUSUM (sp, sn, last σ) and the bar counter — so it stays bounded
    however long the stream runs. ``ts_ns`` must be ≥ 0 (the EWMST
    no-sample sentinel)."""

    def kernel(pdf, entry):
        last, *ent = entry
        ts = pdf["ts_ns"].to_numpy(np.int64)
        price = pdf["price"].to_numpy(np.float64)
        ids, *exit_, bars = S.cusum_adaptive_bar_state(
            ts, _log_returns(price, last), mult, floor_thr, halflife_ns, *ent
        )
        return ids, (price[-1], *exit_), bars

    state0 = (float("nan"), *S.EWMST_STATE0, 0.0, 0.0, float(floor_thr))
    return _state_op(
        stream, kernel, state0,
        "last_price double, V double, V2 double, Sy double, Syy double, prev_t long, "
        "last_out double, sp double, sn double, last_sig double",
    )


FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long"
FUNNEL_OUT_SCHEMA = "user_id long, t1 long, t2 long, t3 long"


def streaming_funnel(
    stream: DataFrame, steps: tuple = ("view", "click", "purchase")
) -> DataFrame:
    """Stateful first-touch funnel per user — the streaming form of the
    batch ``event_funnel`` (suite.multiuser_suite): the state machine
    advances a stage when the NEXT step's event arrives strictly after
    the previous stage's first-touch time, exactly the batch
    min-after-min semantics under in-order delivery (the same ordered
    contract as the sequential bar state machines; `_ordered_batch`
    restores order within a micro-batch, cross-batch late data is the
    documented watermark tradeoff). State per user = 3 int64 epoch-ns
    times (-1 = stage not reached), emitted each micro-batch the user
    appears in (update mode) — the stages only ever advance, so a
    max-per-user read of the sink gives the final funnel."""

    def fn(key, pdfs, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        pdf = _ordered_batch(pdfs)
        if len(pdf):
            for ts, et in zip(pdf["ts_ns"], pdf["event_type"]):
                ts = int(ts)
                if et == steps[0]:
                    if t1 < 0:
                        t1 = ts
                elif et == steps[1]:
                    if t1 >= 0 and ts > t1 and t2 < 0:
                        t2 = ts
                elif et == steps[2]:
                    if t2 >= 0 and ts > t2 and t3 < 0:
                        t3 = ts
        state.update((t1, t2, t3))
        yield pd.DataFrame(
            [(key[0], t1, t2, t3)], columns=["user_id", "t1", "t2", "t3"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bars_store_sink(
    bars: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "win",
):
    """Wire a streaming bar frame (``streaming_time_bars`` output) into
    the incremental bar store: every micro-batch upserts into the
    monthly-partitioned parquet via ``bars_io.upsert_time_bars``.

    Run the stream in UPDATE output mode: each micro-batch emits the
    windows it changed, and the upsert's batch-wins-per-bar-key merge
    means the store always converges to the final aggregate — a window
    updated across five micro-batches is rewritten five times in its
    monthly partition and ends bit-equal to the batch build. Because
    the upsert is idempotent, a replayed micro-batch after a restart
    (or a re-run with a fresh checkpoint over the same source) cannot
    duplicate or corrupt bars — end-to-end effectively-once without a
    transactional table format. Work per micro-batch scales with the
    months the batch touches (for live ingest: one).

    Returns the started ``StreamingQuery``; callers await it. The
    ``win`` struct column is flattened to the store's canonical
    ``bar_close_ns`` long key."""
    from ..sources.bars_io import upsert_time_bars

    flat = bars.withColumn(
        "bar_close_ns", F.unix_micros(F.col(ts_col)["end"]) * F.lit(1000)
    ).drop(ts_col)

    def _sink(df: DataFrame, epoch_id: int) -> None:
        upsert_time_bars(df, path)

    return (
        flat.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
