"""Contract of the two size probes, ``cache.collect_if_small`` (the
driver gate) and ``cache.rows_at_most`` (the plan crossovers): the
upstream plan executes exactly once on either side of the bound, the
driver side receives every row, and the forced-distributed hook never
probes. The gated single-stream scans and the side window keep that
contract when their output feeds an action, and every single-stream
scale scan returns no rows, in its declared schema, on an empty input."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from finmlkit_spark import cache
from finmlkit_spark.functions import sequential as S
from finmlkit_spark.operators import bars as B
from finmlkit_spark.operators import preprocess as P

N = 20_000


def _counted(spark):
    """An N-row frame whose ``x`` column counts its evaluations in an
    accumulator — one tick per upstream row executed."""
    acc = spark.sparkContext.accumulator(0)

    def f(v):
        acc.add(1)
        return v * 2

    df = spark.range(0, N, numPartitions=4).withColumn("x", F.udf(f, "long")("id"))
    return df, acc


def test_below_bound_collects_once(spark):
    df, acc = _counted(spark)
    cut, tbl = cache.collect_if_small(df, N)
    assert tbl is not None and tbl.num_rows == N
    assert sorted(tbl["x"].to_pylist()) == [2 * i for i in range(N)]
    assert acc.value == N
    # the returned cut is the materialized checkpoint: reading it again
    # runs nothing upstream
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert acc.value == N


def test_above_bound_executes_once(spark):
    df, acc = _counted(spark)
    cut, tbl = cache.collect_if_small(df, 10)
    assert tbl is None
    assert acc.value == N  # the LIMIT probe materialized the whole cut
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert cut.count() == N
    assert acc.value == N


def test_forced_distributed_never_collects(spark, monkeypatch):
    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    df, acc = _counted(spark)
    cut, tbl = cache.collect_if_small(df, N)
    assert tbl is None
    assert acc.value == 0  # no probe ran
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert cut.count() == N
    assert acc.value == N


def test_empty_input(spark):
    df = spark.range(0).withColumn("x", F.col("id") * 2)
    cut, tbl = cache.collect_if_small(df, 0)
    assert tbl is not None and tbl.num_rows == 0
    assert tbl.schema.names == ["id", "x"]
    assert cut.count() == 0


def test_rows_at_most_below_bound(spark):
    df, acc = _counted(spark)
    cut, fits = cache.rows_at_most(df, N)
    assert fits is True
    assert acc.value == N
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert acc.value == N


def test_rows_at_most_above_bound(spark):
    df, acc = _counted(spark)
    cut, fits = cache.rows_at_most(df, N - 1)
    assert fits is False
    assert acc.value == N  # the LIMIT probe materialized the whole cut
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert cut.count() == N
    assert acc.value == N


def test_rows_at_most_forced_never_probes(spark, monkeypatch):
    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    df, acc = _counted(spark)
    cut, fits = cache.rows_at_most(df, N)
    assert fits is False
    assert acc.value == 0  # no probe ran
    assert cut.agg(F.sum("x")).collect()[0][0] == N * (N - 1)
    assert acc.value == N


def test_rows_at_most_empty_input(spark):
    df = spark.range(0).withColumn("x", F.col("id") * 2)
    cut, fits = cache.rows_at_most(df, 0)
    assert fits is True
    assert cut.columns == ["id", "x"]
    assert cut.count() == 0


def test_probe_job_names_its_call_site(spark):
    """The probe job carries a description naming the caller and bound
    (the checkpointed column records the description of the job that
    materialized it), and the caller's own description comes back."""
    from pyspark import TaskContext

    sc = spark.sparkContext
    desc = F.udf(lambda _: TaskContext.get().getLocalProperty("spark.job.description"), "string")
    df = spark.range(0, 4, numPartitions=2).withColumn("d", desc("id"))
    sc.setJobDescription("outer")
    try:
        cut, fits = cache.rows_at_most(df, 10)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert fits
    site = f"{__name__}.test_probe_job_names_its_call_site"
    assert {r["d"] for r in cut.collect()} == {f"size probe {site}: rows <= 10"}


def test_cut_jobs_name_their_call_site(spark):
    """Cutting a shuffle plan runs its map stage while the checkpoint is
    planned; that job carries ``cut <call site>`` and the caller's own
    description comes back."""
    from pyspark import TaskContext

    sc = spark.sparkContext
    desc = F.udf(lambda _: TaskContext.get().getLocalProperty("spark.job.description"), "string")
    df = spark.range(0, 8, numPartitions=2).withColumn("d", desc("id")).groupBy("d").count()
    sc.setJobDescription("outer")
    try:
        cut = cache.cut(df)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    site = f"{__name__}.test_cut_jobs_name_their_call_site"
    assert {r["d"] for r in cut.collect()} == {f"cut {site}"}


#: the side window, over the counted frame as one trade stream
SIDE = {
    "with_trade_side_chunked": lambda tr, mode: P.with_trade_side_chunked(
        tr, chunk_ns=N // 4, mode=mode
    ).select("trade_id", "side"),
    "bar_directional_features_chunked": lambda tr, mode: B.bar_directional_features_chunked(
        B.with_time_bar(tr, 1000), chunk_ns=N // 4, mode=mode
    ),
}


def _side_upstream_once(spark, gate_sides, name, mode):
    def run():
        df, acc = _counted(spark)
        trades = df.select(
            F.col("id").alias("ts_ns"),
            F.col("id").alias("trade_id"),
            (F.col("x") % 7).cast("double").alias("price"),
            F.lit(1.0).alias("qty"),
        )
        rows = sorted(SIDE[name](trades, mode).collect())
        assert acc.value == N
        return rows

    small, scale = gate_sides(run)
    assert small and small == scale


@pytest.mark.parametrize("name", list(SIDE))
def test_side_auto_runs_upstream_once(spark, gate_sides, name):
    """The side window's auto mode plans either side over the probe's
    cut: the counted upstream runs once for the build plus one action,
    and both sides return the same rows."""
    _side_upstream_once(spark, gate_sides, name, "auto")


@pytest.mark.parametrize("name", list(SIDE))
def test_side_chunked_runs_upstream_once(spark, gate_sides, name):
    """The explicit scale mode reads its input once, in the window pass
    behind its cut, which the summary aggregate and the output both
    read, on either side of the summary's driver gate."""
    _side_upstream_once(spark, gate_sides, name, "chunked")


#: chunk span of the multi-chunk side stream
CK = 1_000


def _side_stream(seed, nan=False):
    """``(ts_ns, trade_id, price, qty)`` over ten chunks of ``CK`` ns:
    random walks on a coarse grid (many zero deltas); two consecutive
    single-price chunks at the previous chunk's last price, so the
    carried sign crosses both; an empty chunk; a chunk of equal-ts_ns
    ties; and, with ``nan``, one NaN price inside a walk. trade_id rises
    with (ts_ns, arrival), the trades contract."""
    rng = random.Random(seed)
    kinds = ["walk", "walk", "flat", "flat", "empty", "walk", "ties", "walk", "flat", "walk"]
    rows, tid, p = [], 0, 100.0
    for day, kind in enumerate(kinds):
        t0 = day * CK
        n = 0 if kind == "empty" else rng.randint(8, 40)
        hi = 4 if kind == "ties" else CK
        for t in sorted(t0 + rng.randrange(hi) for _ in range(n)):
            if kind != "flat":
                p += rng.choice([-1.0, 0.0, 0.0, 1.0])
            rows.append((t, tid, p, 1.0))
            tid += 1
    if nan:
        t, i, _, q = rows[len(rows) // 2]
        rows[len(rows) // 2] = (t, i, float("nan"), q)
    return rows


def _tick_rule(rows):
    """The tick rule row by row in (ts_ns, trade_id) order (a NaN delta
    signs 0, so it carries the previous sign like a zero delta):
    trade_id → the sign before the int cast."""
    out, last, prev = {}, 1.0, None
    for _, tid, p, _ in sorted(rows):
        if prev is not None:
            d = p - prev
            raw = 0.0 if math.isnan(d) else float((d > 0) - (d < 0))
            if raw != 0:
                last = raw
        out[tid] = last
        prev = p
    return out


def _bits(v):
    return struct.pack("<d", v) if isinstance(v, float) else v


@pytest.mark.parametrize("seed", [1, 2])
def test_side_bit_identical_across_modes(spark, gate_sides, seed):
    """``side`` and the directional bar spreads are the same bits in the
    chunked and global modes, on both sides of the summary's driver
    gate, and ``side`` equals the row-by-row tick rule."""
    rows = _side_stream(seed)
    want = {t: int(s) for t, s in _tick_rule(rows).items()}

    def run():
        tr = spark.createDataFrame(rows, "ts_ns long, trade_id long, price double, qty double")
        out = {}
        for mode in ("chunked", "global"):
            side = P.with_trade_side_chunked(tr, chunk_ns=CK, mode=mode)
            out[("side", mode)] = {r["trade_id"]: r["side"] for r in side.collect()}
            bars = B.bar_directional_features_chunked(
                B.with_time_bar(tr, 300), chunk_ns=CK, mode=mode
            )
            out[("bars", mode)] = sorted(tuple(map(_bits, r)) for r in bars.collect())
        return out

    small, scale = gate_sides(run)
    assert small == scale
    assert small[("side", "chunked")] == small[("side", "global")] == want
    assert small[("bars", "chunked")] == small[("bars", "global")]


def test_side_carry_keeps_nan_prices(spark, gate_sides):
    """A NaN price signs 0 and the carry passes over it. This compares
    the sign before the int cast, and the carried helper columns, bit
    for bit across the gate: the driver carry signs a NaN boundary
    delta 0 and treats NULL as absent, as the Spark plans do."""
    rows = _side_stream(3, nan=True)
    want = {t: _bits(s) for t, s in _tick_rule(rows).items()}
    sign = F.coalesce("_cin", "_bnz", "_carry", F.lit(1.0)).alias("sign")

    def run():
        tr = spark.createDataFrame(rows, "ts_ns long, trade_id long, price double, qty double")
        d, _ = P.chunked_side_frame(tr, chunk_ns=CK, mode="chunked")
        got = d.select("trade_id", sign, "_prev_last_p", "_bnz", "_carry").collect()
        return {r["trade_id"]: tuple(map(_bits, r[1:])) for r in got}

    small, scale = gate_sides(run)
    assert small == scale
    assert {t: v[0] for t, v in small.items()} == want


def test_side_chunked_job_budget(spark):
    """Building and cutting the explicit scale mode over a 3-day stream
    runs a pinned number of Spark jobs: one summary collect and no
    per-prefix job chain, which would add jobs and fail here."""
    day = 86_400_000_000_000
    rows = [
        (d * day + i * 1_000_000, d * 100 + i, 100.0 + i * 7 % 5, 1.0)
        for d in range(3)
        for i in range(50)
    ]
    tr = spark.createDataFrame(rows, "ts_ns long, trade_id long, price double, qty double")
    sc = spark.sparkContext
    group = "test_side_chunked_job_budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        cache.cut(P.with_trade_side_chunked(tr, mode="chunked"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


#: the gated single-stream scans, over the counted frame's (id, x)
SEQ_SCANS = {
    "ewma_parallel": lambda df: S.ewma_parallel(df, "x", 19.0, order_col="id"),
    "ewms_parallel": lambda df: S.ewms_parallel(df, "x", 19.0, order_col="id"),
    "cusum_filter_chunked": lambda df: S.cusum_filter_chunked(
        df, threshold=1e5, r_col="x", order_col="id", chunk_ns=N // 4
    ),
}


@pytest.mark.parametrize("name", list(SEQ_SCANS))
def test_sequential_scan_runs_upstream_once(spark, gate_sides, name):
    def run():
        df, acc = _counted(spark)
        out = SEQ_SCANS[name](df)
        assert out.count() == N
        assert len(out.collect()) == N
        assert acc.value == N  # two actions, one upstream execution
        return out.schema

    drv, dist = gate_sides(run)
    assert drv == dist


@pytest.mark.parametrize("name", list(SEQ_SCANS))
def test_sequential_scan_empty_input(spark, gate_sides, name):
    df = spark.range(0).withColumn("x", F.col("id") * 2)

    def run():
        out = SEQ_SCANS[name](df)
        return out.schema, out.collect()

    (drv_schema, drv_rows), (dist_schema, dist_rows) = gate_sides(run)
    assert drv_rows == dist_rows == []
    assert drv_schema == dist_schema


#: the scale scans with no driver side, over (id, x, y, z)
SCALE_SCANS = {
    "ewmst_parallel": lambda df: S.ewmst_parallel(df, "id", "x", 5.0, chunk_rows=8),
    "rsi_parallel": lambda df: S.rsi_parallel(df, "x", 3, order_col="id", chunk_rows=8),
    "atr_ema_parallel": lambda df: S.atr_ema_parallel(
        df, 3, order_col="id", high_col="z", low_col="y", close_col="x", chunk_rows=8
    ),
    "cusum_bar_ids_chunked": lambda df: S.cusum_bar_ids_chunked(
        df, 2.0, 1.0, r_col="x", sigma_col="y", order_col="id", chunk_ns=8
    ),
    "cusum_adaptive_bars_chunked": lambda df: S.cusum_adaptive_bars_chunked(
        df, 2.0, 1.0, 5.0, r_col="x", order_col="id", chunk_ns=8
    ),
}


@pytest.mark.parametrize("name", list(SCALE_SCANS))
def test_scale_scan_empty_input(spark, name):
    """No rows on an empty input, in the schema the scan declares on a
    non-empty one."""
    def frame(n):
        return spark.range(n).select(
            "id", (F.col("id") % 5).alias("x"), (F.col("id") % 3).alias("y"),
            (F.col("id") % 7 + 5).alias("z"),
        )

    scan = SCALE_SCANS[name]
    full, empty = scan(frame(40)), scan(frame(0))
    assert full.collect()
    assert empty.collect() == []
    assert empty.schema == full.schema
