"""Contract of the two size probes, ``cache.collect_if_small`` (the
driver gate) and ``cache.rows_at_most`` (the plan crossovers): the
upstream plan executes exactly once on either side of the bound, the
driver side receives every row, and the forced-distributed hook never
probes. The gated single-stream scans and the side window keep that
contract when their output feeds an action, and every single-stream
scale scan returns no rows, in its declared schema, on an empty input."""

from __future__ import annotations

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


#: the side window's auto mode, over the counted frame as one trade stream
SIDE_AUTO = {
    "with_trade_side_chunked": lambda tr: P.with_trade_side_chunked(
        tr, chunk_ns=N // 4
    ).select("trade_id", "side"),
    "bar_directional_features_chunked": lambda tr: B.bar_directional_features_chunked(
        B.with_time_bar(tr, 1000), chunk_ns=N // 4
    ),
}


@pytest.mark.parametrize("name", list(SIDE_AUTO))
def test_side_auto_runs_upstream_once(spark, gate_sides, name):
    """The side window's auto mode plans either side over the probe's
    cut: the counted upstream runs once for the build plus one action,
    and both sides return the same rows."""

    def run():
        df, acc = _counted(spark)
        trades = df.select(
            F.col("id").alias("ts_ns"),
            F.col("id").alias("trade_id"),
            (F.col("x") % 7).cast("double").alias("price"),
            F.lit(1.0).alias("qty"),
        )
        rows = sorted(SIDE_AUTO[name](trades).collect())
        assert acc.value == N
        return rows

    small, scale = gate_sides(run)
    assert small and small == scale


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
