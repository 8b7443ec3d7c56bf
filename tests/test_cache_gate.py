"""Contract of ``cache.collect_if_small``, the one driver gate: the
upstream plan executes exactly once on either side of the bound, the
driver side receives every row, and the forced-distributed hook never
collects. The gated single-stream scans keep that contract when their
output feeds two actions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finmlkit_spark import cache
from finmlkit_spark.functions import sequential as S

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
