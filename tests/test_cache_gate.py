"""Contract of ``cache.collect_if_small``, the one driver gate: the
upstream plan executes exactly once on either side of the bound, the
driver side receives every row, and the forced-distributed hook never
collects."""

from __future__ import annotations

from pyspark.sql import functions as F

from finmlkit_spark import cache

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
