"""Chunked global-window stage: bit-exactness vs the true global window.

``functions.chunked_window`` promises that bounded-frame window
expressions evaluated per row-chunk (with warmup-row duplication) are
row-identical to the same expressions over the global single-partition
window — this is what lets the flagship drop its last
``Exchange SinglePartition``. Verify on the real bar stream with chunk
sizes small enough to force many boundaries, plus the global row
number itself, plus the zero-SinglePartition plan property.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from finmlkit_spark.functions import chunked_window as CW
from finmlkit_spark.functions import rolling as R
from tests.conftest import SF_SMALL


def _bars(spark):
    from finmlkit_spark.suite.features_suite import bars_1m

    return bars_1m(spark, SF_SMALL, seq=False)


def _features(df, w, extra=()):
    df = df.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
    df = df.withColumn("tr", R.true_range("high", "low", "close", w))
    return df.select(
        *extra,
        "bar_close_ns",
        F.col("r").alias("ret_1"),
        R.sma("close", 20, w).alias("sma_20"),
        R.zscore("close", 20, w).alias("zscore_20"),
        R.stoch_k("close", "high", "low", 14, w).alias("stoch_k_14"),
        R.atr_sma("tr", 14, w).alias("atr_14"),
        R.realized_vol("r", 20, w).alias("rv_20"),
        R.roc("close", 5, w).alias("roc_5"),
        R.flow_acceleration("volume", 20, 5, w).alias("flow_accel"),
    )


FEATS = ["ret_1", "sma_20", "zscore_20", "stoch_k_14", "atr_14", "rv_20", "roc_5", "flow_accel"]


def test_chunked_features_bit_identical(spark):
    bars = _bars(spark)
    glob = {r["bar_close_ns"]: r for r in _features(bars, Window.orderBy("bar_close_ns")).collect()}
    ch = CW.with_row_chunks(bars, "bar_close_ns", warmup=24, chunk_rows=60)
    got = {
        r["bar_close_ns"]: r
        for r in CW.finish(
            _features(ch, CW.chunk_window("bar_close_ns"), extra=(CW.CHUNK, CW.WARM, CW.GLOBAL_RN))
        ).collect()
    }
    assert set(glob) == set(got)
    for k, g in glob.items():
        for f in FEATS:
            assert got[k][f] == g[f] or (got[k][f] is None and g[f] is None), (k, f)


def test_global_row_number_exact(spark, monkeypatch):
    monkeypatch.setattr(CW, "_COARSE_SPAN", CW.DAY_NS // 24)
    bars = _bars(spark)
    want = {
        r["bar_close_ns"]: r["rn"]
        for r in bars.select(
            "bar_close_ns", F.row_number().over(Window.orderBy("bar_close_ns")).alias("rn")
        ).collect()
    }
    got = {
        r["bar_close_ns"]: r[CW.GLOBAL_RN]
        for r in CW.with_global_row_number(bars, "bar_close_ns").collect()
    }
    assert got == want


def test_flagship_plan_has_no_single_partition(spark, monkeypatch):
    # the registry query auto-selects the (deliberately single-partition)
    # global window below the measured crossover; force the at-scale mode
    # to assert the plan a 100 TB stream would get
    from finmlkit_spark import cache
    from finmlkit_spark.suite import QUERIES

    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    df = QUERIES["pipeline_1m_features"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_warmup_smaller_than_chunk_required(spark):
    import pytest

    with pytest.raises(ValueError):
        CW.with_row_chunks(_bars(spark), "bar_close_ns", warmup=64, chunk_rows=64)


def test_global_row_number_with_ties_and_tiebreak(spark, monkeypatch):
    """Duplicate order values resolved deterministically by tiebreak_cols
    even when the duplicates straddle a coarse-bucket row_number."""
    monkeypatch.setattr(CW, "_COARSE_SPAN", 100)
    rows = [(1000, i) for i in range(50)] + [(2000, i) for i in range(50)]
    df = spark.createDataFrame(rows, "ts long, tid long")
    got = {
        (r["ts"], r["tid"]): r[CW.GLOBAL_RN]
        for r in CW.with_global_row_number(df, "ts", tiebreak_cols=("tid",)).collect()
    }
    want = {
        (ts, tid): i + 1
        for i, (ts, tid) in enumerate(sorted(rows))
    }
    assert got == want


def test_row_chunks_sparse_time_axis(spark, monkeypatch):
    """Row-count chunking is immune to arbitrarily sparse stretches of
    the time axis (the failure mode of time-span chunking): warmup rows
    always come from the previous CHUNK regardless of time gaps."""
    import random

    rng = random.Random(7)
    ts = sorted(rng.sample(range(10**6, 10**12, 997), 500))
    df = spark.createDataFrame([(t, float(i)) for i, t in enumerate(ts)], "ts long, x double")
    monkeypatch.setattr(CW, "_COARSE_SPAN", 10**9)
    ch = CW.with_row_chunks(df, "ts", warmup=5, chunk_rows=37)
    w = CW.chunk_window("ts")
    got = {
        r["ts"]: r["s"]
        for r in CW.finish(
            ch.select(CW.CHUNK, CW.WARM, CW.GLOBAL_RN, "ts", F.sum("x").over(w.rowsBetween(-4, 0)).alias("s"))
        ).collect()
    }
    xs = {t: float(i) for i, t in enumerate(ts)}
    for i, t in enumerate(ts):
        want = sum(xs[u] for u in ts[max(0, i - 4) : i + 1])
        assert got[t] == want, (i, t)


def test_row_chunks_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "ts long, x double")
    assert CW.finish(CW.with_row_chunks(empty, "ts", warmup=3, chunk_rows=8)).count() == 0
    one = spark.createDataFrame([(5, 1.0)], "ts long, x double")
    out = CW.finish(CW.with_row_chunks(one, "ts", warmup=3, chunk_rows=8)).collect()
    assert len(out) == 1 and out[0]["ts"] == 5


def test_all_warm_phantom_chunk(spark, monkeypatch):
    """The documented phantom-trailing-chunk contract: when the last real
    chunk's tail rows sit in the warmup band, they are duplicated into a
    chunk id past the end that contains ONLY warm rows. That group must
    exist (so grouped consumers see it and must tolerate it), and
    finish() must still return exactly the original rows."""
    df = spark.createDataFrame(
        [(i * 100, float(i)) for i in range(10)], "ts long, x double"
    )
    monkeypatch.setattr(CW, "_COARSE_SPAN", 10**9)
    ch = CW.with_row_chunks(df, "ts", warmup=2, chunk_rows=5)
    rows = ch.select(CW.CHUNK, CW.WARM, "ts").collect()
    by_chunk = {}
    for r in rows:
        by_chunk.setdefault(r[CW.CHUNK], []).append(r)
    # chunk 2 is the phantom: only the duplicated tail of chunk 1
    assert sorted(by_chunk) == [0, 1, 2]
    assert all(r[CW.WARM] for r in by_chunk[2]), by_chunk[2]
    assert len(by_chunk[2]) == 2
    # grouped consumption tolerates the all-warm group end-to-end
    w = CW.chunk_window("ts")
    out = CW.finish(
        ch.select(CW.CHUNK, CW.WARM, "ts", F.sum("x").over(w.rowsBetween(-2, 0)).alias("s"))
    ).collect()
    assert sorted(r["ts"] for r in out) == [i * 100 for i in range(10)]


def test_flagship_modes_bit_identical(spark):
    """flagship_feature_stage: the global-window and chunked-window modes
    must return row-identical results (the auto crossover is purely a
    cost decision; small chunk_rows forces real chunk boundaries)."""
    from finmlkit_spark.suite.features_suite import bars_1m
    from finmlkit_spark.suite.pipeline_suite import flagship_feature_stage

    bars = bars_1m(spark, "/root/testdata/sf0.001", seq=False).localCheckpoint()
    g = {
        r["bar_close_ns"]: r.asDict()
        for r in flagship_feature_stage(bars, mode="global").collect()
    }
    c = {
        r["bar_close_ns"]: r.asDict()
        for r in flagship_feature_stage(
            bars, mode="chunked", chunk_rows=64, persist=False
        ).collect()
    }
    assert set(g) == set(c)
    for k in g:
        assert g[k] == c[k], (k, g[k], c[k])


def test_flagship_crossover_picks_mode_by_footer_rows(spark, monkeypatch):
    """pipeline_1m_features owns the flagship crossover: at sf0.001 (an
    events footer far below FLAGSHIP_SMALL_ROWS) it plans the global
    window, under the hook the chunked zero-SinglePartition plan; and
    flagship_feature_stage plans exactly the mode it is given."""
    from finmlkit_spark import cache
    from finmlkit_spark.suite import QUERIES
    from finmlkit_spark.suite import pipeline_suite as PS
    from finmlkit_spark.suite.features_suite import bars_1m

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    bars = bars_1m(spark, SF_SMALL, seq=False)
    assert "SinglePartition" in plan(PS.flagship_feature_stage(bars, mode="global"))
    assert "SinglePartition" not in plan(
        PS.flagship_feature_stage(bars, persist=False, mode="chunked")
    )
    assert "SinglePartition" in plan(QUERIES["pipeline_1m_features"](spark, SF_SMALL))
    monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
    assert "SinglePartition" not in plan(QUERIES["pipeline_1m_features"](spark, SF_SMALL))
