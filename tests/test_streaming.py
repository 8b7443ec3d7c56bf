"""Batch/stream parity: the same events run through the Structured
Streaming bar builder and the batch aggregation must agree (the
streaming analog of the dual-backend oracle strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finmlkit_spark.streaming.bars import streaming_cusum_filter, streaming_time_bars

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """events.parquet with ts normalized to int64 epoch-ns.

    The driver has regenerated events.parquet with different physical
    timestamp types across rounds (TIMESTAMP(NANOS) -> timestamp[us]);
    these parity tests target the canonical ns-long form, so normalize
    here instead of assuming what the driver wrote.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_stream")
    tbl = pq.read_table(f"{SF}/events.parquet")
    ts = tbl["ts"]
    if not pa.types.is_int64(ts.type):
        ts = ts.cast(pa.timestamp("ns")).cast(pa.int64())
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(tbl, str(d / "events.parquet"))
    return str(d)


def _batch_cusum_flags(pdf, threshold):
    """Sorted ``ts`` of the rows ``cusum_filter_np`` flags over the
    log returns of ``pdf`` (columns ts, value) in its row order."""
    import numpy as np

    from finmlkit_spark.functions.sequential import cusum_filter_np

    prices = pdf["value"].to_numpy(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = np.concatenate([[np.nan], np.log(prices[1:] / prices[:-1])])
    flags = cusum_filter_np(r, threshold).astype(bool)
    return sorted(pdf["ts"].to_numpy()[flags].tolist())


def test_streaming_time_bars_parity(spark, stream_dir):
    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "timestamp_micros(cast(ts / 1000 as long)) as ts",
            "value as price",
            "cast(1.0 as double) as qty",
        )
    )
    bars = streaming_time_bars(stream, "1 minute", "5 minutes")
    q = (
        bars.writeStream.format("memory")
        .queryName("bars_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["win"]["end"]: r
        for r in spark.sql("select * from bars_stream").collect()
    }
    # batch equivalent
    from pyspark.sql import functions as F

    exp = (
        batch.selectExpr(
            "timestamp_micros(cast(ts / 1000 as long)) as tsx", "value as price"
        )
        .select(F.window("tsx", "1 minute").alias("win"), "price")
        .groupBy("win")
        .agg(F.max("price").alias("high"), F.count("*").alias("trades"))
        .collect()
    )
    exp = {r["win"]["end"]: r for r in exp}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k]["high"] == exp[k]["high"]
        assert got[k]["trades"] == exp[k]["trades"]


def test_streaming_cusum_parity(spark, stream_dir):
    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "'EVT' as symbol",
            "ts as ts_ns",
            "value as price",
        )
    )
    out = streaming_cusum_filter(stream, threshold=1.0)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r["ts"] for r in spark.sql("select ts from cusum_stream").collect()]

    pdf = batch.orderBy("ts", "event_id").toPandas()
    assert sorted(got) == _batch_cusum_flags(pdf, 1.0) and got


def test_streaming_volume_bars_parity(spark, stream_dir):
    import numpy as np

    from finmlkit_spark.functions.sequential import volume_bar_ids_exact
    from finmlkit_spark.streaming.bars import streaming_volume_bars

    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "'EVT' as symbol",
            "ts as ts_ns",
            "cast(1 + (event_id % 5) as double) as qty",
        )
    )
    out = streaming_volume_bars(stream, threshold=50.0)
    q = (
        out.writeStream.format("memory")
        .queryName("vb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from vb_stream").collect()}

    pdf = batch.orderBy("ts", "event_id").toPandas()
    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    expected = volume_bar_ids_exact(qty, 50.0)
    exp = dict(zip(pdf["ts"].to_numpy().tolist(), expected.tolist()))
    assert len(got) == len(exp)
    mismatches = sum(1 for k in exp if got.get(k) != exp[k])
    assert mismatches == 0


def test_streaming_sessions_parity(spark, stream_dir):
    from finmlkit_spark.streaming.bars import streaming_sessions

    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "cast(user_id as string) as symbol",
            "timestamp_micros(cast(ts / 1000 as long)) as ts",
            "value as price",
            "cast(1 + (event_id % 5) as double) as qty",
        )
        .where("price > 0")
    )
    out = streaming_sessions(stream, "30 minutes", "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_stream = spark.sql("select count(*) n from sess_stream").collect()[0]["n"]

    # batch equivalent: the gaps-and-islands sessionization
    from finmlkit_spark.suite.multiuser_suite import user_sessions

    n_batch = user_sessions(spark, "/root/testdata/sf0.001").count()
    assert n_stream == n_batch and n_stream > 0


def test_streaming_imbalance_bars_parity(spark, stream_dir):
    from finmlkit_spark.functions.sequential import imbalance_bar_ids
    from finmlkit_spark.streaming.bars import streaming_imbalance_bars

    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "'EVT' as symbol",
            "ts as ts_ns",
            "cast(case when event_id % 3 = 0 then -1 else 1 end as double) as side",
            "cast(1 + (event_id % 5) as double) as qty",
        )
    )
    out = streaming_imbalance_bars(stream, ewma_span=50.0, init_expected=200.0)
    q = (
        out.writeStream.format("memory")
        .queryName("ib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from ib_stream").collect()}

    pdf = batch.orderBy("ts", "event_id").toPandas()
    side = ((pdf["event_id"].to_numpy() % 3 != 0) * 2 - 1).astype(float)
    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    expected = imbalance_bar_ids(side, qty, ewma_span=50.0, init_expected=200.0)
    exp = dict(zip(pdf["ts"].to_numpy().tolist(), expected.tolist()))
    assert len(got) == len(exp)
    mismatches = sum(1 for k in exp if got.get(k) != exp[k])
    assert mismatches == 0


def test_streaming_run_bars_parity(spark, stream_dir):
    from finmlkit_spark.functions.sequential import run_bar_ids
    from finmlkit_spark.streaming.bars import streaming_run_bars

    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr(
            "'EVT' as symbol",
            "ts as ts_ns",
            "cast(case when event_id % 3 = 0 then -1 else 1 end as double) as side",
            "cast(1 + (event_id % 5) as double) as qty",
        )
    )
    out = streaming_run_bars(stream, ewma_span=50.0, init_expected=200.0)
    q = (
        out.writeStream.format("memory")
        .queryName("rb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from rb_stream").collect()}

    pdf = batch.orderBy("ts", "event_id").toPandas()
    side = ((pdf["event_id"].to_numpy() % 3 != 0) * 2 - 1).astype(float)
    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    expected = run_bar_ids(side, qty, ewma_span=50.0, init_expected=200.0)
    exp = dict(zip(pdf["ts"].to_numpy().tolist(), expected.tolist()))
    assert len(got) == len(exp)
    assert sum(1 for k in exp if got.get(k) != exp[k]) == 0


def test_streaming_late_data_metrics(spark, tmp_path):
    """Out-of-order input across two micro-batches: the metrics stream
    counts regressions and would-be-dropped late rows instead of losing
    them silently (SURVEY §2.10 late-data surface)."""
    import pandas as pd

    from finmlkit_spark.streaming.bars import streaming_late_data_metrics

    d = tmp_path / "late_src"
    d.mkdir()
    sec = 1_000_000_000
    # batch 1: ordered except one small regression (2s back, not late)
    pd.DataFrame(
        {"symbol": ["A"] * 4, "ts_ns": [10 * sec, 20 * sec, 18 * sec, 30 * sec]}
    ).to_parquet(d / "b1.parquet")
    # batch 2: one on-time row, one LATE row (300s behind max=40s... i.e.
    # lag = 40-5 = 35s > 30s lateness) and one mild regression
    pd.DataFrame(
        {"symbol": ["A"] * 3, "ts_ns": [40 * sec, 5 * sec, 39 * sec]}
    ).to_parquet(d / "b2.parquet")

    stream = (
        spark.readStream.schema("symbol string, ts_ns long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = streaming_late_data_metrics(stream, lateness_ns=30 * sec)
    q = (
        out.writeStream.format("memory")
        .queryName("late_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        spark.sql("select * from late_metrics").collect(),
        key=lambda r: r["batch_max_ts_ns"],
    )
    assert len(rows) == 2
    b1, b2 = rows
    assert b1["n_rows"] == 4 and b1["n_out_of_order"] == 1 and b1["n_late"] == 0
    assert b1["max_lag_ns"] == 2 * sec
    assert b2["n_rows"] == 3
    # 5s row lags 35s behind the carried 40s max -> out of order AND late;
    # 39s row is a 1s regression only
    assert b2["n_out_of_order"] == 2
    assert b2["n_late"] == 1 and b2["n_late_total"] == 1
    assert b2["max_lag_ns"] == 35 * sec


def test_streaming_cusum_bars_parity(spark, stream_dir):
    """Adaptive-threshold CUSUM bar indexer (reference logic.py:152-221):
    the stream must assign the exact bar ids the batch kernels produce
    (ewmst sigma + cusum_bar_ids over the ordered series)."""
    import numpy as np

    from finmlkit_spark.functions.sequential import cusum_bar_ids, ewmst
    from finmlkit_spark.streaming.bars import streaming_cusum_bars

    HL = 3_600.0 * 1e9
    MULT, FLOOR = 2.0, 1e-3

    batch = spark.read.parquet(stream_dir)
    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .selectExpr("'EVT' as symbol", "ts as ts_ns", "value as price")
    )
    out = streaming_cusum_bars(stream, mult=MULT, floor_thr=FLOOR, halflife_ns=HL)
    q = (
        out.writeStream.format("memory")
        .queryName("cb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from cb_stream").collect()}

    pdf = batch.orderBy("ts", "event_id").toPandas()
    prices = pdf["value"].to_numpy()
    ts = pdf["ts"].to_numpy().astype(np.int64)
    r = np.concatenate([[np.nan], np.log(prices[1:] / prices[:-1])])
    sigma = ewmst(ts, r, HL)
    expected = cusum_bar_ids(r, sigma, mult=MULT, floor_thr=FLOOR)
    exp = dict(zip(ts.tolist(), expected.tolist()))
    assert len(got) == len(exp)
    assert expected.max() > 2, "test data should close several bars"
    mismatches = sum(1 for k in exp if got.get(k) != exp[k])
    assert mismatches == 0


def test_streaming_cusum_bars_multibatch_state_carry(spark, stream_dir, tmp_path):
    """State must carry across MICRO-BATCHES, not just within one: the
    events stream is split into 4 time-ordered files processed one per
    trigger, so the EWMST + CUSUM state crosses the batch boundary 3
    times; bar ids must still equal the batch kernels' output."""
    import os

    import numpy as np

    from finmlkit_spark.functions.sequential import cusum_bar_ids, ewmst
    from finmlkit_spark.streaming.bars import streaming_cusum_bars

    HL = 3_600.0 * 1e9
    MULT, FLOOR = 2.0, 1e-3

    batch = spark.read.parquet(stream_dir)
    pdf = batch.orderBy("ts", "event_id").toPandas()
    n = len(pdf)
    d = tmp_path / "chunks"
    d.mkdir()
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        path = str(d / f"part-{i}.parquet")
        part.to_parquet(path)
        # FileStreamSource orders files by modification time: pin an
        # ascending mtime per chunk so batches follow event time
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .selectExpr("'EVT' as symbol", "ts as ts_ns", "value as price")
    )
    out = streaming_cusum_bars(stream, mult=MULT, floor_thr=FLOOR, halflife_ns=HL)
    q = (
        out.writeStream.format("memory")
        .queryName("cb_mb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from cb_mb_stream").collect()}

    prices = pdf["value"].to_numpy()
    ts = pdf["ts"].to_numpy().astype(np.int64)
    r = np.concatenate([[np.nan], np.log(prices[1:] / prices[:-1])])
    sigma = ewmst(ts, r, HL)
    expected = cusum_bar_ids(r, sigma, mult=MULT, floor_thr=FLOOR)
    exp = dict(zip(ts.tolist(), expected.tolist()))
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    assert len(got) == len(exp)
    assert sum(1 for k in exp if got.get(k) != exp[k]) == 0


def test_streaming_volume_bars_multibatch_state_carry(spark, stream_dir, tmp_path):
    """Exact-reset volume bars across 4 one-file micro-batches: the
    (running volume, bar counter) state crosses 3 batch boundaries."""
    import os

    import numpy as np

    from finmlkit_spark.functions.sequential import volume_bar_ids_exact
    from finmlkit_spark.streaming.bars import streaming_volume_bars

    batch = spark.read.parquet(stream_dir)
    pdf = batch.orderBy("ts", "event_id").toPandas()
    n = len(pdf)
    d = tmp_path / "chunks_vb"
    d.mkdir()
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        path = str(d / f"part-{i}.parquet")
        pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .selectExpr(
            "'EVT' as symbol",
            "ts as ts_ns",
            "cast(1 + (event_id % 5) as double) as qty",
        )
    )
    out = streaming_volume_bars(stream, threshold=50.0)
    q = (
        out.writeStream.format("memory")
        .queryName("vb_mb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    got = {r["ts"]: r["bar_id"] for r in spark.sql("select * from vb_mb_stream").collect()}

    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    expected = volume_bar_ids_exact(qty, 50.0)
    exp = dict(zip(pdf["ts"].to_numpy().tolist(), expected.tolist()))
    assert n_batches >= 4
    assert len(got) == len(exp)
    assert sum(1 for k in exp if got.get(k) != exp[k]) == 0


def _chunked_dir(pdf, tmp_path, name, n_files=4):
    import os

    d = tmp_path / name
    d.mkdir()
    n = len(pdf)
    bounds = [i * n // n_files for i in range(n_files)] + [n]
    for i in range(n_files):
        path = str(d / f"part-{i}.parquet")
        pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(path)
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return str(d)


def test_streaming_imbalance_and_run_bars_multibatch(spark, stream_dir, tmp_path):
    """The EWMA-adaptive imbalance/run bar state (theta/expected or
    buy/sell/expected) must carry across micro-batch boundaries."""
    from finmlkit_spark.functions.sequential import imbalance_bar_ids, run_bar_ids
    from finmlkit_spark.streaming.bars import (
        streaming_imbalance_bars,
        streaming_run_bars,
    )

    batch = spark.read.parquet(stream_dir)
    pdf = batch.orderBy("ts", "event_id").toPandas()
    d = _chunked_dir(pdf, tmp_path, "chunks_ibrun")
    sel = [
        "'EVT' as symbol",
        "ts as ts_ns",
        "cast(case when event_id % 3 = 0 then -1 else 1 end as double) as side",
        "cast(1 + (event_id % 5) as double) as qty",
    ]
    side = ((pdf["event_id"].to_numpy() % 3 != 0) * 2 - 1).astype(float)
    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    ts = pdf["ts"].to_numpy().tolist()

    for tag, op, kernel in (
        ("ib_mb", streaming_imbalance_bars, imbalance_bar_ids),
        ("rb_mb", streaming_run_bars, run_bar_ids),
    ):
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .selectExpr(*sel)
        )
        out = op(stream, ewma_span=50.0, init_expected=200.0)
        q = (
            out.writeStream.format("memory")
            .queryName(tag)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["ts"]: r["bar_id"] for r in spark.sql(f"select * from {tag}").collect()}
        expected = kernel(side, qty, ewma_span=50.0, init_expected=200.0)
        exp = dict(zip(ts, expected.tolist()))
        assert len(got) == len(exp), tag
        assert sum(1 for k in exp if got.get(k) != exp[k]) == 0, tag


def test_streaming_cusum_filter_multibatch(spark, stream_dir, tmp_path):
    """CUSUM filter state (sp, sn, last price) across micro-batches."""
    from finmlkit_spark.streaming.bars import streaming_cusum_filter

    batch = spark.read.parquet(stream_dir)
    pdf = batch.orderBy("ts", "event_id").toPandas()
    d = _chunked_dir(pdf, tmp_path, "chunks_cf")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .selectExpr("'EVT' as symbol", "ts as ts_ns", "value as price")
    )
    out = streaming_cusum_filter(stream, threshold=1.0)
    q = (
        out.writeStream.format("memory")
        .queryName("cf_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    got = [r["ts"] for r in spark.sql("select ts from cf_mb").collect()]

    assert n_batches >= 4
    assert sorted(got) == _batch_cusum_flags(pdf, 1.0) and got


def test_streaming_cusum_filter_nan_and_zero_price_match_batch(spark, tmp_path):
    """A NaN price makes two NaN returns and a zero price two infinite
    ones; the stream must skip and flag exactly the rows the batch
    kernel does, across a micro-batch boundary."""
    import pandas as pd

    from finmlkit_spark.streaming.bars import streaming_cusum_filter

    price = [100.0, 100.6, 101.2, float("nan"), 101.5, 101.9, 102.3,
             102.0, 0.0, 101.0, 101.4, 102.2, 102.9]
    pdf = pd.DataFrame({"ts": range(1, len(price) + 1), "value": price})
    d = _chunked_dir(pdf, tmp_path, "cf_nan_zero", n_files=2)
    stream = (
        spark.readStream.schema("ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .selectExpr("'EVT' as symbol", "ts as ts_ns", "value as price")
    )
    q = (
        streaming_cusum_filter(stream, threshold=0.015)
        .writeStream.format("memory")
        .queryName("cf_nan_zero")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r["ts"] for r in spark.sql("select ts from cf_nan_zero").collect()]

    expected = _batch_cusum_flags(pdf, 0.015)
    assert {6, 9, 10} <= set(expected)
    assert sorted(got) == expected


def test_streaming_state_ops_survive_arrow_chunking(spark, stream_dir, tmp_path):
    """A single micro-batch spanning MANY Arrow chunks with rows written
    out of time order: the state functions must sort the whole batch
    once (not per chunk) to match the batch kernels."""
    import numpy as np

    from finmlkit_spark.functions.sequential import volume_bar_ids_exact
    from finmlkit_spark.streaming.bars import streaming_volume_bars

    batch = spark.read.parquet(stream_dir)
    pdf = batch.orderBy("ts", "event_id").toPandas()
    # scramble arrival order so chunk boundaries interleave time
    scrambled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    d = tmp_path / "scrambled"
    d.mkdir()
    scrambled.to_parquet(str(d / "part-0.parquet"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .parquet(str(d))
            .selectExpr(
                "'EVT' as symbol",
                "ts as ts_ns",
                "cast(1 + (event_id % 5) as double) as qty",
            )
        )
        out = streaming_volume_bars(stream, threshold=50.0)
        q = (
            out.writeStream.format("memory")
            .queryName("vb_chunked")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["ts"]: r["bar_id"] for r in spark.sql("select * from vb_chunked").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    qty = (1 + pdf["event_id"].to_numpy() % 5).astype(float)
    expected = volume_bar_ids_exact(qty, 50.0)
    exp = dict(zip(pdf["ts"].to_numpy().tolist(), expected.tolist()))
    assert len(got) == len(exp)
    assert sum(1 for k in exp if got.get(k) != exp[k]) == 0


def test_streaming_funnel_parity(spark, stream_dir, tmp_path):
    """Multi-batch streaming funnel == the batch min-after-min funnel.

    maxFilesPerTrigger=1 over a 3-file split forces the first-touch
    state to carry across micro-batches (a user's view can land in
    batch 0 and their click in batch 2)."""
    import pyarrow.parquet as pq

    from finmlkit_spark.streaming.bars import streaming_funnel

    src = str(tmp_path / "funnel_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    import os

    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet")

    batch = spark.read.parquet(stream_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .selectExpr("user_id", "event_type", "ts - ts % 1000 as ts_ns", "event_id")
    )
    out = streaming_funnel(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # stages only advance: the per-user max over all emissions is the
    # final state
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in spark.sql(
            "select user_id, max(t1) t1, max(t2) t2, max(t3) t3 "
            "from funnel_stream group by user_id"
        ).collect()
    }

    from pyspark.sql import functions as F

    ev = batch.selectExpr("user_id", "event_type", "ts - ts % 1000 as ts_ns")
    s1 = ev.where("event_type = 'view'").groupBy("user_id").agg(F.min("ts_ns").alias("t1"))
    s2 = (
        ev.where("event_type = 'click'")
        .join(s1, "user_id")
        .where("ts_ns > t1")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t2"))
    )
    s3 = (
        ev.where("event_type = 'purchase'")
        .join(s2, "user_id")
        .where("ts_ns > t2")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t3"))
    )
    want_raw = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in s1.join(s2, "user_id", "left").join(s3, "user_id", "left").collect()
    }
    want = {
        u: (t1, t2 if t2 is not None else -1, t3 if t3 is not None else -1)
        for u, (t1, t2, t3) in want_raw.items()
    }
    got_reached = {u: v for u, v in got.items() if v[0] >= 0}
    assert got_reached == want
    # cross-check the aggregate counts against the registered batch query
    from finmlkit_spark.suite.multiuser_suite import event_funnel

    counts = {r["step"]: r["n_users"] for r in event_funnel(spark, SF).collect()}
    assert counts["view"] == sum(1 for v in got_reached.values())
    assert counts["click"] == sum(1 for v in got_reached.values() if v[1] >= 0)
    assert counts["purchase"] == sum(1 for v in got_reached.values() if v[2] >= 0)


def test_streaming_hll_distinct_parity(spark, stream_dir, tmp_path):
    """Multi-batch streaming HLL == the batch hll_counts over the same
    events: register maxima only grow, so each group's LAST emission
    (max est over emissions works too since registers are monotone)
    must bit-match the batch est_raw, with the same n_empty. A 3-file
    split under maxFilesPerTrigger=1 forces register state to carry
    across micro-batches."""
    import os

    import pyarrow.parquet as pq

    from finmlkit_spark.operators import sketches as SK
    from finmlkit_spark.streaming.sketches import streaming_hll_distinct

    src = str(tmp_path / "hll_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(
            tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet"
        )

    batch = spark.read.parquet(stream_dir).select("user_id", "event_type")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", "event_type")
    )
    out = streaming_hll_distinct(stream, "event_type", "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # registers are monotone: the minimal n_empty / maximal est_raw row
    # per group is the final state
    got = {
        r["g"]: r
        for r in spark.sql(
            "select g, max(est_raw) est_raw, min(n_empty) n_empty "
            "from hll_stream group by g"
        ).collect()
    }
    want = {
        r["event_type"]: r
        for r in SK.hll_counts(batch, "event_type", "user_id").collect()
    }
    assert set(got) == set(want)
    for g, w in want.items():
        assert got[g]["est_raw"] == w["est_raw"], g  # bit-equal doubles
        assert got[g]["n_empty"] == w["n_empty"], g


def test_streaming_kmv_distinct_parity(spark, stream_dir, tmp_path):
    """Multi-batch streaming KMV == batch kmv_counts: the k-min set only
    shrinks toward smaller hashes, so each group's final emission (min
    kth_hash / max n_kept) must match the batch sketch exactly —
    including the bit-identical terminal estimate."""
    import os

    import pyarrow.parquet as pq

    from finmlkit_spark.operators import sketches as SK
    from finmlkit_spark.streaming.sketches import streaming_kmv_distinct

    src = str(tmp_path / "kmv_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(
            tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet"
        )

    batch = spark.read.parquet(stream_dir).select("user_id", "event_type")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", "event_type")
    )
    out = streaming_kmv_distinct(stream, "event_type", "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["g"]: r
        for r in spark.sql(
            "select g, max(est) est, max(n_kept) n_kept, min(kth_hash) kth_hash "
            "from kmv_stream "
            "where (g, n_kept) in (select g, max(n_kept) from kmv_stream group by g) "
            "group by g"
        ).collect()
    }
    want = {
        r["event_type"]: r
        for r in SK.kmv_counts(batch, "event_type", "user_id").collect()
    }
    assert set(got) == set(want)
    for g, w in want.items():
        assert got[g]["n_kept"] == w["n_kept"], g
        assert got[g]["kth_hash"] == w["kth_hash"], g


def test_streaming_quantile_histogram_parity(spark, stream_dir, tmp_path):
    """Multi-batch streaming quantile histogram == the batch fixed-range
    sketch over the same rows. Bin counts only grow (addition is
    associative), so each group's final emission (max n) must carry
    BIT-IDENTICAL interpolated quantiles to
    quantile_histogram(lo=,hi=) + quantile_estimates on the per-group
    batch data — both sides share the clamped floor binning expression
    and the same Python interpolation code path."""
    import os
    import struct

    import pyarrow.parquet as pq

    from finmlkit_spark.operators import sketches as SK
    from finmlkit_spark.streaming.sketches import streaming_quantile_histogram

    src = str(tmp_path / "qh_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(
            tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet"
        )

    batch = spark.read.parquet(stream_dir).select("event_type", "value")
    r = batch.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(r["lo"]), float(r["hi"])
    qs = (0.1, 0.5, 0.9)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("event_type", "value")
    )
    out = streaming_quantile_histogram(
        stream, "event_type", "value", lo=lo, hi=hi, bins=64, qs=qs
    )
    q = (
        out.writeStream.format("memory")
        .queryName("qh_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["g"]: r
        for r in spark.sql(
            "select * from qh_stream "
            "where (g, n) in (select g, max(n) from qh_stream group by g)"
        ).collect()
    }
    groups = [r["event_type"] for r in batch.select("event_type").distinct().collect()]
    assert set(got) == set(groups)
    for g in groups:
        stats, counts = SK.quantile_histogram(
            batch.where(F.col("event_type") == g).select("value"),
            "value",
            bins=64,
            lo=lo,
            hi=hi,
        )
        ests = SK.quantile_estimates(stats, counts, list(qs), bins=64)
        assert got[g]["n"] == stats[2], g
        for q_, e in zip(qs, ests):
            col = f"q{int(round(q_ * 1000)):03d}"
            assert struct.pack("<d", got[g][col]) == struct.pack("<d", e), (g, col)


def test_streaming_quantile_histogram_clamps_out_of_range(spark, tmp_path):
    """Values outside the declared [lo, hi) clamp to the edge bins on
    BOTH the streaming and batch fixed-range sides — a declared-range
    sketch must never drop or crash on range violations."""
    import struct

    from finmlkit_spark.operators import sketches as SK

    rows = [("a", float(v)) for v in (-5, 0, 1, 2, 9, 10, 15)]
    df = spark.createDataFrame(rows, "g string, value double")
    stats, counts = SK.quantile_histogram(df, "value", bins=4, lo=0.0, hi=10.0)
    assert stats == (0.0, 10.0, 7)
    assert sum(c for _, c in counts) == 7
    assert counts[0][0] == 0 and counts[-1][0] == 3  # edge bins hold the clamps
    ests = SK.quantile_estimates(stats, counts, [0.5], bins=4)
    assert ests[0] == ests[0]  # finite, not nan


def test_streaming_cm_table_parity(spark, stream_dir, tmp_path):
    """Multi-batch streaming count-min == the batch cm_table per group over
    the same rows. Counters are exact integer sums (associative), so
    the final emission per group (max total mass) must equal the batch
    table cell-for-cell — including that batch hashing per DISTINCT key
    weighted by occurrence count and streaming hashing per occurrence
    land on identical counters."""
    import os

    import pyarrow.parquet as pq

    from finmlkit_spark.operators import sketches as SK
    from finmlkit_spark.streaming.sketches import streaming_cm_table

    src = str(tmp_path / "cm_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(
            tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet"
        )

    batch = spark.read.parquet(stream_dir).select("user_id", "event_type")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", "event_type")
    )
    out = streaming_cm_table(stream, "event_type", "user_id", w=64, d=2)
    q = (
        out.writeStream.format("memory")
        .queryName("cm_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # per (g, r, bucket) the counter only grows — final = max
    got = {
        (r["g"], r["r"], r["bucket"]): r["cnt"]
        for r in spark.sql(
            "select g, r, bucket, max(cnt) cnt from cm_stream group by g, r, bucket"
        ).collect()
    }
    groups = [r["event_type"] for r in batch.select("event_type").distinct().collect()]
    want = {}
    for g in groups:
        cm = SK.cm_table(
            batch.where(F.col("event_type") == g).select(
                F.col("user_id").alias("k")
            ),
            "k",
            w=64,
            d=2,
        )
        for r in cm.collect():
            want[(g, r["r"], r["bucket"])] = r["cnt"]
    assert got == want


def test_bars_store_sink_converges_to_batch_build(spark, stream_dir, tmp_path):
    """Streaming bars -> foreachBatch upsert -> monthly bar store: the
    final store equals the batch windowed aggregate on every column
    (update-mode re-emissions converge through the batch-wins upsert),
    the _meta sidecar describes the stored rows, and re-running the
    whole stream with a fresh checkpoint over the same source leaves
    the store row-identical (effectively-once without a transactional
    table)."""
    import os

    import pyarrow.parquet as pq

    from finmlkit_spark.sources import bars_io as IO
    from finmlkit_spark.streaming.bars import bars_store_sink

    # 3-file split so windows update across micro-batches
    src = str(tmp_path / "ev_split")
    tbl = pq.read_table(f"{stream_dir}/events.parquet")
    os.makedirs(src)
    n = tbl.num_rows
    for i in range(3):
        pq.write_table(
            tbl.slice(i * n // 3, (n // 3) if i < 2 else n), f"{src}/p{i}.parquet"
        )

    batch = spark.read.parquet(src)
    sel = (
        "timestamp_micros(cast(ts / 1000 as long)) as ts",
        "value as price",
        "cast(1.0 as double) as qty",
    )
    store = str(tmp_path / "store")

    def run(checkpoint):
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .selectExpr(*sel)
        )
        bars = streaming_time_bars(stream, "1 minute", "5 minutes")
        q = bars_store_sink(bars, store, checkpoint)
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    got = {
        r["bar_close_ns"]: r
        for r in spark.read.parquet(store).drop("year_month").collect()
    }

    exp_rows = (
        batch.selectExpr(*sel)
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(
            F.min_by("price", "ts").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "ts").alias("close"),
            F.sum("qty").alias("volume"),
            (F.sum(F.col("price") * F.col("qty")) / F.sum("qty")).alias("vwap"),
            F.count("*").alias("trades"),
        )
        .withColumn("bar_close_ns", F.unix_micros(F.col("win")["end"]) * F.lit(1000))
        .drop("win")
        .collect()
    )
    exp = {r["bar_close_ns"]: r for r in exp_rows}
    assert set(got) == set(exp) and len(exp) > 1
    for k, e in exp.items():
        for c in ("open", "high", "low", "close", "volume", "vwap", "trades"):
            assert got[k][c] == e[c], (k, c)

    # sidecar equals an inspector over the stored rows
    stored = spark.read.parquet(store).drop("year_month")
    meta = {r["year_month"]: r for r in IO.read_store_meta(spark, store).collect()}
    live = {
        r["year_month"]: r
        for r in IO.store_inspector(stored, "bar_close_ns").collect()
    }
    assert set(meta) == set(live)
    for ym, r in live.items():
        assert meta[ym]["n_rows"] == r["n_rows"], ym

    # full replay with a fresh checkpoint: row-identical store
    before = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    run(str(tmp_path / "ckpt2"))
    after = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    assert after == before
