"""The batch jobs the benchmark times, as ordered layers.

A workload is a list of ``(layer name, step)`` pairs. A step takes the
run state (a dict of earlier layers' frames plus the job's inputs),
calls the library's public functions and returns the frame it adds.
Each layer's frame carries the columns the final table needs, so the
prefix ending at a layer contains every earlier one. The last layer
writes the result table and returns None.

The timed runs call the steps as a caller would: lazy plans, cut only at
the datasets every later step reads from under a deep chain — the
side-tagged trades, the bar feature table (``CALLER_CUTS``) and the
labels — as ``cache.cut`` advises (``TICK_LAYERS``); and the whole
``CurationKit`` in one call, which cuts nothing (``CURATION_JOB``).
With the trades and labels cut but not the feature table, a tick run
took about 3x longer, re-deriving the bars in every branch that joins
them back; with no cut at all its plan did not finish analysing in
minutes. The traced pass runs the same calls split per layer
(``TICK_LAYERS``, ``CURATION_LAYERS``) with every frame behind a
lineage cut (:func:`run_layers` with ``cut_every=True``), so
executing layer k's frame after layer k-1's runs only layer k's work:
its marginal cost.
"""

from __future__ import annotations

from pyspark.sql import functions as F

MIN_NS = 60_000_000_000
HOUR_NS = 3_600_000_000_000
HORIZON_NS = 15 * MIN_NS  # vertical barrier
EWMS_SPAN = 100  # bars
CUSUM_MULT = 2.0  # CUSUM threshold in units of the EW return std
TARGET_MULT = 3.0  # barrier half-width in units of the EW return std
TICK = 0.01


# -- tick_pipeline ------------------------------------------------------------


def _read_trades(st):
    from finmlkit_spark.sources.trades import read_trades_parquet

    return read_trades_parquet(st["spark"], st["input"])


def _clean(st):
    from finmlkit_spark.operators import preprocess as P

    return P.merge_split_trades(P.dedup_trades(st["sources.read_trades"]))


def _side(st):
    from finmlkit_spark.operators import preprocess as P

    # the chunk-parallel scale path, not the auto row-count probe: the
    # generated stream is below the 1M-row crossover
    return P.with_trade_side_chunked(st["preprocess.clean"], mode="chunked")


def _bars(st):
    from finmlkit_spark.operators import bars as B

    return B.bar_ohlcv(B.with_time_bar(st["preprocess.side"], MIN_NS), by=None)


def _footprint(st):
    from finmlkit_spark.operators import bars as B
    from finmlkit_spark.operators import footprint as FP

    bars = st["bars.ohlcv"]
    fp = FP.footprint_long(B.with_time_bar(st["preprocess.side"], MIN_NS), tick=TICK)
    feats = FP.footprint_features(
        fp, tick=TICK, bar_vwap=bars.select("bar_close_ns", F.col("vwap").alias("bar_vwap"))
    )
    return bars.join(feats, "bar_close_ns", "left")


def _flagship(st):
    from finmlkit_spark.suite.pipeline_suite import flagship_feature_stage

    bars = st["footprint.features"]
    fl = flagship_feature_stage(st["bars.ohlcv"], mode="chunked")
    extra = [c for c in bars.columns if c not in fl.columns or c == "bar_close_ns"]
    return fl.join(bars.select(*extra), "bar_close_ns")


def _ewms(st):
    from finmlkit_spark.functions.sequential import ewms_parallel

    feats = st["features.flagship"]
    rets = feats.select("bar_close_ns", "ret_1").where(F.col("ret_1").isNotNull())
    sig = ewms_parallel(rets, "ret_1", EWMS_SPAN, order_col="bar_close_ns", out="sigma")
    return feats.join(sig, "bar_close_ns")


def _cusum(st):
    from finmlkit_spark.functions.sequential import cusum_filter_chunked

    feats = st["sequential.ewms"]
    inp = feats.where(F.col("sigma") > 0).select(
        "bar_close_ns", "ret_1", (F.col("sigma") * CUSUM_MULT).alias("thr")
    )
    flags = cusum_filter_chunked(inp, r_col="ret_1", order_col="bar_close_ns", thr_col="thr")
    ev = flags.where(F.col("flag") == 1).select("bar_close_ns")
    return feats.join(ev, "bar_close_ns")


def _tbm(st):
    from finmlkit_spark import cache
    from finmlkit_spark.operators import labels as L

    ev = st["sequential.cusum"]
    events = ev.select(
        F.col("bar_close_ns").alias("event_id"),
        F.col("bar_close_ns").alias("event_ts_ns"),
        F.col("close").alias("entry_price"),
        (F.col("sigma") * TARGET_MULT).alias("target"),
    )
    raw = L.triple_barrier(events, st["preprocess.side"], HORIZON_NS, bucket_ns=HOUR_NS)
    st["labels.raw"] = raw  # its executed plan holds the path join's row counts
    # read twice (here and by the weights), under a deep chain: cut as
    # ``cache.cut`` advises for triple barrier -> sweep
    lab = cache.cut(raw)
    st["labels"] = lab
    return ev.join(
        lab.select(
            F.col("event_id").alias("bar_close_ns"),
            "label", "touch_ts_ns", "touch_ret", "barrier_ratio",
        ),
        "bar_close_ns",
    )


def _weights(st):
    from finmlkit_spark.operators import labels as L

    lab = st["labels"]
    spans = lab.select("event_id", "event_ts_ns", "touch_ts_ns")
    u = L.average_uniqueness_sweep(spans, st["preprocess.side"], chunk_ns=HOUR_NS)
    td = L.time_decay(u).select("event_id", "decay_weight")
    cb = L.class_balance_weights(
        lab.select("event_id", "label").join(u, "event_id").withColumnRenamed("uniqueness", "w")
    ).select("event_id", F.col("w").alias("uniqueness"), "balanced_w")
    w = cb.join(td, "event_id").withColumnRenamed("event_id", "bar_close_ns")
    return st["labels.tbm"].join(w, "bar_close_ns")


def _write(key):
    def step(st):
        st[key].write.mode("overwrite").parquet(st["output"])

    return step


TICK_LAYERS = [
    ("sources.read_trades", _read_trades),
    ("preprocess.clean", _clean),
    ("preprocess.side", _side),
    ("bars.ohlcv", _bars),
    ("footprint.features", _footprint),
    ("features.flagship", _flagship),
    ("sequential.ewms", _ewms),
    ("sequential.cusum", _cusum),
    ("labels.tbm", _tbm),
    ("labels.weights", _weights),
    ("sink.parquet", _write("labels.weights")),
]


# -- near_dup_curation --------------------------------------------------------


def _read_docs(st):
    return st["spark"].read.parquet(st["input"])


def _curate(st):
    from finmlkit_spark.plans.curation import (
        CurationKit, ExactDedup, HashSplit, NearDupDedup, QualityFilter,
    )

    kit = CurationKit([QualityFilter(), ExactDedup(), NearDupDedup(NEAR_DUP_THRESHOLD),
                       HashSplit()])
    return kit.run(st["sources.read_docs"])


def _stage(kind, src):
    """A one-stage ``CurationKit`` with the stage's default parameters."""

    def step(st):
        from finmlkit_spark.plans.curation import CurationKit, stage_from_config

        return CurationKit([stage_from_config({"kind": kind})]).run(st[src])

    return step


def _minhash(st):
    from finmlkit_spark.operators import dedup as D

    pairs = D.minhash_lsh_pairs(st["plans.exact_dedup"], threshold=NEAR_DUP_THRESHOLD)
    st["dedup.minhash_lsh.raw"] = pairs  # its executed plan holds the candidate count
    return pairs


def _keep_canonical(st):
    from finmlkit_spark.operators import dedup as D

    return D.keep_canonical(st["plans.exact_dedup"], st["dedup.minhash_lsh"])


NEAR_DUP_THRESHOLD = 0.6

#: the timed job: one ``CurationKit`` run, then the write
CURATION_JOB = [
    ("sources.read_docs", _read_docs),
    ("plans.curation", _curate),
    ("sink.parquet", _write("plans.curation")),
]

#: the traced pass: the kit's stages, one layer each; NearDupDedup is
#: its two calls (pairs, then canonical keep) so each is its own layer
CURATION_LAYERS = [
    ("sources.read_docs", _read_docs),
    ("text.quality_filter", _stage("quality_filter", "sources.read_docs")),
    ("plans.exact_dedup", _stage("exact_dedup", "text.quality_filter")),
    ("dedup.minhash_lsh", _minhash),
    ("dedup.keep_canonical", _keep_canonical),
    ("sampling.hash_split", _stage("hash_split", "dedup.keep_canonical")),
    ("sink.parquet", _write("sampling.hash_split")),
]


#: layers whose frame every later tick step reads: the timed job cuts
#: lineage after them, as a caller would
CALLER_CUTS = ("preprocess.side", "features.flagship")


def run_layers(layers, st, cut_every=False, on_layer=None):
    """Run every step in order, storing each layer's frame in ``st``
    under its layer name. With ``cut_every`` every frame sits behind a
    lineage cut (``cache.cut``), so each layer's work runs once however
    many later layers read it; without, only ``CALLER_CUTS`` do.
    ``on_layer(name, thunk)`` wraps each step (the tracer's spans); by
    default a step is simply called."""
    from finmlkit_spark import cache

    for name, step in layers:
        cut = cut_every or name in CALLER_CUTS
        thunk = (lambda step=step, cut=cut: _cut(cache, step(st), cut))
        st[name] = thunk() if on_layer is None else on_layer(name, thunk)
    return st


def _cut(cache, df, cut):
    return cache.cut(df) if cut and df is not None else df
