"""Empty-input robustness: every major operator must plan and execute
on zero-row frames, including the probes that read the input's shape
(a dimension probe must not build SQL from a missing row), and every
Arrow kernel stage returns zero rows in its declared schema."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _empty(spark, schema: str):
    return spark.createDataFrame([], schema)


TRADES = "symbol string, ts_ns long, trade_id long, price double, qty double"
DOCS = "doc_id long, text string"
EMBS = "vec_id long, embedding array<double>"


def test_preprocess_ops_empty(spark):
    from finmlkit_spark.operators import preprocess as P

    tr = _empty(spark, TRADES)
    assert P.with_trade_side(tr).count() == 0
    assert P.with_trade_side_chunked(tr).count() == 0
    assert P.merge_split_trades(tr).count() == 0
    assert P.integrity_report(tr).count() == 0
    assert P.infer_tick_size(tr) == 0.01  # documented fallback


def test_bars_ops_empty(spark):
    from finmlkit_spark.operators import bars as B

    tr = _empty(spark, TRADES + ", side int")
    bars = B.bar_ohlcv(B.with_time_bar(tr, 60_000_000_000))
    assert bars.count() == 0
    assert B.bar_ohlcv_salted(B.with_time_bar(tr, 60_000_000_000)).count() == 0


def test_labels_ops_empty(spark):
    from finmlkit_spark.operators import labels as L

    ev = _empty(spark, "event_id long, event_ts_ns long, entry_price double, target double")
    tr = _empty(spark, "ts_ns long, price double")
    assert L.triple_barrier(ev, tr, horizon_ns=10**12).count() == 0
    spans = _empty(spark, "event_id long, event_ts_ns long, touch_ts_ns long")
    trv = _empty(spark, "ts_ns long")
    assert L.average_uniqueness_sweep(spans, trv).count() == 0


def test_dedup_ops_empty(spark):
    from finmlkit_spark.operators import corpus as CP
    from finmlkit_spark.operators import dedup as D

    docs = _empty(spark, DOCS)
    assert D.exact_dedup(docs).count() == 0
    assert D.minhash_lsh_pairs(docs).count() == 0
    assert D.ngram_jaccard_pairs(docs).count() == 0
    assert D.simhash_near_pairs(docs).count() == 0
    assert CP.segment_dedup(docs).count() == 0
    pairs = _empty(spark, "doc_a long, doc_b long")
    assert D.dedup_clusters(pairs).count() == 0
    assert D.dedup_clusters_star(pairs).count() == 0


def test_similarity_ops_empty(spark):
    from finmlkit_spark.operators import similarity as S

    embs = _empty(spark, EMBS)
    assert S.kmeans_assign(embs).count() == 0
    assert S.semantic_dup_pairs(embs).count() == 0
    # explicit dim skips the probe and must behave identically on empty
    assert S.kmeans_assign(embs, dim=8).count() == 0


def test_multimodal_ops_empty(spark):
    from finmlkit_spark.operators import multimodal as MM

    df = _empty(spark, "doc_id long, payload binary")
    assert MM.decode_meta(df).count() == 0
    assert MM.image_features(df).count() == 0
    assert MM.audio_spectral(df).count() == 0
    assert MM.image_resize(df, 4, 4).count() == 0
    assert MM.audio_features(df).count() == 0
    assert MM.image_features(df, on_error="null").count() == 0
    assert MM.video_frame_stats(df, on_error="null").count() == 0
    assert MM.image_phash(df).count() == 0


def test_similarity_encode_kernels_empty(spark):
    import numpy as np

    from finmlkit_spark.operators import similarity as S
    from finmlkit_spark.operators import sketches as SK

    embs = _empty(spark, EMBS)
    books = [np.zeros((2, 4)), np.ones((2, 4))]
    seeds = [(0, [1.0] * 8, float(np.sqrt(8.0)))]
    bounds = (np.zeros(8), np.ones(8))
    stages = {
        "pq_encode": S.pq_encode(embs, m=2, codebooks=books),
        "ivf_pq_encode": S.ivf_pq_encode(embs, m=2, seeds=seeds, codebooks=books),
        "sq8_encode": S.sq8_encode(embs, bounds=bounds),
        "ivf_sq8_encode": S.ivf_sq8_encode(embs, seeds=seeds, bounds=bounds),
        "random_projection": S.random_projection(embs, dim=8),
        "embedding_covariance": S.embedding_covariance(embs),
        "lsh_bucket_arrow": embs.select(S.lsh_bucket_arrow(F.col("embedding"), dim=8)),
        "cosine_batch": embs.select(S.cosine_batch(F.col("embedding"), F.col("embedding"))),
        "kmv_counts_fast": SK.kmv_counts_fast(
            _empty(spark, "g string, key string"), "g", "key"
        ),
    }
    assert {name: df.count() for name, df in stages.items()} == dict.fromkeys(stages, 0)
