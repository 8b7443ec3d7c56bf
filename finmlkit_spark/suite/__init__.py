from ._registry import QUERIES, ORACLES

from . import bars_suite  # noqa: F401
from . import features_suite  # noqa: F401
from . import sequential_suite  # noqa: F401
from . import labels_suite  # noqa: F401
from . import footprint_suite  # noqa: F401
from . import text_suite  # noqa: F401
from . import io_suite  # noqa: F401
from . import pipeline_suite  # noqa: F401
from . import misc_suite  # noqa: F401
from . import multiuser_suite  # noqa: F401
from . import analytics_suite  # noqa: F401
from . import developing_suite  # noqa: F401

# Registration order is the oracle check order, and a bounded check
# covers only the first 50 registered queries, so _reorder() moves the
# _PRIORITY names to the front and keeps every other query after them.
_PRIORITY = [
    "store_upsert",
    "tfidf_index_topk",
    "kmv_fast_user_count",
    "hybrid_search",
    "kmv_overlap",
    "tfidf_cosine_pairs",
    "footprint_features",
    "ann_topk",
    "lsh_recall_audit",
    "bigram_logprob",
    "perplexity_buckets",
    "embedding_outliers",
    "diverse_sample",
    "quantile_sketch_audit",
    "image_decode_stats",
    "image_resize_stats",
    "image_phash_pairs",
    "video_frame_stats",
    "video_mjpeg_stats",
    "seq_atr_ema",
    "tbm_labels",
    "tbm_meta",
    "minhash_lsh",
    "time_bars_filled",
    "seq_cusum_bars",
    "seq_bar_duration_ewma",
    "hurst_exponent",
    "approx_entropy",
    "featurekit_build",
    "user_sessions",
    "simhash_near_pairs",
    "lang_id",
    "frame_offsets",
    "corpus_report",
    "stratified_sample",
    "hash_split",
    "doc_quality_signals",
    "vocab_topk",
    "tfidf_keywords",
    "doc_chunks",
    "user_trade_side",
    "user_ewma",
    "user_tbm_labels",
    "priority_fill_rate",
    "doc_fingerprint",
    "decontamination_bloom",
    "dedup_clusters_star",
    "store_meta_sidecar",
    "trades_side",
    "tick_bars",
    "volume_bars_approx",
]


def _reorder() -> None:
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    ordered.update({n: q for n, q in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_reorder()

__all__ = ["QUERIES", "ORACLES"]
