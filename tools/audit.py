"""Plan auditor: prints condensed physical plans for key queries so the
pushdown/broadcast/shuffle claims in SCALE.md are checkable.

Usage: python tools/audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the library too: from this same checkout
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

AUDIT = [
    "pipeline_1m_features",
    "time_bars_1m",
    "tbm_labels",
    "tbm_meta",
    "event_concurrency",
    "feat_fast_stage",
    "regional_revenue",
    "minhash_lsh",
    "image_decode_stats",
    "sequence_packing",
    "decontamination",
    "ann_topk",
    "ann_ivf",
    "user_hourly_bars",
    "user_fast_features",
    "mixture_sample",
    "segment_dedup",
    "kmeans_clusters",
    "curation_pipeline",
    "asof_tolerance",
    "dup_spans",
    "vocab_topk",
    "tfidf_keywords",
    "doc_chunks",
    "dedup_keep_best",
    "simhash_near_pairs",
    "semantic_dedup",
    "dedup_clusters",
    "avg_uniqueness",
    "return_attribution",
    "decontamination_bloom",
    "bar_directional_1m",
    "footprint_features",
    "ann_pq_topk",
    "ann_ivf_pq",
    "remove_dup_spans",
    "gopher_filter",
    "video_frame_stats",
    "video_mjpeg_stats",
    "gopher_repetition",
    "weighted_sample",
    "embedding_covariance",
    "bpe_train",
    "bpe_segment",
    "bigram_logprob",
    "token_length_stats",
    "inverted_index",
    "bm25_topk",
    "dup_graph_pagerank",
    "event_funnel",
    "cohort_retention",
    "ann_sq8_topk",
    "keep_central",
    "hashed_features",
    "knn_graph",
    "normalized_dedup",
    "source_length_trim",
    "ann_ivf_sq8",
    "diverse_sample",
    "wordpiece_stats",
    "revenue_rollup",
    "price_histogram_equidepth",
    "nation_customer_deciles",
    "funnel_latency",
    "zipf_fit",
    "pii_redact",
    "oov_rate",
    "rfm_segments",
    "cross_source_dup_matrix",
    "error_rate_spikes",
    "session_path_topk",
    "pmi_top_pairs",
    "tfidf_cosine_pairs",
    "lsh_recall_audit",
    "late_shipment_priority",
    "forecast_revenue",
    "inactive_high_balance",
    "top_supplier_revenue",
    "ngram_jaccard",
    # the cardinality-sketch tier + LM-quality split + QC
    "hll_user_count",
    "kmv_user_count",
    "kmv_overlap",
    "perplexity_buckets",
    "embedding_outliers",
    "cm_token_freq",
    "hybrid_search",
    "quantile_sketch_audit",
    # the production sketch path (per-occurrence xxhash64 +
    # map-side partial reduction — no raw-key exchange anywhere)
    "kmv_fast_user_count",
]

INTERESTING = re.compile(
    r"(FileScan|Exchange|Sort \[|HashAggregate|SortAggregate|ObjectHashAggregate|Window|"
    r"BroadcastHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoopJoin|ArrowEvalPython|FlatMapGroupsInPandas|Generate|Project \[|Filter)"
)


def condense(plan: str, max_lines: int = 40) -> list[str]:
    out = []
    for line in plan.split("\n"):
        if INTERESTING.search(line):
            clean = line.strip()[:150]
            out.append(clean)
        if len(out) >= max_lines:
            break
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from finmlkit_spark import suite
    from finmlkit_spark.session import get_spark

    spark = get_spark("audit")
    print("# PLANS — condensed physical plans (auto-generated by tools/audit.py)\n")
    print(
        "`Exchange SinglePartition` nodes below fall into three sanctioned\n"
        "classes only: (a) scalar aggregates (k-row/1-row reductions with\n"
        "map-side partials), (b) ordered-window prefixes over k-row\n"
        "TIME-CHUNK axis tables (bounded at any data scale — see the span\n"
        "sweep), and (c) below-crossover global windows that the auto mode\n"
        "deliberately selects at this audit's small scale (the at-scale\n"
        "chunked plans are recorded separately, e.g. the forced-chunked\n"
        "flagship at the bottom). Anything else is a regression —\n"
        "test_plan_regression.py and the tbm-parity plan guard pin this.\n"
    )
    for name in AUDIT:
        df = suite.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"## {name}\n")
        if name == "kmeans_clusters":
            print(
                "(driver-carried mode: the plan below is the FINAL map-only\n"
                "assignment; each Lloyd iteration ran at build time as one\n"
                "mapInPandas job collecting k partial-sum rows per partition —\n"
                "see similarity.kmeans_assign)\n"
            )
        print("```")
        for line in condense(plan):
            print(line)
        print("```\n")

    # the at-scale plans: below their crossovers the registry queries
    # auto-select the single-partition forms (global flagship window,
    # one-partition segment_dedup), so force every crossover to its
    # scale side to record the zero-SinglePartition plan a 100 TB input
    # would get (pinned by test_plan_regression)
    from finmlkit_spark import cache

    for name in ("pipeline_1m_features", "segment_dedup"):
        cache._FORCE_DISTRIBUTED = True
        try:
            df = suite.QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            cache._FORCE_DISTRIBUTED = False
        print(f"## {name} (forced scale side — the at-scale plan)\n")
        print("```")
        for line in condense(plan):
            print(line)
        print("```\n")

    # the production sketch builds (library functions — the
    # registry keeps the portable oracle forms; kmv_fast_user_count
    # above covers the KMV production query). The claim to check: NO
    # exchange or aggregate keys on the raw key column — the only
    # exchanges hash-partition on (g, ridx)/(g) [HLL] or (r, bucket)
    # [CM], each fed by a partial (map-side) aggregate.
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import sketches as SK
    from finmlkit_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    for title, dfb in (
        (
            "hll_counts_fast (production sketch path, p=12)",
            SK.hll_counts_fast(ev, "event_type", "user_id", p=12),
        ),
        (
            "cm_table_fast (production sketch path, w=1024 d=3)",
            SK.cm_table_fast(
                ev.select(F.col("user_id").alias("k")), "k", w=1024, d=3
            ),
        ),
    ):
        plan = dfb._jdf.queryExecution().executedPlan().toString()
        print(f"## {title}\n")
        print("```")
        for line in condense(plan):
            print(line)
        print("```\n")

    # pagerank over a materialized dup-graph edge
    # table — the claim to check: the ONLY FileScan is the edge
    # parquet (no documents scan, no shingle/SimHash/band-join stage
    # at query time); each iteration is an edge-scale join against
    # the node-bounded rank table (AQE broadcasts it at runtime).
    import tempfile

    from finmlkit_spark import cache
    from finmlkit_spark.operators import dedup as DD
    from finmlkit_spark.operators import retrieval as RT
    from finmlkit_spark.suite.text_suite import _docs

    with tempfile.TemporaryDirectory() as td:
        DD.materialize_simhash_edges(_docs(spark, sf_dir), f"{td}/edges")
        e = DD.read_simhash_edges(spark, f"{td}/edges").select("doc_a", "doc_b")
        df = RT.pagerank(e, a_col="doc_a", b_col="doc_b")
        plan = df._jdf.queryExecution().executedPlan().toString()
        cache.release_all()
    print("## pagerank over materialized simhash edges (production dup-graph path)\n")
    print("```")
    for line in condense(plan):
        print(line)
    print("```\n")


if __name__ == "__main__":
    main()
