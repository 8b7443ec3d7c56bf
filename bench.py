"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Queries are materialized with the noop sink so we measure engine time,
not driver-side collection.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pipeline_1m_features",  # flagship: events->trades->bars->12 features
    "time_bars_1m",
    "bar_directional_1m",
    "dollar_bars",
    "footprint_features",
    "tbm_labels",
    # the one-sweep average uniqueness (one exchange of the trade stream)
    "avg_uniqueness",
    "seq_ewma",
    "seq_cusum_test",
    "minhash_lsh",
    "sequence_packing",
    "doc_quality_signals",
    "ann_topk",
    "ann_ivf",
    "ann_pq_topk",
    # the composed IVFPQ search — the ANN scale path
    "ann_ivf_pq",
    "kmeans_clusters",
    "curation_pipeline",
    "bars_resample_15m",
    "user_hourly_bars",
    # LLM-curation scale operators: the dedup/semantic tier's scale
    # claims get measured, not asserted
    "semantic_dedup",
    "dedup_clusters",
    "dedup_clusters_star",
    "segment_dedup",
    "simhash_near_pairs",
    "ngram_jaccard",
    # trade-scale median, span-level dedup, JL ANN
    "burst_ratio_trades",
    "dup_span_ranges",
    "ann_projected_topk",
    # general star-schema analytics: the classic join/agg shapes —
    # pushdown scan, semi-join, HAVING rollup, scalar-subquery max —
    # measured alongside the domain operators
    "pricing_summary",
    "forecast_revenue",
    "late_shipment_priority",
    "large_volume_orders",
    "top_supplier_revenue",
    # retrieval, product analytics, SQ8 ANN
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
    # the cardinality-sketch tier + LM-quality split
    "hll_user_count",
    "kmv_user_count",
    "kmv_overlap",
    "perplexity_buckets",
    "embedding_outliers",
    "cm_token_freq",
    "hybrid_search",
    "quantile_sketch_audit",
    # the production sketch path (per-occurrence
    # xxhash64 + map-side partial reduction), oracle-gated through
    # KMV's below-k exactness
    "kmv_fast_user_count",
    # incremental-ingest round-trip — IO-bound by design (two
    # store writes + read-back; see BENCH_NOTES), not a scan constant
    "store_upsert",
    # the materialized retrieval index served + gated (same
    # IO-bound class: index write + read-back inside the query)
    "tfidf_index_topk",
    # NOT here: the seq_*_parallel closed-combine scans — their fixed
    # chunk/carry machinery (~3 s) swamps 90k-bar inputs; the honest
    # scale measurement is the 16M-row single-symbol probe recorded in
    # SCALE.md, where the parallel form wins and keeps scaling.
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from finmlkit_spark import cache, suite
    from finmlkit_spark.session import get_spark

    spark = get_spark("bench")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    def timed(df, runs: int = 5) -> float:
        """Warm once, then best-of-N noop writes (JVM timing noise on a
        shared host easily exceeds 2x; min is the honest engine time)."""
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    def timed_safe(df, runs: int = 5) -> float | None:
        """A broken synthetic must not zero out the whole bench JSON."""
        try:
            return timed(df, runs)
        except Exception:  # noqa: BLE001
            return None

    def tput(n: int, sec: float | None, **extra):
        if sec is None:
            return {"rows": n, "sec": None, "rows_per_sec": None, **extra}
        return {"rows": n, "sec": round(sec, 3), "rows_per_sec": int(n / sec), **extra}

    # --- synthetic throughputs FIRST: measured in a clean JVM, before the
    # headline suite accumulates codegen classes / Python workers ---------
    from pyspark.sql import functions as F

    from finmlkit_spark.functions import rolling as R
    from finmlkit_spark.operators import bars as B

    # large-scale bar-build throughput (comparable to the reference's
    # 39M-trade OHLCV headline): 20M generated trades -> 1-min OHLCV hash
    # aggregation, measured warm.
    # per-query floor: the fixed cost of (plan build + noop write) for
    # a trivial 1-row query under the same timing procedure — the
    # baseline to subtract when reading sub-second headline numbers
    # (Spark's stage-scheduling floor dominates them at sf0.1)
    floor_df = spark.range(1)
    floor_df.write.format("noop").mode("overwrite").save()
    floor_best = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor_best = min(floor_best, time.time() - t0)

    n_syn = 20_000_000
    syn = spark.range(n_syn).select(
        (F.lit(1_700_000_000_000_000_000) + F.col("id") * 50_000_000).alias("ts_ns"),
        F.col("id").alias("trade_id"),
        (100.0 + F.sin(F.col("id") / 1000.0) * 5.0 + (F.col("id") % 97) * 0.01).alias("price"),
        (1.0 + (F.col("id") % 5)).cast("double").alias("qty"),
    )
    syn_bars = B.bar_ohlcv(B.with_time_bar(syn, 60_000_000_000), by=None)
    syn_sec = timed_safe(syn_bars)

    # multi-symbol feature stage: 100 symbols x 40k bars, six window
    # features per symbol. The measured path is the O(1)-per-row
    # prefix-sum stage (rolling.fast_feature_stage); the O(frame)-per-row
    # bounded-frame helpers are reported alongside for comparison.
    n_feat = 4_000_000
    fb = spark.range(n_feat).select(
        (F.col("id") % 100).cast("string").alias("symbol"),
        (F.col("id") / 100).cast("long").alias("bar_close_ns"),
        (100.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("close"),
        (101.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("high"),
        (99.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("low"),
        (1.0 + (F.col("id") % 7)).cast("double").alias("volume"),
    )
    feat = R.fast_feature_stage(fb, by="symbol")
    feat_sec = timed_safe(feat)

    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("bar_close_ns")
    feat_exact = fb.select(
        "symbol",
        "bar_close_ns",
        R.sma("close", 20, w).alias("sma"),
        R.zscore("close", 20, w).alias("z"),
        R.stoch_k("close", "high", "low", 14, w).alias("k"),
        R.roc("close", 5, w).alias("roc"),
        R.vwap_distance("close", "volume", 20, w).alias("vd"),
        R.bollinger_percent_b("close", 20, w).alias("bb"),
    )
    feat_exact_sec = timed_safe(feat_exact)

    # single-symbol chunked flagship: 4M bars of ONE symbol through the
    # full 12-feature flagship window block — the workload that is a
    # single-core SinglePartition without chunked_window. Measures the
    # scale path's real throughput on the exact production expressions.
    from finmlkit_spark.suite.pipeline_suite import flagship_feature_stage

    n_flag = 4_000_000
    fbars = spark.range(n_flag).select(
        ((F.col("id") + 1) * 60_000_000_000).alias("bar_close_ns"),
        (100.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("open"),
        (101.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("high"),
        (99.0 + F.sin(F.col("id") / 500.0) * 3.0).alias("low"),
        (100.5 + F.sin(F.col("id") / 500.0) * 3.0).alias("close"),
        (1.0 + (F.col("id") % 7)).cast("double").alias("volume"),
        (100.2 + F.sin(F.col("id") / 500.0) * 3.0).alias("vwap"),
        (F.col("id") % 50 + 1).alias("trades"),
    )
    flag = flagship_feature_stage(fbars, persist=False)
    flag_sec = timed_safe(flag)
    spark.catalog.clearCache()

    # average uniqueness at scale: 4M trades x 40k overlapping spans
    # (~100 in-span trades per event). The sweep exchanges the trade
    # stream once and reads prefix sums at the 80k marker rows.
    from finmlkit_spark.operators import labels as LB

    n_uniq = 4_000_000
    utr = spark.range(n_uniq).select(
        (F.col("id") * 1_000_000_000).alias("ts_ns"), F.col("id").alias("trade_id")
    )
    uspans = spark.range(n_uniq // 100).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 100_000_000_000).alias("event_ts_ns"),
        (F.col("id") * 100_000_000_000 + 250_000_000_000).alias("touch_ts_ns"),
    )
    uniq_sw_sec = timed_safe(LB.average_uniqueness_sweep(uspans, utr))
    spark.catalog.clearCache()

    # MinHash+LSH dedup at 10x the sf0.1 corpus: 50k synthetic docs
    # (~45 tokens each from a modular vocabulary; doc i and i+25000
    # share the same token stream except one word, i.e. guaranteed
    # near-dups) -> signature, band join, exact-Jaccard verify. The
    # measured scale claim behind the headline minhash_lsh number.
    from finmlkit_spark.operators import dedup as DD

    n_docs = 50_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(44)),
        lambda i: F.concat(
            F.lit("w"),
            (((F.col("id") % 25_000) * 37 + i * 11) % 2203).cast("string"),
        ),
    )
    docs_syn = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(words, F.array(F.concat(F.lit("u"), (F.col("id") >= 25_000).cast("int").cast("string")))),
        ).alias("text"),
    )
    dedup_syn_sec = timed_safe(
        DD.minhash_lsh_pairs(docs_syn, threshold=0.5), runs=2
    )
    from finmlkit_spark import cache as _cache

    _cache.release_all()
    spark.catalog.clearCache()

    # --- headline queries: THREE staggered passes, each in a FRESH
    # SparkSession: three same-day measurements of identical code
    # disagreed by ±30% under co-tenant load, so no single pass is
    # trustworthy. Per query the recorded number is the
    # MIN across passes (each pass itself a warm best-of-2 — each run
    # rebuilds the plan AND executes it: driver-side plan construction
    # is real per-query latency, and iterative operators do distributed
    # work at build time); the per-pass minima also yield a SPREAD
    # ((max-min)/min across passes) and per-pass loadavg so a reader
    # can see which numbers were taken under noise. build/exec splits
    # come from the overall-best run so they sum to the headline number.
    def headline_pass(spark):
        times: dict[str, float] = {}
        builds: dict[str, float] = {}
        execs: dict[str, float] = {}
        errors: dict[str, str] = {}
        for name in HEADLINE:
            if name not in suite.QUERIES:
                continue
            best = float("inf")
            try:
                # run 0 warms codegen and the Python workers
                suite.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                for _ in range(2):
                    # drop the tracked keep-persists BEFORE each timed run
                    # so the timed region pays cache materialization —
                    # otherwise run 0 leaves InMemoryRelations populated
                    # and the timed runs CacheManager-match them for free,
                    # exempting every cache.keep subtree from the timed
                    # work.
                    cache.release_all()
                    t0 = time.time()
                    df = suite.QUERIES[name](spark, sf_dir)
                    t1 = time.time()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.time()
                    if t2 - t0 < best:
                        best = t2 - t0
                        builds[name] = round(t1 - t0, 4)
                        execs[name] = round(t2 - t1, 4)
                times[name] = round(best, 4)
            except Exception as e:  # noqa: BLE001
                # one broken query must not zero out the whole bench
                # signal
                errors[name] = f"{type(e).__name__}: {e}"[:300]
            finally:
                # operators pin bounded side tables; the batch runner
                # owns the cleanup between queries
                cache.release_all()
        return times, builds, execs, errors

    passes = []
    pass_loadavg = []
    pass_totals = []
    errors: dict[str, str] = {}
    for p in range(3):
        # fresh session per pass: new app id, empty relation/centroid
        # memos, fresh Python workers — each pass re-pays every warmup
        spark.stop()
        spark = get_spark(f"bench-pass{p}")
        t, b, e, err = headline_pass(spark)
        passes.append((t, b, e))
        errors.update(err)
        pass_loadavg.append(round(os.getloadavg()[0], 2))
        pass_totals.append(round(sum(t.values()), 4))

    times: dict[str, float] = {}
    builds: dict[str, float] = {}
    execs: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        vals = [(t[name], b[name], e[name]) for t, b, e in passes if name in t]
        if not vals:
            continue
        best = min(vals)
        times[name] = best[0]
        builds[name] = best[1]
        execs[name] = best[2]
        mx = max(v[0] for v in vals)
        spread[name] = round((mx - best[0]) / best[0], 2) if best[0] > 0 else 0.0

    # a query that failed in one pass but timed in another is NOT broken
    # — keep error entries only for queries with no recorded time, so
    # the durable record never lists a query as both timed and erroring
    errors = {n: m for n, m in errors.items() if n not in times}

    total = round(sum(times.values()), 4)
    # Key order is least- to most-important: the durable record keeps only
    # the LAST ~2 kB of this line, so the synthetics and the build split go first and the
    # per-query totals + headline metric go last — truncation eats the
    # synthetics, never the totals.
    print(
        json.dumps(
            {
                "synthetic_bar_build": tput(n_syn, syn_sec),
                "synthetic_feature_windows": tput(n_feat, feat_sec, features=6),
                "synthetic_feature_windows_exact_frames": tput(n_feat, feat_exact_sec, features=6),
                "synthetic_chunked_flagship_single_symbol": tput(n_flag, flag_sec, features=12),
                "synthetic_avg_uniqueness_sweep": tput(n_uniq, uniq_sw_sec),
                "synthetic_minhash_lsh_50k_docs": tput(n_docs, dedup_syn_sec),
                "query_floor_sec": round(floor_best, 4),
                # co-tenant noise indicator: 1.4-2.3x inflation was
                # measured on shuffle-heavy queries while loadavg sat
                # at 2-6 — pass_loadavg above gives the per-pass view
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "pass_loadavg": pass_loadavg,
                "pass_totals": pass_totals,
                "queries_spread": spread,
                "queries_build": builds,
                "queries_exec": execs,
                **({"query_errors": errors} if errors else {}),
                "queries": times,
                "sf": sf,
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
            }
        )
    )


if __name__ == "__main__":
    main()
