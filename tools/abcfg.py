"""Interleaved config A/B over a query subset, honest-timing methodology
(mirrors bench.py post-r14-fix: warm run 0, then timed runs that
re-materialize the tracked persists).

Usage: python tools/abcfg.py <sf_dir> <overlay_json> [--reps=N] [--queries=a,b,c]

overlay_json: {"label": {"spark.conf.key": "value", ...}, ...} — each
label is one side; sides run INTERLEAVED (A,B,A,B,...) in fresh
sessions so host drift cancels. Prints one per-side per-query min table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "curation_pipeline", "dedup_clusters_star", "ngram_jaccard",
    "keep_central", "dup_graph_pagerank", "dedup_clusters",
    "tfidf_cosine_pairs", "minhash_lsh", "hybrid_search",
    "perplexity_buckets", "ann_sq8_topk", "cross_source_dup_matrix",
    "ann_ivf_sq8", "dup_span_ranges", "simhash_near_pairs",
    "cm_token_freq", "footprint_features", "kmv_overlap",
    "segment_dedup", "knn_graph", "user_hourly_bars", "event_funnel",
]


def build_session(overlay: dict[str, str]):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("abcfg")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in overlay.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main():
    argv = sys.argv[1:]
    reps = 2
    queries = DEFAULT_QUERIES
    args = []
    for a in argv:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--queries="):
            queries = a.split("=", 1)[1].split(",")
        else:
            args.append(a)
    sf_dir, overlay_path = args[0], args[1]
    sides: dict[str, dict[str, str]] = json.load(open(overlay_path))

    from finmlkit_spark import cache, suite

    results: dict[str, dict[str, float]] = {lab: {} for lab in sides}
    for rep in range(reps):
        for lab, overlay in sides.items():
            spark = build_session(overlay)
            for name in queries:
                fn = suite.QUERIES[name]
                try:
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    best = float("inf")
                    for _ in range(2):
                        cache.release_all()
                        t0 = time.time()
                        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                        best = min(best, time.time() - t0)
                    prev = results[lab].get(name, float("inf"))
                    results[lab][name] = min(prev, best)
                except Exception as e:  # noqa: BLE001
                    print(f"ERR {lab} {name}: {e}", file=sys.stderr)
                finally:
                    cache.release_all()
            tot = sum(results[lab].values())
            print(
                f"rep{rep} side={lab:12s} running-min total {tot:7.3f}s "
                f"loadavg {os.getloadavg()[0]:.2f}",
                flush=True,
            )
            spark.stop()

    labs = list(sides)
    print(f"\n{'query':28s} " + " ".join(f"{l:>12s}" for l in labs))
    for name in queries:
        row = " ".join(
            f"{results[l].get(name, float('nan')):12.3f}" for l in labs
        )
        print(f"{name:28s} {row}")
    print(
        f"{'TOTAL':28s} "
        + " ".join(f"{sum(results[l].values()):12.3f}" for l in labs)
    )


if __name__ == "__main__":
    main()
