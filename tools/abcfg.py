"""Interleaved A/B over a query subset, honest-timing methodology
(mirrors bench.py: warm run 0, then timed runs that re-materialize the
tracked persists).

Usage: python tools/abcfg.py <sf_dir> <overlay_json> [--reps=N] [--queries=a,b,c]

overlay_json: {"label": {"spark.conf.key": "value", ...}, ...} — each
label is one side; sides run INTERLEAVED (A,B,A,B,...) in fresh
sessions so host drift cancels. Each side's session is the shipped
``session.session_conf()`` with the overlay merged on top, so an empty
overlay ``{}`` is the shipped configuration. Prints one per-side
per-query min table.

Reserved overlay key ``"fmk.cache.keep"`` (not passed to Spark) swaps
the ``cache.keep`` boundary strategy for that side:

  keep  — as shipped (persist, CacheManager plan-match within a run)
  cut   — ``cache.cut`` instead (localCheckpoint; no plan-match)
  none  — identity (no storage boundary; every consumer recomputes)

``cache.cut`` call sites are never touched.
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


KEEP_KEY = "fmk.cache.keep"


def build_session(overlay: dict[str, str]):
    from pyspark.sql import SparkSession

    from finmlkit_spark.session import session_conf

    conf = session_conf() | {k: v for k, v in overlay.items() if k != KEEP_KEY}
    spark = SparkSession.builder.appName("abcfg").config(map=conf).getOrCreate()
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

    shipped_keep = cache.keep
    keep_sides = {
        "keep": shipped_keep,
        "cut": lambda df, level=None: cache.cut(df),
        "none": lambda df, level=None: df,
    }
    for lab, overlay in sides.items():
        if overlay.get(KEEP_KEY, "keep") not in keep_sides:
            raise SystemExit(f"{lab}: {KEEP_KEY} must be one of {sorted(keep_sides)}")
    results: dict[str, dict[str, float]] = {lab: {} for lab in sides}
    for rep in range(reps):
        for lab, overlay in sides.items():
            cache.keep = keep_sides[overlay.get(KEEP_KEY, "keep")]
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
    cache.keep = shipped_keep

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
