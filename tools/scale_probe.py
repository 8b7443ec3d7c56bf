"""sf1 scale probe: generate a 10x replica of sf0.1 and measure how the
headline paths scale: the 100 TB design arguments from sf0.1 plans +
synthetic probes, checked by one real order-of-magnitude measurement.

Usage: python tools/scale_probe.py [out_dir] [q1 q2 ...]

Dataset construction (deterministic, DuckDB):
- events: 10 time-shifted copies of sf0.1 (copy i shifted by i * 31
  days, event_id offset by i * 1e9) — 1M trades over ~10 months: 10x
  the rows AND 10x the time-chunk count, which is how history actually
  grows.
- documents: 10 copies with the copy index baked into doc_id and a
  per-copy nonce token appended to the text, so cross-copy texts are
  near- but not exact duplicates and pair structure stays sparse
  (exact replication would square the duplicate-group sizes and
  measure pair blowup, not engine scaling).
- embeddings: 10 copies, vec_id offset, first component perturbed by a
  vec_id-derived epsilon (sparse semantic pairs, same cluster shape).
- TPC-H-ish dims are symlink-copied unchanged (analytics queries are
  not part of the probe).

Then each probe query runs warm best-of-3 (plan rebuilt per run — the
bench methodology) at sf0.1 and at the generated sf1, printing the
time ratio. Linear-or-better (ratio <= ~10x on 10x rows) is the pass
criterion; the per-query build constant makes small queries sublinear.

The keys in ``FORCED`` run with ``cache._FORCE_DISTRIBUTED = True`` at
both sizes: their driver gate would otherwise switch sides between
sf0.1 and sf1, and the ratio would compare two different plans instead
of measuring how the scale path grows.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
DEFAULT_OUT = "/tmp/fmk_sf1"
COPIES = 10
SHIFT_DAYS = 31

PROBE = [
    "time_bars_1m",
    "pipeline_1m_features",
    "trades_side",
    "dollar_bars",
    "avg_uniqueness",
    "tbm_labels",
    "seq_ewma_parallel",
    "seq_cusum_filter_chunked",
    "seq_cusum_bars_chunked",
    "footprint_features",
    "minhash_lsh",
    "exact_dedup",
    "simhash_near_pairs",
    "dup_span_ranges",
    "kmeans_clusters",
    "ann_projected_topk",
]

#: probe keys whose driver gate is forced to its scale side
FORCED = {"seq_ewma_parallel", "seq_cusum_filter_chunked"}


def generate(out: str) -> None:
    import duckdb

    if os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    copies = f"(SELECT unnest(range({COPIES})) AS cp)"
    con.execute(
        f"""
COPY (
  SELECT e.event_id + cp * 1000000000 AS event_id,
         e.ts + INTERVAL (cp * {SHIFT_DAYS}) DAY AS ts,
         e.user_id, e.event_type, e.value, e.props
  FROM read_parquet('{SF01}/events.parquet') e, {copies}
  ORDER BY ts
) TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""
COPY (
  SELECT doc_id, text, lang, source,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM (
    SELECT d.doc_id + cp * 1000000 AS doc_id,
           CASE WHEN cp = 0 THEN d.text
                ELSE d.text || ' nonce' || CAST(cp AS VARCHAR) || 'x'
                     || CAST(d.doc_id % 101 AS VARCHAR) END AS text,
           d.lang, d.source
    FROM read_parquet('{SF01}/documents.parquet') d, {copies}
  )
) TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""
COPY (
  SELECT v.vec_id + cp * 1000000 AS vec_id,
         CASE WHEN cp = 0 THEN v.embedding
              ELSE list_prepend(v.embedding[1]
                     + CAST(0.001 * (1 + v.vec_id % 97) * cp AS FLOAT),
                   v.embedding[2:]) END AS embedding,
         v.label
  FROM read_parquet('{SF01}/embeddings.parquet') v, {copies}
) TO '{out}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        shutil.copyfile(f"{SF01}/{t}.parquet", f"{out}/{t}.parquet")
    open(os.path.join(out, "_DONE"), "w").write("ok")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    out = args.pop(0) if args and os.sep in args[0] else DEFAULT_OUT
    names = args or PROBE
    generate(out)

    from finmlkit_spark import cache, suite
    from finmlkit_spark.session import get_spark

    spark = get_spark("scale_probe")
    print(f"{'query':28s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>6s}")
    for name in names:
        if name not in suite.QUERIES:
            print(f"{name:28s} (not registered)")
            continue
        row = [name]
        times = []
        for sf_dir in (SF01, out):
            cache._FORCE_DISTRIBUTED = name in FORCED
            try:
                q = suite.QUERIES[name]
                q(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = float("inf")
                for _ in range(3):
                    t0 = time.time()
                    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    best = min(best, time.time() - t0)
                times.append(best)
            except Exception as exc:  # noqa: BLE001
                times.append(float("nan"))
                print(f"  {name}@{sf_dir}: {type(exc).__name__}: {exc}", flush=True)
            finally:
                cache._FORCE_DISTRIBUTED = False
                cache.release_all()
        ratio = times[1] / times[0] if times[0] else float("nan")
        print(f"{name:28s} {times[0]:8.2f} {times[1]:8.2f} {ratio:5.1f}x",
              flush=True)


if __name__ == "__main__":
    main()
