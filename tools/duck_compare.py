"""Like-for-like DuckDB comparison — the judge's BASELINE-derived
criterion, reproducible per round.

For every headline query that has a DuckDB oracle, run the ORACLE SQL
warm (min-of-N) on the same parquet tables and compare against the
Spark per-query minima from a bench JSON. Prints per-query ratios plus
two aggregates:

- whole-suite ratio (naive SQL collapses on the pairwise-dedup class,
  so Spark wins big here);
- the "non-collapse pool" ratio excluding queries where DuckDB is >10x
  slower than Spark (the pairwise-dedup collapse class, ~35-40x in
  practice; the judge's 2x bar applies to the remaining pool).

Usage:
    python tools/duck_compare.py /tmp/bench.json [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import TABLES  # noqa: E402

import duckdb  # noqa: E402


def main() -> int:
    bench_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    with open(bench_path) as f:
        bench = json.load(f)
    spark_times = bench["queries"]

    import bench as bench_mod  # repo-root bench.py (HEADLINE list)
    from finmlkit_spark import suite

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    rows = []
    for name in bench_mod.HEADLINE:
        sql = suite.ORACLES.get(name)
        sp = spark_times.get(name)
        if sql is None or sp is None:
            continue
        try:
            con.execute(sql).fetchall()  # warm
            best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                con.execute(sql).fetchall()
                best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001
            print(f"{name:30s} spark {sp:6.2f}  duck ERROR {type(e).__name__}")
            continue
        rows.append((name, sp, best))

    print(f"\n{'query':30s} {'spark':>7s} {'duck':>7s} {'ratio':>7s}")
    for name, sp, du in sorted(rows, key=lambda r: -(r[1] / max(r[2], 1e-9))):
        print(f"{name:30s} {sp:7.2f} {du:7.2f} {sp / max(du, 1e-9):6.1f}x")

    if not rows:
        print("\nno comparable queries (no oracle/bench overlap)")
        return 1
    tot_sp = sum(r[1] for r in rows)
    tot_du = sum(r[2] for r in rows)
    # collapse class = naive SQL >10x slower than Spark (the pairwise
    # d2-join dedup queries, ~35-40x in practice); everything else —
    # including queries where DuckDB merely loses (seq_ewma, simhash) —
    # stays in the pool, matching the recorded exclusion set
    pool = [r for r in rows if r[2] <= 10 * r[1]]
    pool_sp = sum(r[1] for r in pool)
    pool_du = sum(r[2] for r in pool)
    print(f"\nwhole suite:   spark {tot_sp:.2f}s vs duck {tot_du:.2f}s "
          f"-> {'spark wins ' + format(tot_du / tot_sp, '.1f') + 'x' if tot_du > tot_sp else format(tot_sp / tot_du, '.2f') + 'x duck'}")
    if pool_du > 0:
        print(f"non-collapse ({len(pool)}/{len(rows)}): spark {pool_sp:.2f}s vs "
              f"duck {pool_du:.2f}s -> {pool_sp / pool_du:.2f}x duck")
    else:
        print(f"non-collapse pool empty ({len(rows)} queries, all collapse-class)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
