"""Bit-exact Spark-vs-DuckDB comparison for selected queries.

The driver's gate hashes exact value BYTES; tools/check.py compares at
1e-6 tolerance, which masks engine-determinism flakes (libm ulps,
fold-order float divergence). This harness compares float64 columns by
BIT PATTERN so a determinism bug shows up locally before a driver round
does.

DRIVER PARITY: the comparator is exactly as strict as the driver — NO
-0.0 -> 0.0 normalization. A driver red on `embedding_covariance`
(DuckDB ROUND gave -0.0, Spark +0.0, values equal, bytes not) passed
an earlier normalizing gate; the gate must be at
least as strict as the thing it predicts. Queries that can emit a
rounds-to-zero float must canonicalize the sign at the QUERY edge
(`expr + 0.0` on both engine sides), not rely on the gate forgiving it.
Set FMK_NORMALIZE_ZERO=1 to restore the old lenient behavior when
triaging whether a bit-diff is sign-of-zero-only.

Usage: python tools/bitcheck.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the library too: from this same checkout
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
from tools.check import TABLES, duck_con  # noqa: E402, F401

NORMALIZE_ZERO = os.environ.get("FMK_NORMALIZE_ZERO", "0") == "1"


def bitcanon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            v = df[c].astype("float64")
            if NORMALIZE_ZERO:
                v = v.where(~(v == 0.0), 0.0)  # -0.0 -> 0.0 (lenient triage mode)
            df[c] = v
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def bits_equal(a: pd.Series, b: pd.Series) -> bool:
    if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
        av = a.astype("float64").to_numpy()
        bv = b.astype("float64").to_numpy()
        return bool(np.array_equal(av.view("uint64"), bv.view("uint64")))
    return bool((a.fillna("<NA>") == b.fillna("<NA>")).all())


def main():
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from finmlkit_spark.session import get_spark

    spark = get_spark("bitcheck")
    con = duck_con(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or sorted(set(queries) & set(oracles))
    n_fail = 0
    for name in names:
        sdf = queries[name](spark, sf_dir).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        a, b = bitcanon(sdf), bitcanon(odf)
        errs = []
        if len(a) != len(b):
            errs.append(f"rows {len(a)} vs {len(b)}")
        elif sorted(a.columns) != sorted(b.columns):
            errs.append(f"cols {sorted(a.columns)} vs {sorted(b.columns)}")
        else:
            for c in a.columns:
                if not bits_equal(a[c], b[c]):
                    av, bv = a[c].to_numpy(), b[c].to_numpy()
                    if pd.api.types.is_float_dtype(a[c]):
                        neq = np.flatnonzero(
                            av.astype("float64").view("uint64")
                            != bv.astype("float64").view("uint64")
                        )
                        i = int(neq[0])
                        errs.append(
                            f"col {c}: {len(neq)} bit-diffs, first row {i}: "
                            f"{av[i]!r} vs {bv[i]!r} (delta {av[i]-bv[i]:.3e})"
                        )
                    else:
                        errs.append(f"col {c} differs")
        if errs:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(errs))
        else:
            print(f"OK   {name} ({len(a)} rows, bit-exact)")
    mode = "lenient(-0.0==0.0)" if NORMALIZE_ZERO else "driver-parity"
    print(f"{len(names) - n_fail} pass, {n_fail} fail (bit-exact, {mode})")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
