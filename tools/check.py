"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same sf dir, then compares:
row count, schema arity, and order-insensitive values (columns sorted by
name, rows sorted, floats rounded).

Usage: python tools/check.py [sf_dir] [query_name ...]

FMK_STRICT=1 switches to driver-parity comparison: floats are rounded
to 6 digits and then compared by BIT PATTERN — no -0.0 -> 0.0
normalization, no tolerance. This emulates the driver's value hash as
observed in its runs: ulp-floor libm deltas (e.g. pmi_top_pairs' 1-ulp
ln) hashed GREEN there, while embedding_covariance's -0.0-after-ROUND
hashed RED — so the driver rounds before hashing but the rounding
preserves the sign of zero. The old lenient comparator normalized
-0.0 and so was MORE forgiving than the driver; run the full registry
once per round under FMK_STRICT=1 so a bytes-differ-values-equal hazard
can never again pass the gate. (tools/bitcheck.py is stricter still:
raw bits, no rounding — use it for determinism hunting.)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

STRICT = os.environ.get("FMK_STRICT", "0") == "1"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame, ndigits: int = 6) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            if STRICT:
                # driver-parity: round, but keep the sign of zero
                df[c] = df[c].astype("float64").round(ndigits)
            else:
                df[c] = df[c].astype("float64").round(ndigits)
                df[c] = df[c].replace(-0.0, 0.0)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if len(sdf) != len(odf):
        errs.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    sc, oc = sorted(sdf.columns), sorted(odf.columns)
    if sc != oc:
        errs.append(f"columns spark={sc} oracle={oc}")
        return errs
    if errs:
        return errs
    a, b = canon(sdf), canon(odf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            if STRICT:
                ok = bool(
                    np.array_equal(
                        av.astype("float64").view("uint64"),
                        bv.astype("float64").view("uint64"),
                    )
                )
            else:
                tol = float(os.environ.get("FMK_TOL", "1e-6"))
                ok = np.allclose(av.astype(float), bv.astype(float), rtol=tol, atol=tol, equal_nan=True)
        else:
            try:
                ok = (pd.Series(av).fillna("<NA>") == pd.Series(bv).fillna("<NA>")).all()
            except Exception:
                ok = list(av) == list(bv)
        if not ok:
            idx = next(
                (i for i, (x, y) in enumerate(zip(av, bv)) if str(x) != str(y)), None
            )
            errs.append(f"col {c} mismatch (first at row {idx}: {av[idx]!r} vs {bv[idx]!r})")
    return errs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # Spark's Python workers import the library too: from this same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    import __spark_entry__ as entrymod
    from finmlkit_spark.session import get_spark

    spark = get_spark("check")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    mode = "STRICT driver-parity" if STRICT else "lenient 1e-6"
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak ({mode})")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
