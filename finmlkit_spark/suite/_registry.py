"""Query/oracle registry backing ``__spark_entry__``.

Each registered query is a ``(spark, sf_dir) -> DataFrame`` callable; the
optional oracle is an ANSI-SQL string DuckDB runs on the same parquet
tables. Queries without an oracle get the driver's weaker rows-only
check (documented per query — genuinely non-SQL-expressible ops only).

:func:`parquet_rows_below` is the one footer-count check the suites'
small-input crossovers share.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from .. import cache

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def parquet_rows_below(path: str, bound: int) -> bool:
    """Whether the parquet table at ``path`` (one file, or a Spark-written
    directory of them) holds fewer than ``bound`` rows, read from its
    footers — no Spark job. False under ``cache._FORCE_DISTRIBUTED`` and
    when a footer can't be read: the answer only picks a cheaper plan,
    so doubt picks the scale one."""
    import pyarrow.parquet as pq

    if cache._FORCE_DISTRIBUTED:
        return False
    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files) < bound
    except Exception:
        return False
