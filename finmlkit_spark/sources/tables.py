"""Schema-tolerant testdata table reader.

ONE upstream physical-type change (events.ts: TIMESTAMP(NANOS) ->
timestamp[us]) breaks every finance query that assumes a type. The reference
survives such drift by inferring units from magnitude
(``finmlkit/bar/data_model.py:399-418``); this module is the same
posture for every driver table: normalize each known timestamp-ish
column to TIMESTAMP_NTZ whatever the parquet physically stores —
timestamp (either zone flavor) passes through as NTZ, epoch-ns BIGINT
(the nanosAsLong read of TIMESTAMP(NANOS)) converts via unix micros,
DATE widens. Downstream queries never see the storage encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: known event-time columns per driver table
TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Coerce one timestamp-ish column to TIMESTAMP_NTZ (UTC wall time)."""
    dt = dict(df.dtypes)[col]
    if dt == "timestamp_ntz":
        return df
    if dt.startswith("timestamp"):
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    if dt == "date":
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    if dt == "bigint":
        # epoch nanoseconds (TIMESTAMP(NANOS) under nanosAsLong)
        return df.withColumn(
            col,
            F.timestamp_micros((F.col(col) / F.lit(1000)).cast("long")).cast(
                "timestamp_ntz"
            ),
        )
    raise TypeError(f"{col}: unsupported dtype {dt!r}")


#: session confs this module REQUIRES (contract, not a per-read whim):
#: UTC wall-time semantics for every ts conversion (oracle bit-parity)
#: and long-ns reads of TIMESTAMP(NANOS) parquet. ``session.get_spark``
#: sets both at session build; externally-built sessions (the driver's)
#: are aligned here — loudly, not silently, if they conflict.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Idempotently align the session with ``_REQUIRED_CONFS``; warn when
    overriding a conflicting caller setting instead of silently clobbering
    it (the timezone affects unrelated timestamp expressions session-wide)."""
    import warnings

    for k, want in _REQUIRED_CONFS.items():
        try:
            have = spark.conf.get(k)
        except Exception:
            have = None
        if have != want:
            if have is not None:
                warnings.warn(
                    f"finmlkit_spark.sources.tables: overriding session conf "
                    f"{k}={have!r} with {want!r} (required for timestamp "
                    f"normalization; see module docstring)",
                    stacklevel=3,
                )
            spark.conf.set(k, want)


#: session-scoped source-relation memo — the catalog-table pattern:
#: `spark.read.parquet` pays ~100 ms of file listing + footer schema
#: inference PER CALL, and a bench/driver run builds dozens of plans
#: over the same handful of tables. Keyed by (applicationId, abspath,
#: tag, mtime) — the table's filesystem mtime folds into the key, so a
#: REWRITE of the table in-session changes the key and the next read
#: re-resolves automatically (refresh=True / memo_clear remain as
#: explicit escape hatches; a restarted session never sees a stale
#: entry via applicationId). DataFrames are immutable plan objects (no
#: pinned executor memory). Residual caveat: an in-place rewrite that
#: preserves the path's mtime (sub-granularity clock, touch -r) still
#: serves the first read's listing.
_RELATION_MEMO: dict[tuple[str, str, str, float], DataFrame] = {}


def _memo_key(spark: SparkSession, path: str, tag: str) -> tuple[str, str, str, float]:
    import os as _os

    ap = _os.path.abspath(path)
    try:
        mtime = _os.path.getmtime(ap)
    except OSError:
        mtime = -1.0
    return (spark.sparkContext.applicationId, ap, tag, mtime)


def memo_put(
    spark: SparkSession,
    path: str,
    tag: str,
    df: DataFrame,
    key: tuple | None = None,
) -> DataFrame:
    """Register a resolved source frame under the memo (readers call it
    with their adapter tag — e.g. events→trades). Pass the ``key``
    returned by :func:`_memo_key` CAPTURED BEFORE the read resolved its
    file listing: recomputing the mtime here would stamp a listing that
    predates a concurrent rewrite with the rewrite's NEW mtime, pinning
    stale results under a fresh key."""
    while len(_RELATION_MEMO) > 256:  # unbounded-session hygiene:
        # evict oldest-first (dict preserves insertion order) so hot
        # recent entries survive instead of a wholesale clear
        _RELATION_MEMO.pop(next(iter(_RELATION_MEMO)))
    _RELATION_MEMO[key if key is not None else _memo_key(spark, path, tag)] = df
    return df


def memo_get(spark: SparkSession, path: str, tag: str) -> DataFrame | None:
    return _RELATION_MEMO.get(_memo_key(spark, path, tag))


#: derived-table memos elsewhere in the package (e.g. the labels
#: suite's spans memo) register themselves here so memo_clear() is one
#: switch for ALL session-scoped memoization
_EXTRA_MEMOS: list[dict] = []


def register_memo(memo: dict) -> dict:
    _EXTRA_MEMOS.append(memo)
    return memo


def memo_clear() -> None:
    """Drop every memoized source relation AND every registered derived
    memo. Call after REWRITING a source table's files in the same
    session — a memoized frame keeps the first read's file listing and
    schema and would otherwise serve stale (or deleted-file) results."""
    _RELATION_MEMO.clear()
    for m in _EXTRA_MEMOS:
        m.clear()


def read_table(
    spark: SparkSession, sf_dir: str, name: str, refresh: bool = False
) -> DataFrame:
    """Read a driver table with event-time columns normalized.

    Contract: requires the UTC session timezone and nanosAsLong confs
    (``_REQUIRED_CONFS``); aligns them with a warning if the session
    disagrees. The resolved relation is memoized per
    (applicationId, path, mtime) — a rewrite that touches the path's
    mtime invalidates automatically; ``refresh=True`` (or
    :func:`memo_clear`) remains the explicit escape hatch."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    # key captured BEFORE the read: see memo_put's rewrite-race note
    key = _memo_key(spark, path, "read_table")
    if not refresh:
        cached = _RELATION_MEMO.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    for c in TS_COLS.get(name, ()):
        if c in df.columns:
            df = normalize_ts(df, c)
    return memo_put(spark, path, "read_table", df, key=key)
