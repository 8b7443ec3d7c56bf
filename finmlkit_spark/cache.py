"""Tracked persist: bounded side tables that operators pin for plan
reuse, with an explicit release hook for long-lived sessions.

Several operators persist small summary tables (one row per time chunk,
or 2 rows per event) because the plan references them on both sides of
a prefix construction — without a storage boundary each reference
re-runs the data-scale upstream (Spark plans are trees). The tables are
bounded at any data scale, but a long-lived session that invokes the
operators repeatedly would accumulate cached blocks that only go away
on session GC. Callers own the cleanup: batch runners (``bench.py``,
the test suite) call :func:`release_all` between queries; notebook
users can call it whenever a pipeline's results have been
materialized.

The registry holds STRONG references: a registered frame's blocks
stay pinned until :func:`release_all` runs (dropping your own handles
is not enough). Long-lived sessions must call it; batch runners do so
between queries.

:func:`collect_if_small` and :func:`rows_at_most` are the two size
probes. Every crossover whose size can only be learned by running the
plan asks one of them: the driver gates ask :func:`collect_if_small`
(fits → the rows, as Arrow), the plan crossovers ask :func:`rows_at_most`
(fits → a bool). Both cut their input the same way — behind a
:func:`cut`, probed once with ``LIMIT n + 1`` — so the upstream runs
once on either side, and at scale the whole probed input sits behind a
``localCheckpoint``. Each probe job carries a ``spark.job.description``
naming its call site and bound, and each job a cut runs is described
``cut <call site>``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

if TYPE_CHECKING:
    import pyarrow as pa

_LIVE: list[DataFrame] = []
_CUT: list[DataFrame] = []
#: The one test hook: when True, every crossover takes its scale side on
#: any input size — neither probe runs (:func:`collect_if_small` returns
#: no table, :func:`rows_at_most` answers False), the suites' parquet
#: footer checks answer False and driver k-means uses the two-level
#: partial fold.
_FORCE_DISTRIBUTED = False


def keep(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_all`."""
    df = df.persist(level) if level is not None else df.persist()
    _LIVE.append(df)
    return df


def release_all() -> int:
    """Unpersist every registered :func:`keep` frame; returns how many
    were actively unpersisted. :func:`cut` frames are NOT counted —
    ``DataFrame.unpersist`` is a no-op for localCheckpoint storage, so
    their blocks are reclaimed only by the ContextCleaner after this
    registry drops its strong references (which this call does) and the
    objects are garbage-collected.

    Safe to call at any time: releasing a frame whose plan is still
    referenced downstream only costs recomputation, never correctness.
    """
    n = 0
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    _CUT.clear()  # drop strong refs; ContextCleaner reclaims post-GC
    return n


def cut(df: DataFrame) -> DataFrame:
    """Persist AND truncate lineage via ``localCheckpoint(eager=False)``,
    registered for :func:`release_all` (released by reference-drop —
    Spark's ContextCleaner reclaims the checkpoint blocks once the
    objects are collected).

    Use instead of :func:`keep` when the frame sits UNDER a deep
    operator chain: every Dataset op re-analyzes its whole subtree
    JVM-side, so ops stacked on a deep tree (triple barrier → sweep)
    pay seconds of repeated analysis that a LogicalRDD plan truncates
    to nothing (measured −37% end-to-end on the sweep's return
    attribution).
    Costs one physical-planning pass up front and, unlike ``keep``,
    does not CacheManager-match plan rebuilds — each fresh build
    rematerializes. Scale note: checkpointed partitions are not
    recomputable on executor loss; prefer :func:`keep` when fault
    recomputation matters more than driver latency.

    Under AQE the checkpoint runs the plan's shuffle and broadcast
    stages at once; those jobs carry ``spark.job.description`` =
    ``cut <module.function>`` naming the caller.
    """
    return _cut(df, _caller())


def _cut(df: DataFrame, site: str) -> DataFrame:
    df = _described(df, f"cut {site}", lambda: df.localCheckpoint(eager=False))
    _CUT.append(df)
    return df


def _caller() -> str:
    """``module.function`` of the code that called the public probe."""
    f = sys._getframe(2)
    return f"{f.f_globals.get('__name__', '?')}.{f.f_code.co_qualname}"


def _described(df: DataFrame, desc: str, fn: Callable[[], Any]) -> Any:
    """``fn()``, its jobs described ``desc``; the caller's description
    comes back."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _probe(
    df: DataFrame, n: int, site: str, fetch: Callable[[DataFrame], tuple[int, Any]]
) -> tuple[DataFrame, Any]:
    """The one probe body: cut ``df``, then — unless the test hook is on —
    run ``fetch`` over ``limit(n + 1)`` of the cut as a job described by
    ``site`` and ``n``. ``fetch`` returns ``(rows, payload)``; the result
    is ``(cut_df, payload)``, with ``payload`` None when forced or when
    the cut holds more than ``n`` rows."""
    df = _cut(df, site)
    if _FORCE_DISTRIBUTED:
        return df, None
    desc = f"size probe {site}: rows <= {n}"
    rows, payload = _described(df, desc, lambda: fetch(df.limit(n + 1)))
    return df, (payload if rows <= n else None)


def _arrow(df: DataFrame) -> tuple[int, pa.Table]:
    tbl = df.toArrow()
    return tbl.num_rows, tbl


def collect_if_small(df: DataFrame, max_rows: int) -> tuple[DataFrame, pa.Table | None]:
    """The one driver gate: returns ``(cut_df, table)`` where ``cut_df``
    is ``df`` behind a :func:`cut` and ``table`` is its rows as a pyarrow
    Table when there are at most ``max_rows`` of them, else ``None``.

    The probe is ``limit(max_rows + 1).toArrow()`` over the cut, so the
    upstream plan executes exactly once whichever side the caller takes:
    the probe materializes the checkpoint, and a distributed caller
    continues from ``cut_df`` without re-running anything above it. At
    most ``max_rows + 1`` rows ever reach the driver — the bound holds at
    any input scale. Arrow keeps int64/float64 bits and NULLs exact, so a
    driver kernel sees the same values the distributed plan would.
    """
    return _probe(df, max_rows, _caller(), _arrow)


def rows_at_most(df: DataFrame, n: int) -> tuple[DataFrame, bool]:
    """The plan crossovers' probe: returns ``(cut_df, fits)`` where
    ``cut_df`` is ``df`` behind a :func:`cut` and ``fits`` is whether it
    has at most ``n`` rows. :func:`collect_if_small` without the
    collect: the probe is ``limit(n + 1).count()`` over the cut, so the
    upstream executes once and the caller plans either side over
    ``cut_df``. Under the test hook it runs nothing and answers False.
    """
    df, fits = _probe(df, n, _caller(), lambda d: (d.count(), True))
    return df, bool(fits)
