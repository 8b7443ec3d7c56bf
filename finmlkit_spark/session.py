"""SparkSession factory for local runs: ``local[$SPARK_GRAFT_CPUS]``,
defaulting to every core of the machine.

On a real cluster these configs come from spark-submit; the session
here mirrors what the driver uses so tests and bench agree.
:func:`session_conf` is the one list of shipped settings: ``get_spark``
builds from it, and ``tools/abcfg.py`` lays its A/B overlays on top.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_conf() -> dict[str, str]:
    """The shipped Spark settings (environment overrides resolved)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Let the planner choose shuffled-hash join when its size
        # conditions hold instead of always preferring sort-merge: skips
        # the per-partition sorts on the many node-/sketch-scale joins
        # (measured −10-15 % on the join-heavy bench subset, interleaved
        # A/B). A planner preference at any scale: the planner still
        # falls back to SMJ when the per-partition build side could not
        # fit, and AQE skew splitting stays on. SHJ has no sort fallback
        # at runtime, so deployments with unreliable size stats can
        # revert with SPARK_GRAFT_PREFER_SMJ=true.
        "spark.sql.join.preferSortMergeJoin": os.environ.get(
            "SPARK_GRAFT_PREFER_SMJ", "false"
        ),
        # AQE coalesce target above the 64m default: fewer, larger
        # post-shuffle partitions cut fixed per-partition task cost
        # (interleaved A/B over the 22 most expensive queries: 256m won
        # every rep, −2.5 to −10 %). A BYTE target is scale-adaptive by
        # construction (AQE derives partition count from shuffle bytes);
        # override per deployment via SPARK_GRAFT_ADVISORY_SIZE.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "SPARK_GRAFT_ADVISORY_SIZE", "256m"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g"),
        "spark.ui.enabled": "false",
    }


def get_spark(app_name: str = "finmlkit_spark") -> SparkSession:
    spark = SparkSession.builder.appName(app_name).config(map=session_conf()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
