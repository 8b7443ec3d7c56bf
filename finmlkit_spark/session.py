"""SparkSession factory for local runs: ``local[$SPARK_GRAFT_CPUS]``,
defaulting to every core of the machine.

On a real cluster these configs come from spark-submit; the session
here mirrors what the driver uses so tests and bench agree.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "finmlkit_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r13 optimization-round A/B (guide §3.1/§9): let the planner
        # choose shuffled-hash join when its size conditions are met
        # instead of always preferring sort-merge — skips the per-
        # partition sorts on the many node-/sketch-scale joins.
        # Measured −10-15 % on the join-heavy bench subset, interleaved
        # A/B ×3 (r13); reconfirmed suite-subset-wide in r14 (wash to
        # slightly positive; keep_central notably prefers SHJ). NOT a
        # local-mode constant: the flag is a planner preference at any
        # scale; the planner still falls back to SMJ when the
        # per-partition build side could not fit (and AQE skew
        # splitting stays on). SHJ has no sort fallback at runtime, so
        # deployments with unreliable size stats can revert without
        # spark-submit conf surgery via SPARK_GRAFT_PREFER_SMJ=true
        # (r13 ADVICE).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # r14 config A/B (guide §2.2/§9): raise the AQE coalesce target
        # from the 64m default — fewer, larger post-shuffle partitions
        # cut fixed per-partition task cost. Interleaved fresh-session
        # A/B over the 22 most expensive queries, base vs 256m, 3 reps:
        # 256m won every rep (32.11/28.29/25.73 s -> 28.70/26.50/25.08 s,
        # −2.5 to −10%); zstd io codec and a combo overlay were washes
        # and NOT adopted. Scale posture: a BYTE target is
        # scale-adaptive by construction (AQE derives partition count
        # from shuffle bytes, not from the core constant), and 128-256m
        # is the standard production advisory range; override per
        # deployment via SPARK_GRAFT_ADVISORY_SIZE.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_SIZE", "256m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
