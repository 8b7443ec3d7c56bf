"""Server-parsed SQL stages: one JVM analysis pass per stage.

Measured (SCALE.md item 10): every PySpark Dataset op is
analyzed eagerly JVM-side against its WHOLE subtree, so an operator
built as ~30 chained ops on a deep tree pays seconds of pure driver
latency per build — the uniqueness sweep spent 1.86 s building vs
0.53 s executing at sf0.1. A single ``spark.sql`` call expressing the
same stage parses and analyzes once (~30 ms), and PySpark >= 3.5
accepts DataFrames as named template parameters, so no temp-view
registration or name management is needed.

The produced logical plan is the same Catalyst tree the DataFrame ops
would build (same expressions → same codegen → bit-identical results);
only WHERE the tree is constructed changes. Storage boundaries
(``cache.keep``/``cache.cut``) remain the caller's job: a frame
referenced twice inside one stage is inlined twice (Spark inlines CTE
and parameter references; verified — no automatic plan reuse), exactly
like the DataFrame API.

Use for op-heavy, SQL-expressible interior stages of deep operators
(the span sweep, prefix machinery). Keep the DataFrame API where ops
are few or genuinely dynamic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sql_stage(sql: str, **frames: DataFrame) -> DataFrame:
    """Run one SQL stage over the given input frames.

    ``sql`` references inputs as ``{name}`` template parameters; each
    keyword argument binds a DataFrame to that name (PySpark's native
    ``spark.sql`` parameterization). Returns the stage's DataFrame.
    """
    if not frames:
        raise ValueError("sql_stage needs at least one input frame")
    spark = next(iter(frames.values())).sparkSession
    return spark.sql(sql, **frames)

