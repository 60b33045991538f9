"""Calibration pair for ``perfbench/run.py``.

``perfbench/run.py`` imports ``_calibrate`` (and through it
``_min_of_2``) from here and records the pair as run metadata: a slow
pair marks a noisy window on the host. This file keeps only that pair;
moving it into ``perfbench/`` waits for a change to the benchmark.
"""

from __future__ import annotations

import time


def _calibrate(spark) -> dict[str, float]:
    """Fixed fixture-independent calibration pair, run at session start
    and end.

    Run-to-run wall-clock deltas on a shared host are dominated by ambient
    drift (page cache, CPU contention, Python-worker aging), which moves
    JVM stages and Arrow stages by DIFFERENT factors. Timing the same
    two synthetic workloads every round lets a reader normalize each
    query's delta by the matching calibration ratio instead of guessing:

    * ``jvm`` — a codegen groupBy/agg over ``spark.range`` (no Python).
    * ``arrow`` — a pandas_udf pass over the same rows (Arrow transfer +
      Python worker throughput, the part that ages within a session).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def jvm() -> None:
        (
            spark.range(30_000_000)
            .selectExpr("id % 997 AS k", "id AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .count()
        )

    @pandas_udf("double")
    def _work(s):
        return (s * 1.0000001 + 3.0) / 7.0

    def arrow() -> None:
        (
            spark.range(3_000_000)
            .select(_work(F.col("id").cast("double")).alias("x"))
            .selectExpr("sum(x)")
            .collect()
        )

    return {"jvm": _min_of_2(jvm), "arrow": _min_of_2(arrow)}


def _min_of_2(fn) -> float:
    """Run twice, report the faster run.

    Page-cache state and query order confounded the round-1→2 per-query
    comparisons (cold vs warm differs ~6x locally); the min of two
    back-to-back runs is a stable steady-state number — the quantity
    that scales to a cluster — regardless of where a query sits in the
    sweep.
    """
    t0 = time.perf_counter()
    fn()
    a = time.perf_counter() - t0
    t0 = time.perf_counter()
    fn()
    b = time.perf_counter() - t0
    return round(min(a, b), 3)
