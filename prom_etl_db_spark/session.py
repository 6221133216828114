"""SparkSession construction tuned for the engine (SURVEY.md §4.2).

Local defaults mirror the test harness (local[*], 32 shuffle partitions);
on a real cluster the same builder applies with master/partitions from the
environment. AQE stays on everywhere — label cardinality is skewed in the
reference's domain, and AQE's skew-join + partition coalescing are the
scale story for 100 TB (SURVEY.md §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "prom-etl-db-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the Pandas-UDF paths (similarity / multimodal ops)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dynamic partition overwrite = the replaceWhere-style idempotent
        # day rewrite (A21/A26) without clobbering sibling partitions.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        # scratch.materialize's reliable checkpoints are files under the
        # checkpoint dir; without this the ContextCleaner never deletes
        # them, and a long-lived serve session accumulates them forever.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage codegen emits one JIT-compiled class per plan stage;
        # the JVM's default 240 MB reserved code cache fills after ~10
        # expression-heavy queries in one session, the JIT silently turns
        # itself off, and every later query runs interpreted (measured 6×
        # on the shingling pipeline: 3.5 s → 22 s). A long-lived serve
        # daemon hits this within its first few ticks. r12: 1 GB turned
        # out to fill too under the 23-query bench (with flushing the
        # failure mode softens to eviction/recompile storms instead of
        # JIT-off, but the expression-heavy tail still measured 2-3×:
        # same session, 1 GB vs 2 GB — suffix-array rewrite 2.57 s vs
        # 1.74 s, pagerank 5.28 s vs 2.35 s, curation 14.25 s vs
        # 6.94 s). 2 GB + flushing keeps steady-state compiled; reserved
        # ≠ committed, so the bump costs address space, not RSS; both
        # knobs are no-ops for short sessions. CAVEAT: driver.memory and
        # extraJavaOptions only take
        # effect when getOrCreate itself SPAWNS the JVM (the plain
        # `python -m` launch); under spark-submit/client mode the driver
        # JVM already exists and Spark silently ignores them — pass
        # --driver-memory / --driver-java-options there instead.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTIONS",
                "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
            ),
        )
    )
    return builder.getOrCreate()
