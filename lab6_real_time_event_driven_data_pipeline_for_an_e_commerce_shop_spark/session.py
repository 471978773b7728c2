"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB target:

- **AQE on** (coalesce shuffle partitions, skew-join splitting, runtime
  broadcast conversion) so plans re-optimize with real statistics.
- **Auto broadcast** for dimension tables (``part``/``products`` style) —
  the reference's 3-way join (reference transform.py:311-313) never hinted
  a broadcast; we both hint it explicitly (operators/enrich.py) and leave
  the threshold for Catalyst to catch others.
- **Arrow** for every pandas interchange (Pandas UDFs, toPandas) so the
  Python boundary is columnar, never row-at-a-time pickling.
- shuffle partitions default to a small local value but MUST be raised
  (or left to AQE's coalescing from a high initial value) on a real
  cluster; ``build_session`` takes it as a parameter for that reason.
- **Generated-class cache sized to the working set**
  (``spark.sql.codegen.cache.maxEntries``, see SCALING.md). This conf is
  STATIC and Spark reads it once per JVM, when code generation first
  runs: it takes effect only in the first session a JVM builds. A later
  ``build_session`` in the same JVM (or one made after a vanilla session
  has already run a query) keeps the size the first one fixed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# Spark's generated-class cache (spark.sql.codegen.cache.maxEntries)
# defaults to 100 entries, fewer than one headline round uses, so every
# round recompiled its classes in Janino and re-JITted them. Distinct
# classes measured in one session (4-vCPU box, a 100,000-entry cap, the
# JVM's CodegenMetrics compile counter): a warm-up plus timed round of
# the 12 bench.HEADLINE queries at sf0.02, 232; four medallion cycles
# of the stream_trickle workload, 295; all 50 catalog() queries at
# sf0.01, 1,384. The cap is twice the largest, rounded up.
CODEGEN_CACHE_ENTRIES = 3000


def build_session(
    app_name: str = "lab6-ecommerce-spark-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-oriented defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r17: let AQE size the shuffles INSIDE cached-plan
        # materialization too (off by default for exchange-reuse
        # conservatism). Substrate caches are this engine's central
        # pattern, and with the flag off every shuffle under a cache
        # runs at the static session width on every materialization —
        # the one place AQE's runtime statistics were not applied.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # static conf: fixed by the JVM's first session (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
