"""SparkSession factory.

The reference spawns its own process topology (run_mapper.py:4-28,
run_reducer.py:4-28 — M gRPC mappers on ports 5000+i, R reducers on
5050+i). In Spark, cluster management is the platform's job; this module
only encodes the *configuration* choices that matter for the engine:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's static range-split (master.py:46-50).
- Arrow on (fast pandas UDF path for the few operators that need Python).
- ``spark.sql.shuffle.partitions`` sized to the machine for local runs;
  on a real cluster this is left to AQE's coalescing with a high initial
  partition count.
- Generated-class cache sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries``): Spark's default of 100
  classes is smaller than what one pass of an iterative workload
  compiles, so warm passes would evict and recompile their own
  whole-stage-codegen classes and spend their CPU in the JIT.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: Generated classes kept compiled per JVM (a static conf; Spark's
#: default is 100). Measured with CodegenMetrics at sf0.1, one pass
#: compiles 134-149 classes for kmeans_fit + BFS + two availableNow
#: streams and 85 for six TPC-H queries. At 100, each warm pass
#: recompiled 147 and 26 of them respectively: the cache evicts per
#: segment, before it holds 100 entries.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "k_means_using_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    local[N] by default, N from $SPARK_GRAFT_CPUS. All knobs here are
    cluster-safe: on a real cluster pass ``master=None`` with a
    spark-submit-provided master and the same conf applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark's reader
        # rejects nanos unless mapped to long (nanoseconds since epoch).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
