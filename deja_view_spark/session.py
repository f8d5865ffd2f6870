"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and the driver
all run the same configuration. Defaults target the sandbox
(local[N], 32 threads) but every setting is the one we would ship to a
1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting);
- Arrow on (vectorized pandas UDF transport for embed/minhash);
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial value;
- broadcast threshold left at default (10MB) — small dims (probe rows,
  band tables of new docs) broadcast automatically;
- a generated-code cache that holds a whole KG build (see
  ``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (Spark's default 100, LRU). One
# KGPipeline.run compiles 141-146 distinct classes (CodegenMetrics'
# compilation count, 2000-row table at local[4]), so under the default
# every warm build cycles through the cache and misses each entry:
# ~141 Janino compiles (1.0-1.4 s) plus C1/C2 re-JIT of the new classes
# per build. With 1000 (or 2000) entries, builds 2+ compiled 0 classes.
# A static conf: set when the session starts, so it reaches the tests'
# session and spark-submit runs alike.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "deja-view-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); None means
    ``SPARK_GRAFT_CPUS`` env or all cores. On a real cluster this module
    would not set master at all (spark-submit provides it).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # start HIGH and let AQE coalesce small shuffles back down:
        # the initial count is the upper bound that keeps per-partition
        # structures (shuffle-hash build maps, sort buffers) inside the
        # per-task memory budget on large shuffles. cores*4 measured
        # safe for the 2M-row build at 8 cores / 8g heap, where
        # one-partition-per-core overflowed the hash-join build.
        shuffle_partitions = max(cores * 4, 32)

    # Under spark-submit, master/driver-memory come from the CLI (the
    # JVM is already configured; see tools/submit_kg.sh) — setting them
    # here would fight the launcher. Plain-python runs set both.
    from pyspark import SparkConf

    submit_mode = SparkConf().contains("spark.master")

    builder = SparkSession.builder.appName(app_name)
    if not submit_mode:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            # local mode: the driver heap IS the executor heap. Measured
            # at local[32] on the 1M-row KG build: 8g thrashes GC
            # (163s), 48g hurts locality/pause times (270s), 16g is the
            # knee (96s). 0.5g/core == a fixed per-core executor sizing,
            # the same ratio a cluster deployment would use.
            os.environ.get("SPARK_DRIVER_MEMORY", f"{max(8, cores // 2)}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from deja_view_spark.deploy import ensure_py_files

    ensure_py_files(spark)  # ship the package to UDF workers (--py-files)
    return spark
