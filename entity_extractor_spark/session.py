"""SparkSession factory with scale-oriented defaults.

Local mode is single-JVM; on a real cluster the same configs apply per
executor. What `get_spark` sets, and why:

- shuffle partitions ~ the core count (local mode);
- AQE with partition coalescing and skew-join splitting, so skewed joins
  (hub chemicals, see SURVEY.md §4) are re-planned at runtime;
- Arrow for driver-side pandas conversions, with a 10k-row batch for the
  mapInPandas paths (the synthetic corpus generator, and the Aho-Corasick
  mention scan above `mentions.AC_KEYWORDS_MIN` keywords). The pipeline
  stages themselves run no per-row Python;
- UTC session time zone, driver memory ($SPARK_GRAFT_DRIVER_MEM, 8g), no
  UI, a 64 MiB broadcast threshold, 32 MiB scan splits (below);
- the generated-code cache sized to the pipeline's working set
  (`STATIC_CONF`, below), which every session entry point sets;
- shuffle/spill scratch on tmpfs when available (below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Static SQL confs: read once per JVM, so they only take effect on the
# builder of the session that starts it. Every session entry point (this
# factory, run_kg.py) applies this one mapping.
#
# spark.sql.codegen.cache.maxEntries: Spark keeps this many compiled
# generated classes (default 100), keyed by source text and class loader;
# in local mode each class takes one entry for the driver's class loader
# and one for the executors'. One build+resume of the pipeline uses about
# 176 entries and one operators_heavy benchmark pass about 140. At the
# default, every build evicts and recompiles all of them with Janino, and
# each recompiled class runs cold until the JIT compiles it again. 1024
# holds either working set several times over.
STATIC_CONF = {"spark.sql.codegen.cache.maxEntries": "1024"}


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles of generated code so far (Spark's CodegenMetrics).
    The counter is JVM-wide: it counts every query of every session in the
    JVM, not only the caller's."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "entity_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~cores in local mode; on a cluster this would be ~2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-task granularity: the default 128 MiB packs a whole small-ish
        # corpus into a handful of map tasks, capping the scan/shuffle-write
        # side of the first exchange at far below the core count. 32 MiB
        # keeps enough tasks in flight to saturate every core; on a real
        # cluster this is tuned to the object-store block size instead.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        .config(map=STATIC_CONF)
    )
    # Shuffle/spill scratch on tmpfs when available: local mode funnels all
    # shuffle I/O through one virtual disk, which serializes otherwise-
    # parallel stages (on a real cluster this is per-executor NVMe).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
