"""SparkSession construction tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
config below is chosen to also hold on a real multi-executor cluster at
~100 TB scale:

- **AQE on** (adaptive query execution): runtime re-planning gives us
  shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion from actual stage statistics —
  exactly the knobs that matter when the planner's size estimates are
  off by 100x at scale.
- **Auto broadcast threshold** left at default (10 MB) *plus* explicit
  ``F.broadcast()`` hints in plans where we know the dim side is small
  (nation/region/supplier-class tables); at 100 TB the fact side must
  never be shuffled for a dim join.
- **shuffle.partitions** defaults to 2x cores locally; on a cluster this
  should be set to ~2-3x total executor cores — AQE coalescing makes
  over-provisioning cheap, under-provisioning (giant partitions →
  spill) expensive.
- **Arrow** enabled for the pandas-UDF extension operators (vectorized
  batch transfer instead of per-row pickling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: $SPARK_GRAFT_DRIVER_MEM if set,
    else min(16g, half of physical RAM) — a fixed 16g heap on a smaller
    host lets the JVM grow past what the machine can back."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "big_data_processing_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # the testdata events table stores TIMESTAMP(NANOS) parquet, which
        # Spark only reads via this legacy long passthrough
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # STATIC conf (first-session only): the whole-stage-codegen class
        # cache defaults to 100 entries, far below this engine's working
        # set — a full catalog pass generates ~1900 codegen units, and
        # three entries alone exceed 100 units in ONE run (r13 A/B:
        # knn_ivf_cosine 120, minhash_index_cdf_refresh 122,
        # dashboard_rollup_incremental 113), so at the default they evict
        # and re-janino-compile their own classes between consecutive
        # runs.  Measured two full catalog passes at sf0.01: 100-entry
        # cache = 2360 recompiles on the SECOND pass (every entry, ~10 s
        # of compile, 95.2 s wall) vs 46 recompiles / 77.8 s wall here —
        # and the recompiles were the "wandering" multi-second transient
        # the bench sidecar's trimmed spread works around.  Sized to hold
        # a full pass with headroom; generated classes are small, so the
        # metaspace cost is tens of MB per JVM (driver AND executors
        # compile — each executor JVM carries its own cache at 100 TB).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-owned session.

    The verification driver owns its own SparkSession; anything we need
    that is runtime-mutable is set here (static confs like driver memory
    cannot be changed post-start and must not be assumed).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
