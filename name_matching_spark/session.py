"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow settings live so tests, bench and the
spark-submit entry point agree.  Designed for multi-executor clusters;
local[N] in this sandbox only changes the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of host RAM given to the driver heap when SPARK_DRIVER_MEMORY is
# unset.  Local mode runs every task inside that heap, and the JVM's
# off-heap use plus the Python workers come on top of it
DRIVER_MEMORY_FRACTION = 0.4


def host_memory_mb(meminfo: str = "/proc/meminfo") -> int:
    """Host RAM in MB, from MemTotal."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal line in {meminfo}")


def default_driver_memory() -> str:
    """Driver heap used when SPARK_DRIVER_MEMORY is unset."""
    return f"{int(host_memory_mb() * DRIVER_MEMORY_FRACTION)}m"


def get_spark(
    app_name: str = "name-matching-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 32))))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash at runtime when
        # every post-shuffle build partition is small (default 0 = never).
        # Sized from MEASURED partition bytes, so it is scale-safe: at any
        # corpus size AQE only converts when the per-partition hash build
        # fits comfortably; the win here is skipping the sort of wide
        # intermediate rows (candidate pairs carrying weight-map payloads)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
        # runtime (AQE) broadcast threshold: decided from MEASURED shuffle
        # sizes, not estimates, so raising it is scale-safe -- a side only
        # broadcasts when it actually is <= 64 MB, and a 100 TB-scale side
        # falls back to the shuffled join exactly as before.  The win: the
        # blocker's per-doc weight-map tables (tens of MB at bench scale)
        # broadcast into the verify join, so the wide candidate-pair
        # intermediate (~900 MB at 20k docs) is never shuffled or sorted.
        # The STATIC threshold stays at its 10 MB default on purpose:
        # static planning trusts size estimates, which are unreliable
        # after aggregations, and a wrong static broadcast OOMs the driver
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_AQE_BROADCAST", "64m"))
        # AQE coalescing floor: with parallelismFirst (default), AQE sizes
        # post-shuffle partitions at max(total/parallelism, this floor).
        # The 1m default collapses a small-input stage to a handful of
        # tasks, which starves stages whose work is dominated by join
        # FAN-OUT rather than input bytes (the inverted-index cosine join
        # reads ~3.5 MB but produces 41M rows -- 3 tasks on 32 cores,
        # measured 13.4s -> 4.0s at 128k).  The floor only binds when the
        # total shuffle is small (extra tasks are cheap there); large
        # shuffles still coalesce to total/parallelism at any scale.  The
        # CPU-bound pair stages (verify dot, top-n, scoring UDF) no longer
        # depend on it: blocking.by_query sizes them by partition count,
        # which AQE does not coalesce
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "128k"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", "/root/spark-tmp"))
        # local-mode congestion safety: heavy shuffles + 32 task threads can
        # starve the driver's RPC threads; generous timeouts prevent
        # spurious heartbeat-failure task retries
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
