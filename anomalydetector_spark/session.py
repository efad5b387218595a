"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; all sizing
knobs are expressed so the same code scales to 1000 executors:

* AQE on (runtime coalescing + skew-join splitting),
* shuffle partitions sized to parallelism, not the 200 default,
* Arrow enabled and batch-capped so pandas-UDF groups stream in bounded
  memory,
* UTC session timezone so window bucketing is deterministic,
* the generated-code cache (``spark.sql.codegen.cache.maxEntries``) at
  1024 classes instead of Spark's 100. One ``run_validation`` compiles
  ~110 distinct Janino classes on a global-partition run and ~150-170 on
  an incremental domain-partitioned run, so the default LRU evicts every
  class before the next run in the same session asks for it again and
  each warm run recompiles 50-144 of them (and loads them as fresh
  classes the JIT has to warm up again). 1024 holds both workloads and
  their traced variants with room to spare; a warm run then compiles
  only the few stages whose plan embeds a per-run literal.

Precedence: every engine default here is applied only to keys the
process launcher did not set. A driver started by ``spark-submit``
(``--master yarn --conf spark.sql.shuffle.partitions=4000 ...``) keeps
the launcher's master, shuffle partitions, driver memory, cache size and
any other ``spark.*`` setting; ``get_spark``'s ``cores`` /
``shuffle_partitions`` only fill what it left open. ``extra_conf`` has
the last word over both.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# per-run working set measured at ~110 (flagship, one global partition)
# and ~150-170 (incremental, domain-partitioned) classes; see above
CODEGEN_CACHE_ENTRIES = 1024


def _host_heap() -> str:
    """A quarter of the host's physical memory (``MemTotal``): the rest
    stays for the Python workers, off-heap shuffle buffers and the page
    cache."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 4 // 2**20}m"


def _launcher_conf() -> dict[str, str]:
    """``spark.*`` settings fixed by the launcher of this driver.

    ``spark-submit`` starts the JVM first and hands the Python driver its
    gateway through ``PYSPARK_GATEWAY_PORT``; its ``--master`` /
    ``--conf`` / ``--driver-memory`` (and ``spark-defaults.conf``) are the
    JVM's system properties, which a defaults-loading ``SparkConf``
    reads. A plain ``python`` driver launches the JVM itself from the
    builder's settings, so the launcher fixed nothing."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "anomalydetector_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` drives both ``local[N]`` and the default shuffle-partition
    count; unset, it is ``SPARK_GRAFT_CPUS`` or else the CPUs this process
    may run on. The driver heap is ``SPARK_GRAFT_DRIVER_MEM`` or else a
    quarter of the host's memory. On a real cluster, launch with
    ``spark-submit --master ...`` and size ``spark.sql.shuffle.partitions``
    to ~2-3× total executor cores there: the launcher's settings win over
    these defaults.
    """
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle = shuffle_partitions or max(cores, 8)

    defaults = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # default-false out of cache-reuse conservatism; without it a
        # persisted aggregate keeps its full pre-AQE shuffle fan-out
        # (measured: the 621-row stat-series cache carried 128
        # partitions, and every downstream stage paid 128 tiny tasks —
        # enabling AQE repartitioning of cached plans coalesced it to 4
        # and cut the flagship's post-scan phases ~35%). Nothing in the
        # engine relies on a cached frame's physical partitioning.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _host_heap(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    # local-mode shuffle files go through spark.local.dir; the sandbox's
    # virtual disk throttles after sustained writes, so prefer tmpfs when
    # it exists (a real cluster uses its own local SSDs — this knob is
    # sandbox-only and overridable via SPARK_LOCAL_DIRS)
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        defaults["spark.local.dir"] = "/dev/shm/spark-local"

    launched = _launcher_conf()
    conf = {k: v for k, v in defaults.items() if k not in launched}
    conf.update(extra_conf or {})
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
