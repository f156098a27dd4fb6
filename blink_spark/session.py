"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow knobs are set so tests, bench, and the
driver entrypoint all run the same configuration: :data:`ENGINE_CONF` holds
the engine-level knobs every session applies (``get_spark`` and the
spark-submit job alike); ``get_spark`` adds the local-mode master, memory
and partition sizing that spark-submit provides on a cluster, all derived
from the host. Designed for a multi-executor cluster (the sandbox runs
local[N] as a stand-in):

* AQE on, with skew-join splitting — skewed blocking keys (hot MinHash
  bands) are the #1 scale hazard in ER (SURVEY.md §7.3).
* Arrow-batched pandas UDFs with a bounded batch size so the vectorized
  MinHash kernel's O(perms × shingles) scratch memory stays bounded.
* local sizing from the host: master ``local[*]`` (``SPARK_GRAFT_CPUS``
  picks N, ``SPARK_GRAFT_MASTER`` the whole master), driver heap half of
  physical memory up to 48g (``SPARK_GRAFT_DRIVER_MEM``), and one shuffle
  partition per core, which is also Spark's default AQE coalescing floor.
* a generated-code cache that holds the engine's whole working set, so each
  query stage compiles once per session. Spark's default keeps 100 classes,
  but one erbench op generates 130–150 (``batch_default``) to about 230
  (``stream_delta``) sources: at 100 entries every op, and every streaming
  micro-batch, recompiles all of them, and the driver JIT burns more CPU
  than the tasks. 2000 sits well above that working set. It is a static
  conf, so it only takes effect when set before the session starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# applied by get_spark and by scripts/er_job.py; no deployment-level keys
ENGINE_CONF = {
    # -- adaptive execution: runtime re-plan for skewed blocks ----------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # -- Arrow / pandas UDF hot path: batches sized for the MinHash kernel
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # -- scan sizing: keep partitions executor-memory-safe at scale -----
    "spark.sql.files.maxPartitionBytes": "134217728",
    # -- broadcast threshold: dims (entity catalogs) broadcast ----------
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # -- generated code compiled once per session, not once per op ------
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 48g: a heap larger than
    the host gets the local-mode JVM OOM-killed mid-run."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(half, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "blink_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``extra_conf`` is applied over :data:`ENGINE_CONF` at build time; the
    shuffle partition count is set after start, from the core count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM hosts all executor threads — size it
        # for the machine (default 1g OOMs broadcast builds at sf0.1+)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
    )
    spark = b.getOrCreate()
    # one shuffle partition per core (N for local[N]). Default parallelism
    # is not forced, so AQE's default coalescing floor (parallelismFirst)
    # is that same core count: a small shuffle feeding the CPU-bound
    # feature UDF still runs on every core.
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
