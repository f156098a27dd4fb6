"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow knobs are set so tests, bench, and the
driver entrypoint all run the same configuration: :data:`ENGINE_CONF` holds
the engine-level knobs every session applies (``get_spark`` and the
spark-submit job alike); ``get_spark`` adds the local-mode master, memory
and partition sizing that spark-submit provides on a cluster. Designed for
a multi-executor cluster (the sandbox runs local[N] as a stand-in):

* AQE on, with skew-join splitting — skewed blocking keys (hot MinHash
  bands) are the #1 scale hazard in ER (SURVEY.md §7.3).
* Arrow-batched pandas UDFs with a bounded batch size so the vectorized
  MinHash kernel's O(perms × shingles) scratch memory stays bounded.
* shuffle partitions sized for local mode; on a real cluster this is
  overridden via spark-submit --conf (AQE coalesces the excess anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

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
}


def _master_cores(master: str, fallback: int) -> int:
    """Parallelism of a ``local`` / ``local[N]`` / ``local[N,maxFailures]``
    master; ``fallback`` for cluster URLs (there the caller should override
    via --conf with total executor cores). Bare ``local`` is 1 core; the
    maxFailures field is ignored."""
    import re

    m = re.fullmatch(r"local(\[(\d+|\*)(,\d+)?\])?", master)
    if not m:
        return fallback
    n = m.group(2)
    if n is None:
        return 1
    return os.cpu_count() or fallback if n == "*" else int(n)


def get_spark(
    app_name: str = "blink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM hosts all executor threads — size it
        # for the machine (default 1g OOMs broadcast builds at sf0.1+)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # don't coalesce below the machine's parallelism: AQE's byte-based
        # heuristic sees a small docs shuffle (~16 MB at bench scale) and
        # would hand the CPU-heavy Arrow feature UDF that follows it to
        # half the cores. Bytes are the wrong cost model for a stage whose
        # cost is per-row Python compute; keeping >= one partition per
        # core costs nothing when shuffles are large (they never coalesce
        # below this anyway) and restores full parallelism when they are
        # small. The floor is the CORE COUNT, not the shuffle-partition
        # count: flooring at 32 partitions on a 1-core leg would just add
        # task overhead without parallelism (measured: it cost the pinned
        # scaling legs ~10%). On a cluster, set to total executor cores.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_AQE_MIN_PARTITIONS", str(_master_cores(master, fallback=sp))
            ),
        )
        # -- shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
