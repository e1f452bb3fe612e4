"""SparkSession factory with scale-appropriate defaults.

Designed for a 1000-executor cluster but testable on local[N]:
- AQE on (runtime re-plan, skew-join splitting)
- Arrow on, with a fixed batch size (``ARROW_BATCH``)
- shuffle partitions sized for the local harness; on a real cluster
  this is overridden by --conf

The worker-side tunings (malloc, zipimport, gc.freeze) need no session
config: core.memtune applies them in every Python worker that imports
the package, which every sketch kernel does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# rows per Arrow batch: it sets only speed (small batches keep worker
# temporaries cache-resident), as a build updates once per task
ARROW_BATCH = 8192


def get_spark(
    master: str | None = None,
    app: str = "heavy-hitters-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) the session. Without ``master``, the session runs
    on ``local[$SPARK_GRAFT_CPUS]``, or on ``local[*]`` when that is unset.

    NOTE: ``getOrCreate`` only applies JVM-launch options (the GC flags
    below, driver memory) when THIS call actually starts the JVM. If any
    SparkSession already exists in the process, those flags are silently
    ignored, so a measured configuration must start in a fresh process."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or (f"local[{cpus}]" if cpus else "local[*]")
    try:
        n_threads = int(master.split("[")[1].rstrip("]")) if "[" in master else 32
    except ValueError:  # local[*] and cluster masters
        n_threads = os.cpu_count() or 32
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # throughput collector: Arrow serialization allocates heavily and
        # G1's pause pattern penalizes many concurrent local task threads.
        # Eight GC threads keep GC bursts from oversubscribing the cores
        # the Python workers run on. SPARK_GRAFT_JAVA_OPTS is appended
        # last, and HotSpot keeps the last value of a repeated flag, so a
        # ParallelGCThreads given there wins. JVM options only apply when
        # THIS call launches the JVM (see docstring).
        .config(
            "spark.driver.extraJavaOptions",
            ("-XX:+UseParallelGC -XX:ParallelGCThreads=8 "
             + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip(),
        )
        # serve cached input without per-read lz4 decode: the decompress
        # runs on the JVM task threads CONCURRENTLY with the Python
        # kernels and was measured as the dominant cross-side contention
        # at high local parallelism (local[8] build walls ~6.3-8.0 s
        # compressed vs ~5.2-5.9 s uncompressed, same host phase)
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .getOrCreate()
    )
