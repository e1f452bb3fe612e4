"""SparkSession factory that sets only what differs from Spark's defaults.

- Arrow on, with a fixed batch size (``ARROW_BATCH``)
- shuffle partitions = the slot count of a ``local[N]`` master
- UI off; driver memory and the GC flags for a locally launched JVM

Under spark-submit (no ``master`` passed) every submitted value is
kept: the master, shuffle partitions and any of the keys above. AQE
and the 128 MB file split are Spark's defaults and are not restated.

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


def get_spark(master: str | None = None, app: str = "heavy-hitters-spark") -> SparkSession:
    """Build (or get) the session. Without ``master``, a process launched
    by spark-submit keeps the submitted master and shuffle partitions,
    and sets only the confs below that were not submitted; otherwise
    the session runs on ``local[$SPARK_GRAFT_CPUS]``, or on ``local[*]``
    when that is unset.

    NOTE: ``getOrCreate`` only applies JVM-launch options (the GC flags
    below, driver memory) when THIS call actually starts the JVM. If any
    SparkSession already exists in the process, those flags are silently
    ignored, so a measured configuration must start in a fresh process."""
    builder = SparkSession.builder.appName(app)
    opts = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # throughput collector: Arrow serialization allocates heavily and
        # G1's pause pattern penalizes many concurrent local task threads.
        # The GC thread count is the JVM's default. SPARK_GRAFT_JAVA_OPTS
        # is appended, so GC flags given there apply. JVM options only
        # apply when THIS call launches the JVM (see docstring).
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
        ).strip(),
    }
    # spark-submit hands its JVM to the Python driver through this
    # variable; builder options would override the submitted ones
    if master is not None or "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = master or (f"local[{cpus}]" if cpus else "local[*]")
        builder = builder.master(master)
        if master.startswith("local["):
            slots = master[len("local["):].split("]")[0].split(",")[0]
            n = os.cpu_count() if slots == "*" else int(slots)
            builder = builder.config("spark.sql.shuffle.partitions", str(n))
    else:
        # the submitted confs are the JVM's spark.* system properties,
        # which a SparkConf loads once the gateway is up
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()
        submitted = SparkConf()
        opts = {k: v for k, v in opts.items() if not submitted.contains(k)}
    return builder.config(map=opts).getOrCreate()
