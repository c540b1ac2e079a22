"""SparkSession factory tuned for this engine.

Defaults target the sandbox (local[N], single JVM) but every knob is the
one that matters on a real multi-executor cluster at 100 TB:

* AQE on — runtime coalescing + skew-join splitting for Zipfian blocking
  keys (head-domain hot keys; see operators/blocking.py salting as the
  first line of defense, AQE as backstop).
* Arrow on — every Python boundary in this engine is a pandas/Arrow UDF
  (mapInPandas / applyInPandas); no per-row Python anywhere.
* shuffle partitions sized to cores locally; on a cluster this should be
  ~2-3x total executor cores (or left to AQE's coalescing).
* Python workers get this package's parent directory on their
  PYTHONPATH, so UDF-backed operators run from any cwd without the
  caller exporting PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "textgraphs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with this engine's defaults.

    The default core count is ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # workers are forked by the JVM and import this package by name
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (package_root, os.environ.get("PYTHONPATH")) if p
    )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-task overhead at test scale.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep catalog artifacts (bucketed saveAsTable) out of the repo cwd;
        # per-uid path so concurrent users/checkouts don't race on tables
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/tgs_warehouse_{os.getuid()}"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
