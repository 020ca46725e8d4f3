"""SparkSession factory with the engine's scale-aware defaults."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Python workers fork from this daemon (see pbf_spark/worker_daemon.py);
# every SparkSession the repo builds passes it
WORKER_DAEMON_CONF = ("spark.python.daemon.module", "pbf_spark.worker_daemon")


def local_root() -> str:
    """Where a session's scratch goes on this node: the first dir of
    ``SPARK_LOCAL_DIRS``, else the system temp dir."""
    return (os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()).split(",")[0]


def get_spark(
    app_name: str = "pbf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults tuned for the engine:
    - AQE on (runtime coalesce + skew-join split — B8's backstop)
    - Arrow batches at 10k records: scalar pandas UDFs (cell assignment,
      refinement) need fat batches or the per-batch Python round trip
      dominates (measured 5x slowdown at 256). Blob-decode inputs carry
      ~0.1-1 MB payloads, but partitions are byte-capped
      (maxPartitionBytes) so a batch can never exceed one partition's
      bytes — the big setting is safe there too.
    - shuffle partitions sized to cores locally (cluster deployments
      override via spark-submit conf; AQE coalesces the excess)
    - local dirs from the environment: ``spark.local.dir`` (shuffle,
      spill) is ``SPARK_LOCAL_DIRS``, and the warehouse of managed (e.g.
      bucketed) tables sits in its first dir; without it both go under
      the system temp dir. No node-specific path, so one code path
      serves local and cluster runs
    - Python workers fork from ``pbf_spark.worker_daemon``: stock
      workers re-read the zip directories of ~16 importers (over
      ``pyspark.zip``, the spark-core jar and py4j) on every task,
      ~220 ms per task before the UDF body runs; the daemon re-reads an
      archive only when it changed on disk. The daemon starts before any
      task ships ``--py-files``, so ``pbf_spark`` must be importable from
      the workers' PYTHONPATH or working directory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    env_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    root = local_root()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = (os.cpu_count() or 8) if n == "*" else int(n) if n.isdigit() else 64
        shuffle_partitions = max(shuffle_partitions, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when every post-shuffle partition's build side fits locally
        # (skips both sort passes of the big fact-fact joins, e.g. way
        # assembly's refs×nodes). 64m per-partition build is well inside
        # a task's execution memory at any deployment size; partitions
        # bigger than that keep sort-merge and its graceful spill.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(root, "pbf-spark-warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.local.dir", env_dirs or os.path.join(root, "pbf-spark-local"))
        .config(*WORKER_DAEMON_CONF)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
