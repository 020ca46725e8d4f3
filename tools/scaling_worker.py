"""One worker of the bandwidth-fair multi-JVM scaling protocol.

Launched by tools/scaling_multi.py as:
  spark-submit --master local[N] --py-files pbf_spark.zip \
      tools/scaling_worker.py <fixture_dir> <out_json> <barrier_dir> \
      <worker_id> <n_workers> <window_sec>

Why this protocol exists: a real 4N-executor cluster has 4x the memory
bandwidth and 4x the memory controllers of an N-executor cluster —
local[8] → local[32] inside ONE JVM on ONE host scales only cores, so
wall-clock efficiency there under-measures the engine. K isolated
local[8] JVMs running CONCURRENTLY are the faithful single-host stand-in
for K executors: separate heaps, separate GC, separate shuffle dirs,
separate Python worker pools — exactly what K executor processes look
like on a cluster, sharing only what cluster nodes never share (one
host's DRAM). Aggregate throughput of K=4 vs K=1 is the scaling number.

Protocol per phase (decode, pip_join, way_assembly):
  warm once → signal ready_{phase}_{id} → wait for go_{phase} (all
  workers ready) → run the phase in a loop for >= window_sec → report
  runs, elapsed, CPU seconds of this worker's whole process tree.
Fixed-duration fully-overlapped windows are the standard concurrent-
throughput methodology; per-run best-of-N would let a worker's "best"
land in other workers' idle gaps.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _barrier(barrier_dir: str, phase: str, worker_id: int, timeout: float = 2400.0) -> None:
    open(os.path.join(barrier_dir, f"ready_{phase}_{worker_id}"), "w").close()
    go = os.path.join(barrier_dir, f"go_{phase}")
    t0 = time.time()
    while not os.path.exists(go):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"barrier {phase} timed out")
        time.sleep(0.05)


def _window(fn, window_sec: float, cpu_fn):
    cpu0 = cpu_fn()
    t0 = time.time()
    runs = 0
    while True:
        fn()
        runs += 1
        if time.time() - t0 >= window_sec:
            break
    elapsed = time.time() - t0
    return {"runs": runs, "elapsed_sec": round(elapsed, 3), "cpu_sec": round(cpu_fn() - cpu0, 3)}


def main(fixture_dir: str, out_json: str, barrier_dir: str, worker_id: int, n_workers: int, window_sec: float) -> None:
    from proc_cpu import CpuTracker

    # this python driver is a CHILD of the local-mode JVM (spark-submit →
    # java → python); the Python workers are the JVM's children. Root the
    # CPU accounting at the JVM so the whole worker tree is covered;
    # sticky membership keeps exiting/reparented workers accounted.
    tracker = CpuTracker(os.getppid())
    cpu_fn = tracker.total

    from pbf_spark.session import WORKER_DAEMON_CONF, local_root

    # per-worker local dir and warehouse: the ways_bucketed phase's
    # bucketed tables must never collide across concurrent workers
    local_dir = os.path.join(local_root(), f"pbf-spark-local-w{worker_id}")
    wh = os.path.join(local_root(), f"pbf-spark-scaling-wh-w{worker_id}")
    spark = (
        SparkSession.builder.appName(f"pbf_spark-scaling-w{worker_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", wh)  # static config
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "524288")
        .config(*WORKER_DAEMON_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))

    from pbf_spark.operators import decode, spatial
    from pbf_spark.sources import iceberg_lite

    manifest = json.load(open(f"{fixture_dir}/fixture_manifest.json"))
    docs = iceberg_lite.read_table(spark, f"{fixture_dir}/documents_interleaved")
    blobs = iceberg_lite.read_table(spark, f"{fixture_dir}/media_blobs")
    polys = spark.read.parquet(f"{fixture_dir}/polygons.parquet")

    R = int(os.environ.get("SCALING_REPLICATE", "4"))
    import functools

    docs = functools.reduce(lambda a, b: a.unionAll(b), [docs] * R)
    n_entities = manifest["total_entities"] * R

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # decode_documents spreads the joined blob rows to one task per core
    # (util.spread), as every batch caller gets it
    decode_run = lambda: force(decode.decode_documents(docs, blobs))
    decode_run()  # warmup: codegen, python daemons, page cache
    _barrier(barrier_dir, "decode", worker_id)
    decode_res = _window(decode_run, window_sec, cpu_fn)

    # cell assignment is ingest-time work — precompute it INTO the cache
    # so the measured join is the pure-JVM broadcast+raycast stage (the
    # steady-state shape: cells are computed once, reused by every query)
    nodes = (
        decode.decode_documents(docs, blobs, columns=frozenset())
        .where("entity_type='node'")
        .select("id", "lat", "lon")
        .withColumn("s2_cell", spatial.s2_cell_udf(13)(F.col("lat"), F.col("lon")))
        .repartition(cores * 2)  # cache granularity: keep every core fed per run
        .cache()
    )
    n_nodes = nodes.count()
    index = spatial.build_polygon_index(spark, polys)
    n_join = spatial.point_in_polygon_join(nodes, index).count()  # warmup
    pip_run = lambda: spatial.point_in_polygon_join(nodes, index).count()
    _barrier(barrier_dir, "pip", worker_id)
    pip_res = _window(pip_run, window_sec, cpu_fn)

    # ways phase: the big-big shuffle join (refs x nodes -> ordered
    # geometry arrays). Inputs cached like pip's: decode is ingest-time
    # work already measured by the decode phase; what this window times
    # is the posexplode -> shuffle join -> reassembly groupBy itself.
    from pbf_spark.operators import ways as ways_ops

    way_refs = (
        decode.decode_documents(docs, blobs, columns=frozenset({"refs"}))
        .where("entity_type='way'")
        .select("id", "refs")
        .repartition(cores * 2)
        .cache()
    )
    n_ways = way_refs.count()
    node_coords = nodes.select("id", "lat", "lon")
    ways_run = lambda: force(ways_ops.assemble_way_geometries(way_refs, node_coords))
    ways_run()  # warmup
    _barrier(barrier_dir, "ways", worker_id)
    ways_res = _window(ways_run, window_sec, cpu_fn)

    # ways_bucketed phase: the SAME reassembly over refs/nodes stored
    # BUCKETED by the node-id key — the layout a 100-TB deployment
    # writes once at ingest. The join Exchange on both fact sides
    # disappears (bucket-aware scans feed the SMJ directly), roughly
    # halving per-run shuffle volume; only the way_id groupBy still
    # shuffles. Table writes are setup (ingest-time), not timed.
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    n_buckets = max(cores * 4, 8)
    import shutil

    shutil.rmtree(wh, ignore_errors=True)
    for name in ("sc_refs", "sc_nodes"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    way_refs.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
    ).write.bucketBy(n_buckets, "ref").sortBy("ref").mode("overwrite").saveAsTable("sc_refs")
    node_coords.write.bucketBy(n_buckets, "id").sortBy("id").mode(
        "overwrite"
    ).saveAsTable("sc_nodes")
    b_refs, b_nodes = spark.table("sc_refs"), spark.table("sc_nodes")
    ways_b_run = lambda: force(ways_ops.assemble_way_geometries_from_refs(b_refs, b_nodes))
    ways_b_run()  # warmup
    _barrier(barrier_dir, "ways_bucketed", worker_id)
    ways_b_res = _window(ways_b_run, window_sec, cpu_fn)

    out = {
        "worker_id": worker_id,
        "n_workers": n_workers,
        "cores": cores,
        "replicate": R,
        "entities_per_run": n_entities,
        "n_nodes": n_nodes,
        "pip_rows_per_run": n_join,
        "ways_per_run": n_ways,
        "decode": decode_res,
        "pip": pip_res,
        "ways": ways_res,
        "ways_bucketed": ways_b_res,
    }
    with open(out_json, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5]), float(sys.argv[6]))
