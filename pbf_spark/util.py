"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def small_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Create a small DataFrame without the slow Python-RDD fan-out.

    ``spark.createDataFrame(list, schema)`` parallelizes across
    defaultParallelism slices, one Python task each. Routing through one
    slice keeps it a single task: for 2k ``(long, double, double)`` rows
    at local[4] (4 vCPUs, ``get_spark`` defaults), ``count()`` took
    median ~300 ms via ``createDataFrame`` and ~200 ms here. For flat
    schemas prefer ``spark.createDataFrame(pandas.DataFrame(...))``
    (Arrow path).
    """
    sc = spark.sparkContext
    return spark.createDataFrame(sc.parallelize(rows, numSlices=1), schema)


def spread(df: DataFrame, *keys) -> DataFrame:
    """Fan ``df`` out to one partition per core before Python-heavy work.

    The one owner of that decision in the package. A streaming frame
    comes back unchanged (its plan is fixed for every micro-batch, so a
    per-batch fan-out is made in ``foreachBatch``, as
    ``streaming.pipeline._fan_out`` does); any other frame is
    hash-partitioned on ``keys`` (give a unique key: even, deterministic
    spread) or, with no key, round-robin. The count stays explicit: AQE
    sizes a keyed exchange by bytes and coalesces a few MB of rows whose
    Python cost is seconds into one or two tasks.
    """
    if df.isStreaming:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def checkpoint_and_release(df: DataFrame, *scratch: DataFrame) -> DataFrame:
    """Compute ``df`` into a ``localCheckpoint`` the returned frame owns,
    then unpersist the ``scratch`` frames the computation reused.

    The lifetime rule for operator storage: it belongs to the call or to
    the object the call returns, never to the plan-keyed SQL cache
    across calls (a later call with the same plan would reuse it instead
    of recomputing from its inputs). A localCheckpoint has no plan key.
    """
    out = df.localCheckpoint(eager=True)
    for s in scratch:
        s.unpersist()
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free the cached RDD behind a ``localCheckpoint``ed DataFrame.

    ``df.unpersist()`` only touches the SQL cache; a localCheckpoint is
    RDD-level storage. The checkpointed frame's logical plan is a
    ``LogicalRDD`` over the stored RDD (``queryExecution().toRdd()`` is
    a fresh RDD mapped over it, whose unpersist frees nothing), so
    unpersisting that RDD releases the executor storage. Best-effort:
    failure means storage pressure, never wrong results.
    """
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass
