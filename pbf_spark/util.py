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
    RDD-level storage. ``queryExecution().toRdd()`` on the checkpointed
    plan IS the stored RDD (unlike ``df.rdd``, which wraps it in a fresh
    deserializer), so unpersisting it releases the executor storage.
    Best-effort: failure means storage pressure, never wrong results.
    """
    try:
        df._jdf.queryExecution().toRdd().unpersist(False)
    except Exception:
        pass
