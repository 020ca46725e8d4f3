"""Per-partition lineage + metrics (SURVEY.md §2B B10).

Two complementary mechanisms:

- ``observe()`` metrics: row/entity counters attached to the decode
  DataFrame, collected by a QueryExecutionListener-free pull
  (``Observation``) — zero extra passes.
- lineage table: one row per (run, batch, partition) with input extent
  (doc_id range, blob count), output rows per entity type, and wall
  time, written as an append-only parquet table. Any partition's decode
  is re-derivable from its lineage row (doc range → spans → blobs).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

LINEAGE_COLS = [
    "run_id",
    "batch_id",
    "partition_id",
    "n_rows",
    "n_nodes",
    "n_ways",
    "n_relations",
    "min_doc_id",
    "max_doc_id",
    "n_blobs",
    "recorded_at",
]


def observed_decode(entities: DataFrame, name: str = "decode_metrics"):
    """Attach an Observation to an entity DataFrame → (df, observation).

    After any action on the returned df, ``observation.get`` yields the
    totals without a second pass.
    """
    obs = Observation(name)
    df = entities.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("entity_type") == "node", 1).otherwise(0)).alias("nodes"),
        F.sum(F.when(F.col("entity_type") == "way", 1).otherwise(0)).alias("ways"),
        F.sum(F.when(F.col("entity_type") == "relation", 1).otherwise(0)).alias("relations"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    return df, obs


def partition_lineage(entities: DataFrame, run_id: str, batch_id: int = 0) -> DataFrame:
    """Per-partition lineage rows for an entity DataFrame.

    Aggregates within each physical partition (spark_partition_id), so
    the record maps 1:1 to a task's output — the unit of resumability.
    In the document stream a row is one decode partition of a
    micro-batch: the blob-table scan partition (a file, a byte range of
    one, or several small files packed together) that holds a one-blob
    batch's blob, or one spread partition of a larger batch
    (``streaming.pipeline._fan_out``).
    """
    return (
        entities.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("entity_type") == "node", 1).otherwise(0)).alias("n_nodes"),
            F.sum(F.when(F.col("entity_type") == "way", 1).otherwise(0)).alias("n_ways"),
            F.sum(F.when(F.col("entity_type") == "relation", 1).otherwise(0)).alias(
                "n_relations"
            ),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.countDistinct("blob_seq").alias("n_blobs"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("_pid").alias("partition_id"),
            "n_rows",
            "n_nodes",
            "n_ways",
            "n_relations",
            "min_doc_id",
            "max_doc_id",
            "n_blobs",
            F.current_timestamp().alias("recorded_at"),
        )
    )


def append_lineage(entities: DataFrame, run_id: str, lineage_dir: str | Path, batch_id: int = 0) -> None:
    partition_lineage(entities, run_id, batch_id).write.mode("append").parquet(str(lineage_dir))


def read_lineage(spark, lineage_dir: str | Path) -> DataFrame:
    return spark.read.parquet(str(lineage_dir))
