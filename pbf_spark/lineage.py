"""Per-partition lineage + metrics (SURVEY.md §2B B10).

Two complementary mechanisms:

- ``observe()`` metrics: row/entity counters attached to the decode
  DataFrame, collected by a QueryExecutionListener-free pull
  (``Observation``) — zero extra passes.
- lineage table: one row per (run, batch, partition) with input extent
  (doc_id range, blob count), output rows per entity type, and wall
  time, written as an append-only parquet table. Any partition's decode
  is re-derivable from its lineage row (doc range → spans → blobs).

The rows are a narrow per-partition summary (one ``mapInArrow`` fold, no
exchange) that the driver collects and writes as one parquet file per
``append_lineage`` call, as ``iceberg_lite.commit`` writes its metadata:
the lineage dir must be reachable from the driver.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .model.schema import ENTITY_KINDS

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

# one partition's summary row: the lineage columns the fold computes
_SUMMARY = pa.schema(
    [
        pa.field("partition_id", pa.int32(), False),
        pa.field("n_rows", pa.int64(), False),
        *(pa.field(f"n_{kind}s", pa.int64()) for kind in ENTITY_KINDS),
        pa.field("min_doc_id", pa.string()),
        pa.field("max_doc_id", pa.string()),
        pa.field("n_blobs", pa.int64(), False),
    ]
)


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


def _summarize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Fold one partition's (partition_id, entity_type, doc_id, blob_seq)
    rows into its ``_SUMMARY`` row; an empty partition yields none. Like
    the SQL aggregates: every row counts, null ids do not."""
    pid, n_rows, n_kind = None, 0, [0] * len(ENTITY_KINDS)
    docs, blobs = [], set()
    for batch in batches:
        if not batch.num_rows:
            continue
        pid = batch.column("partition_id")[0].as_py()
        n_rows += batch.num_rows
        kinds = batch.column("entity_type")
        for i, kind in enumerate(ENTITY_KINDS):
            n_kind[i] += pc.sum(pc.equal(kinds, kind)).as_py() or 0
        docs += [d for d in pc.min_max(batch.column("doc_id")).as_py().values() if d is not None]
        blobs.update(pc.unique(batch.column("blob_seq").drop_null()).to_pylist())
    if n_rows:
        row = (pid, n_rows, *n_kind, min(docs, default=None), max(docs, default=None), len(blobs))
        yield pa.RecordBatch.from_pylist([dict(zip(_SUMMARY.names, row))], _SUMMARY)


def partition_lineage(entities: DataFrame, run_id: str, batch_id: int = 0) -> DataFrame:
    """Per-partition lineage rows for an entity DataFrame.

    Summarizes within each physical partition (spark_partition_id), so
    the record maps 1:1 to a task's output — the unit of resumability.
    One ``mapInArrow`` fold per partition, no exchange. In the document
    stream a row is one decode partition of a micro-batch: the blob-table
    scan partition (a file, a byte range of one, or several small files
    packed together) that holds a one-blob batch's blob, or one spread
    partition of a larger batch (``streaming.pipeline._fan_out``).
    """
    return (
        entities.select(
            F.spark_partition_id().alias("partition_id"), "entity_type", "doc_id", "blob_seq"
        )
        .mapInArrow(_summarize, from_arrow_schema(_SUMMARY))
        .withColumns(
            {
                "run_id": F.lit(run_id),
                "batch_id": F.lit(batch_id).cast("long"),
                "recorded_at": F.current_timestamp(),
            }
        )
        .select(*LINEAGE_COLS)
    )


def append_lineage(entities: DataFrame, run_id: str, lineage_dir: str | Path, batch_id: int = 0) -> None:
    """Append ``entities``' lineage rows to the table at ``lineage_dir``
    as one new parquet file, written by the driver (one small job).

    The file is written under a hidden name (Spark's reader skips names
    starting with ``.``) and renamed into place, so a reader sees it
    whole or not at all. A call with no rows still writes a file, with
    the schema, so the table stays readable.
    """
    rows = partition_lineage(entities, run_id, batch_id).toArrow()
    lineage_dir = Path(lineage_dir)
    lineage_dir.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = lineage_dir / f".{name}.tmp"
    # timestamps as INT96, as Spark writes them: one physical schema per table
    pq.write_table(rows, tmp, use_deprecated_int96_timestamps=True)
    os.replace(tmp, lineage_dir / name)


def read_lineage(spark, lineage_dir: str | Path) -> DataFrame:
    return spark.read.parquet(str(lineage_dir))
