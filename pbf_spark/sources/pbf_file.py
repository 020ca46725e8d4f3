"""PBF file → blob DataFrame source (SURVEY.md A1/A2).

Strategy per SURVEY.md: a cheap sequential *index pass* reads only the
framing (4-byte sizes + BlobHeaders — a few KB per GB of file) to learn
every blob's (offset, length), then the payload bytes are fetched and
decoded *in parallel* by Spark tasks. This mirrors the reference's
sequential framing (/root/reference/internal/decoder/blob.go:81-105) but
moves the heavy decompress+parse off the scanning thread; at cluster
scale the index pass is a metadata-sized driver job and each task range-
reads its slice (HDFS/S3 seek), so the file never passes through the
driver.

In this sandbox (local FS) tasks re-open the local path directly.
"""

from __future__ import annotations

import struct
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..wire.frame import MAX_BLOB_HEADER_SIZE, split_blob, unpack_blob
from ..wire.osmformat import Header, parse_header_block
from ..wire.proto import parse_message

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("blob_seq", T.LongType(), False),
        T.StructField("blob_type", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("length", T.LongType(), False),
    ]
)


def index_blobs(path: str | Path) -> list[tuple[int, str, int, int]]:
    """Framing-only scan → [(blob_seq, blob_type, payload_offset, length)]."""
    out = []
    seq = 0
    with open(path, "rb") as f:
        while True:
            size_bytes = f.read(4)
            if not size_bytes:
                break
            (hsize,) = struct.unpack(">I", size_bytes)
            if hsize > MAX_BLOB_HEADER_SIZE:
                raise ValueError(f"blob header too big: {hsize}")
            header = parse_message(f.read(hsize))
            blob_type = bytes(header[1][0]).decode()
            datasize = header[3][0]
            out.append((seq, blob_type, f.tell(), datasize))
            f.seek(datasize, 1)
            seq += 1
    return out


def load_header(path: str | Path) -> Header:
    """Decode blob 0 (OSMHeader) driver-side — LoadHeader (decoder/header.go:29-71).

    Also enforces the required-features gate before any job is submitted.
    """
    idx = index_blobs(path)
    if not idx or idx[0][1] != "OSMHeader":
        raise ValueError("file does not start with an OSMHeader blob")
    seq, _t, off, ln = idx[0]
    with open(path, "rb") as f:
        f.seek(off)
        return parse_header_block(unpack_blob(f.read(ln)))


def read_blob_table(spark: SparkSession, path: str | Path) -> DataFrame:
    """Blob DataFrame (blob_seq, blob_type, codec, raw_size, payload).

    The index pass runs driver-side; payload fetch happens task-side via
    ``mapInPandas`` over the (Arrow-created) index — range reads, no RDD
    API, scan stays narrow after the index repartition.
    """
    import pandas as pd

    path = str(Path(path).resolve())
    idx = [row for row in index_blobs(path) if row[1] == "OSMData"]
    n_parts = min(len(idx), spark.sparkContext.defaultParallelism * 2) or 1
    index_df = spark.createDataFrame(
        pd.DataFrame(idx, columns=["blob_seq", "blob_type", "offset", "length"])
    ).repartition(n_parts)

    schema = T.StructType(
        [
            T.StructField("blob_seq", T.LongType(), False),
            T.StructField("blob_type", T.StringType(), False),
            T.StructField("codec", T.StringType(), False),
            T.StructField("raw_size", T.IntegerType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def fetch(pdfs):
        with open(path, "rb") as f:
            for pdf in pdfs:
                out = {"blob_seq": [], "blob_type": [], "codec": [], "raw_size": [], "payload": []}
                for seq, btype, off, length in zip(
                    pdf["blob_seq"], pdf["blob_type"], pdf["offset"], pdf["length"]
                ):
                    f.seek(int(off))
                    codec, raw_size, payload = split_blob(f.read(int(length)))
                    out["blob_seq"].append(int(seq))
                    out["blob_type"].append(btype)
                    out["codec"].append(codec)
                    out["raw_size"].append(raw_size)
                    out["payload"].append(payload)
                yield pd.DataFrame(out)

    return (
        index_df.mapInPandas(fetch, schema)
        .withColumn("doc_id", F.lit(None).cast("string"))
        .withColumn("span_idx", F.lit(None).cast("int"))
    )
