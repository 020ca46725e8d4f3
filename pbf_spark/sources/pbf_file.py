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

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..wire.frame import iter_blob_frames, read_blob_header, split_blob, unpack_blob
from ..wire.osmformat import Header, parse_header_block

def index_blobs(path: str | Path) -> list[tuple[int, str, int, int]]:
    """Framing-only scan → [(blob_seq, blob_type, payload_offset, length)].

    Reads only the frame headers and seeks past each Blob; a malformed
    header or a Blob that runs past the end of the file raises
    ValueError naming the path and the frame's byte offset."""
    out = []
    offset = 0
    with open(path, "rb") as f:
        size = os.fstat(f.fileno()).st_size
        try:
            while (frame := read_blob_header(f, offset)) is not None:
                blob_type, blob_offset, datasize = frame
                if blob_offset + datasize > size:
                    raise ValueError(f"truncated blob in the frame at byte {offset}")
                out.append((len(out), blob_type, blob_offset, datasize))
                offset = f.seek(blob_offset + datasize)
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from None
    return out


def load_header(path: str | Path) -> Header:
    """Decode blob 0 (OSMHeader) driver-side — LoadHeader (decoder/header.go:29-71).

    Reads only the first frame. Also enforces the required-features gate
    before any job is submitted.
    """
    with open(path, "rb") as f:
        blob_type, blob = next(iter_blob_frames(f), (None, b""))
    if blob_type != "OSMHeader":
        raise ValueError("file does not start with an OSMHeader blob")
    return parse_header_block(unpack_blob(blob))


def read_blob_table(spark: SparkSession, path: str | Path) -> DataFrame:
    """Blob DataFrame (blob_seq, blob_type, codec, raw_size, payload).

    The index pass runs driver-side; payload fetch happens task-side via
    ``mapInPandas`` over the (Arrow-created) index — range reads, no RDD
    API, no exchange. A short read (the file changed after indexing) or
    a corrupt Blob message fails the task with a ValueError naming the
    path, blob_seq and byte offset.
    """
    import pandas as pd

    path = str(Path(path).resolve())
    idx = [row for row in index_blobs(path) if row[1] == "OSMData"]
    # the Arrow path slices the index into min(len(idx), defaultParallelism)
    # non-empty partitions, one fetch task each
    index_df = spark.createDataFrame(
        pd.DataFrame(idx, columns=["blob_seq", "blob_type", "offset", "length"])
    )

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
                    blob = f.read(int(length))
                    try:
                        if len(blob) < length:
                            raise ValueError(f"short read, {len(blob)} of {length} bytes")
                        codec, raw_size, payload = split_blob(blob)
                    except ValueError as e:
                        raise ValueError(f"{path}: blob_seq={seq} at byte {off}: {e}") from None
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
