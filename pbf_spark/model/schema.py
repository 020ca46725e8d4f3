"""Spark + Arrow schemas for the engine's tables.

Data model per SURVEY.md §1.2: one unified entity DataFrame (discriminator
column ``entity_type``) instead of three per-type frames, mirroring the
reference's single decode pass emitting all types in file order
(/root/reference/internal/decoder/primitive.go:36-41). Tags are stored as
``array<struct<key,value>>`` in WIRE ORDER — decode does not reorder. The
encoder canonicalizes to key-sorted order on write (same as the reference:
/root/reference/internal/encoder/primitive.go:282-297), so the
sorted-tags invariant holds for self-encoded files only; round-trip digest
tests canonicalize tags before hashing for that reason.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# entity table (decode output)
# ---------------------------------------------------------------------------

TAG_STRUCT = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)

MEMBER_STRUCT = T.StructType(
    [
        T.StructField("ref", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("role", T.StringType(), True),
    ]
)

INFO_STRUCT = T.StructType(
    [
        T.StructField("version", T.IntegerType(), True),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("visible", T.BooleanType(), True),
    ]
)

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        # full nano-degrees (offset + granularity*coord): bit-exact tile math
        T.StructField("lat_nano", T.LongType(), True),
        T.StructField("lon_nano", T.LongType(), True),
        T.StructField("tags", T.ArrayType(TAG_STRUCT, False), True),
        T.StructField("refs", T.ArrayType(T.LongType(), False), True),
        T.StructField("members", T.ArrayType(MEMBER_STRUCT, False), True),
        T.StructField("info", INFO_STRUCT, True),
        # provenance back to the interleaved document table
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("span_idx", T.IntegerType(), True),
        T.StructField("blob_seq", T.LongType(), True),
    ]
)

ENTITY_ARROW_SCHEMA = pa.schema(
    [
        pa.field("entity_type", pa.string(), False),
        pa.field("id", pa.int64(), False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        pa.field("lat_nano", pa.int64()),
        pa.field("lon_nano", pa.int64()),
        pa.field(
            "tags",
            pa.list_(
                pa.struct([pa.field("key", pa.string(), False), pa.field("value", pa.string())])
            ),
        ),
        pa.field("refs", pa.list_(pa.int64())),
        pa.field(
            "members",
            pa.list_(
                pa.struct(
                    [
                        pa.field("ref", pa.int64(), False),
                        pa.field("type", pa.string(), False),
                        pa.field("role", pa.string()),
                    ]
                )
            ),
        ),
        pa.field(
            "info",
            pa.struct(
                [
                    pa.field("version", pa.int32()),
                    pa.field("uid", pa.int32()),
                    pa.field("ts", pa.timestamp("us", tz="UTC")),
                    pa.field("changeset", pa.int64()),
                    pa.field("user", pa.string()),
                    pa.field("visible", pa.bool_()),
                ]
            ),
        ),
        pa.field("doc_id", pa.string()),
        pa.field("span_idx", pa.int32()),
        pa.field("blob_seq", pa.int64()),
    ]
)

# Per-entity-type column subsets for the SLIM decode path: the JVM
# columnar→row conversion after mapInArrow pays per column per row even
# for all-null columns, so a nodes-only consumer should not ship
# refs/members columns at all (they are null for every node). The
# unified ENTITY_SCHEMA remains the default decode contract.
KIND_FIELDS: dict[str, tuple[str, ...]] = {
    "node": (
        "entity_type", "id", "lat", "lon", "lat_nano", "lon_nano",
        "tags", "info", "doc_id", "span_idx", "blob_seq",
    ),
    "way": ("entity_type", "id", "tags", "refs", "info", "doc_id", "span_idx", "blob_seq"),
    "relation": ("entity_type", "id", "tags", "members", "info", "doc_id", "span_idx", "blob_seq"),
}


# LocationsOnWays (osm.proto Way.lat/lon, optional): way geometries
# inline, no node join. Opt-in columns — appended to the decode schema
# only when requested (the unified schema stays slim for the 99% of
# files that don't carry them).
WAY_LOC_SPARK_FIELDS = [
    T.StructField("way_lats", T.ArrayType(T.DoubleType(), False), True),
    T.StructField("way_lons", T.ArrayType(T.DoubleType(), False), True),
]
WAY_LOC_ARROW_FIELDS = [
    pa.field("way_lats", pa.list_(pa.field("item", pa.float64(), False))),
    pa.field("way_lons", pa.list_(pa.field("item", pa.float64(), False))),
]


def entity_schema_subset(fields) -> tuple[T.StructType, pa.schema]:
    """(Spark, Arrow) schema pair for a subset of entity columns, in
    canonical ENTITY_SCHEMA order (+ optional way-location columns)."""
    want = set(fields)
    names = [f.name for f in ENTITY_SCHEMA.fields if f.name in want]
    spark_fields = [ENTITY_SCHEMA[n] for n in names]
    arrow_fields = [ENTITY_ARROW_SCHEMA.field(n) for n in names]
    for sf, af in zip(WAY_LOC_SPARK_FIELDS, WAY_LOC_ARROW_FIELDS):
        if sf.name in want:
            spark_fields.append(sf)
            arrow_fields.append(af)
    return T.StructType(spark_fields), pa.schema(arrow_fields)


# One PrimitiveBlock's entities of one kind, the columns the wire carries:
# wire/osmformat.parse_primitive_block returns these tables and
# encode_block takes them. A way block without LocationsOnWays has null
# way_lats/way_lons; the decode projects these onto ENTITY_ARROW_SCHEMA.
BLOCK_SCHEMAS: dict[str, pa.Schema] = {
    kind: entity_schema_subset(cols)[1]
    for kind, cols in {
        "node": ("id", "lat_nano", "lon_nano", "tags", "info"),
        "way": ("id", "tags", "refs", "info", "way_lats", "way_lons"),
        "relation": ("id", "tags", "members", "info"),
    }.items()
}


# ---------------------------------------------------------------------------
# interleaved document table (north-rule input, BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

MEDIA_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("blob_seq", T.LongType(), False),
        T.StructField("blob_type", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("raw_size", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

# decode input: joined spans × blobs (what the decode UDF consumes)
DECODE_INPUT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("span_idx", pa.int32()),
        pa.field("blob_seq", pa.int64()),
        pa.field("blob_type", pa.string()),
        pa.field("codec", pa.string()),
        pa.field("raw_size", pa.int32()),
        pa.field("payload", pa.binary()),
    ]
)

# ---------------------------------------------------------------------------
# spatial layers
# ---------------------------------------------------------------------------

POLYGON_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.StringType(), False),
        T.StructField(
            "ring",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("lat", T.DoubleType(), False),
                        T.StructField("lon", T.DoubleType(), False),
                    ]
                ),
                False,
            ),
            False,
        ),
        T.StructField("category", T.StringType(), True),
    ]
)
