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


def _items(t: pa.DataType) -> pa.ListType:
    return pa.list_(pa.field("item", t, False))


# The one hand-written entity layout; the decode's Spark schema is derived
# from it (pyspark's from_arrow_schema), column by column.
ENTITY_ARROW_SCHEMA = pa.schema(
    [
        pa.field("entity_type", pa.string(), False),
        pa.field("id", pa.int64(), False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        # full nano-degrees (offset + granularity*coord): bit-exact tile math
        pa.field("lat_nano", pa.int64()),
        pa.field("lon_nano", pa.int64()),
        pa.field(
            "tags",
            _items(pa.struct([pa.field("key", pa.string(), False), pa.field("value", pa.string())])),
        ),
        pa.field("refs", _items(pa.int64())),
        pa.field(
            "members",
            _items(
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
        # provenance back to the interleaved document table
        pa.field("doc_id", pa.string()),
        pa.field("span_idx", pa.int32()),
        pa.field("blob_seq", pa.int64()),
    ]
)

# The columns an entity of each kind can populate. The JVM columnar→row
# conversion after mapInArrow pays per column per row even for all-null
# columns, so a decode of some kinds ships only the union of theirs.
KIND_FIELDS: dict[str, tuple[str, ...]] = {
    "node": (
        "entity_type", "id", "lat", "lon", "lat_nano", "lon_nano",
        "tags", "info", "doc_id", "span_idx", "blob_seq",
    ),
    "way": ("entity_type", "id", "tags", "refs", "info", "doc_id", "span_idx", "blob_seq"),
    "relation": ("entity_type", "id", "tags", "members", "info", "doc_id", "span_idx", "blob_seq"),
}
ENTITY_KINDS = tuple(KIND_FIELDS)

# the nested columns a decode's ``columns=`` keeps or prunes
NESTED_COLUMNS = ("tags", "info", "refs", "members")

# LocationsOnWays (osm.proto Way.lat/lon, optional): way geometries
# inline, no node join. Opt-in columns, appended to the decode schema
# only when requested (most files do not carry them).
WAY_LOC_ARROW_FIELDS = [pa.field(name, _items(pa.float64())) for name in ("way_lats", "way_lons")]

_FIELDS = {f.name: f for f in (*ENTITY_ARROW_SCHEMA, *WAY_LOC_ARROW_FIELDS)}


def _schema(names) -> pa.Schema:
    """The entity fields ``names`` in canonical order (way locations last)."""
    return pa.schema([f for name, f in _FIELDS.items() if name in names])


def _check_names(what: str, names, valid) -> None:
    unknown = sorted(set(names) - set(valid))
    if unknown:
        raise ValueError(f"unknown {what} {unknown}; valid {what}: {', '.join(valid)}")


def projection(
    kinds=ENTITY_KINDS, columns=None, way_locations: bool = False
) -> pa.Schema:
    """The decode's output schema: the ``KIND_FIELDS`` union of ``kinds``
    in canonical order, without each ``NESTED_COLUMNS`` column that
    ``columns`` (None keeps all) leaves out, plus ``way_lats``/``way_lons``
    when ``way_locations`` and ways are requested. An unknown kind or
    column raises ValueError."""
    _check_names("kinds", kinds, ENTITY_KINDS)
    names = {name for kind in kinds for name in KIND_FIELDS[kind]}
    if columns is not None:
        _check_names("columns", columns, NESTED_COLUMNS)
        names -= set(NESTED_COLUMNS) - set(columns)
    if way_locations and "way" in kinds:
        names |= {"way_lats", "way_lons"}
    return _schema(names)


# One PrimitiveBlock's entities of one kind, the columns the wire carries:
# wire/osmformat.parse_primitive_block returns these tables (or the
# projection's subset of them) and encode_block takes them. A way block
# without LocationsOnWays has null way_lats/way_lons.
BLOCK_SCHEMAS: dict[str, pa.Schema] = {
    "node": _schema(("id", "lat_nano", "lon_nano", "tags", "info")),
    "way": _schema(("id", "tags", "refs", "info", "way_lats", "way_lons")),
    "relation": _schema(("id", "tags", "members", "info")),
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
