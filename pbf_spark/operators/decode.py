"""Span-preserving vectorized PBF decode: blobs → unified entity DataFrame.

SURVEY.md §2B B2. One ``mapInArrow`` pass replaces the reference's whole
decode pipeline (/root/reference/decoder.go:65-71 — blob framing is done
by the source; batching by Arrow; the parallel fan-out by Spark task
parallelism across blob partitions). No per-row Python in the hot path:
each blob (≤8000 entities, mirroring the reference's EntityLimit) is
inflated and parsed once, then every array decode (delta cumsum,
string-table gather, tag splitting) is a numpy pass; output is built
directly as Arrow arrays.

Provenance columns (doc_id, span_idx, blob_seq) ride along so any entity
row can be traced back to its document span (north-rule span-sequence
invariant).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model.schema import (
    ENTITY_ARROW_SCHEMA,
    ENTITY_SCHEMA,
    KIND_FIELDS,
    WAY_LOC_ARROW_FIELDS,
    entity_schema_subset,
)

_WAY_LATS_TYPE = WAY_LOC_ARROW_FIELDS[0].type
_WAY_LONS_TYPE = WAY_LOC_ARROW_FIELDS[1].type
from ..util import spread
from ..wire import frame as wire_frame
from ..wire import osmformat
from ..wire.osmformat import MEMBER_TYPE_NAMES, BlockSoA, EntitySoA

_TAG_TYPE = ENTITY_ARROW_SCHEMA.field("tags").type
_MEMBER_TYPE = ENTITY_ARROW_SCHEMA.field("members").type
_INFO_TYPE = ENTITY_ARROW_SCHEMA.field("info").type


def _take_str(strings_arr: pa.Array, ids: np.ndarray) -> pa.Array:
    """String-table gather in Arrow C++ (no per-entity Python objects)."""
    return pc.take(strings_arr, pa.array(ids, pa.int64()))


def _tags_array(soa: EntitySoA, strings_arr: pa.Array) -> pa.ListArray:
    keys = _take_str(strings_arr, soa.tag_key)
    vals = _take_str(strings_arr, soa.tag_val)
    struct = pa.StructArray.from_arrays([keys, vals], fields=list(_TAG_TYPE.value_type))
    return pa.ListArray.from_arrays(pa.array(soa.tag_off, pa.int32()), struct, type=_TAG_TYPE)


def _info_array(soa: EntitySoA, strings_arr: pa.Array, n: int) -> pa.Array:
    info = soa.info
    if info is None:
        return pa.nulls(n, _INFO_TYPE)
    ts = pa.array(
        info.ts_ms.astype("int64") * 1000,
        pa.timestamp("us", tz="UTC"),
        mask=~(info.has_ts & info.has_info),
    )
    fields = [
        pa.array(info.version, pa.int32()),
        pa.array(info.uid, pa.int32(), mask=~info.has_uid),
        ts,
        pa.array(info.changeset, pa.int64()),
        _take_str(strings_arr, info.user_sid),
        pa.array(info.visible, pa.bool_()),
    ]
    return pa.StructArray.from_arrays(
        fields, fields=list(_INFO_TYPE), mask=pa.array(~info.has_info)
    )


def _way_loc_array(
    soa: EntitySoA, coord, offset: int, block: BlockSoA, n: int, typ: pa.DataType
) -> pa.Array:
    """LocationsOnWays coords (parallel to refs) → list<double> degrees."""
    if coord is None:
        return pa.nulls(n, typ)
    vals = osmformat.to_degrees(osmformat.nano_degrees(coord, offset, block.granularity))
    return pa.ListArray.from_arrays(
        pa.array(soa.ref_off, pa.int32()), pa.array(vals, pa.float64()), type=typ
    )


def _entity_batch(
    kind: str,
    soa: EntitySoA,
    block: BlockSoA,
    doc_id: str | None,
    span_idx: int | None,
    blob_seq: int | None,
    columns: frozenset[str] | None = None,
    out_schema: pa.Schema = ENTITY_ARROW_SCHEMA,
) -> pa.RecordBatch | None:
    """One (kind, SoA) → Arrow batch holding exactly ``out_schema``'s
    fields. The slim path drops whole columns (not just nulls them):
    the JVM columnar→row conversion after mapInArrow costs per column
    per row even when every value is null."""
    n = len(soa)
    if n == 0:
        return None

    want_names = set(out_schema.names)

    def want(col: str) -> bool:
        return col in want_names and (columns is None or col in columns)

    strings_arr = block.strings_arrow  # already Arrow — no conversion
    nulls_f64 = pa.nulls(n, pa.float64())
    nulls_i64 = pa.nulls(n, pa.int64())
    lat = lon = nulls_f64
    lat_nano_a = lon_nano_a = nulls_i64
    if kind == "node" and {"lat", "lon", "lat_nano", "lon_nano"} & want_names:
        lat_nano = osmformat.nano_degrees(soa.lat_coord, block.lat_offset, block.granularity)
        lon_nano = osmformat.nano_degrees(soa.lon_coord, block.lon_offset, block.granularity)
        lat = pa.array(osmformat.to_degrees(lat_nano), pa.float64())
        lon = pa.array(osmformat.to_degrees(lon_nano), pa.float64())
        lat_nano_a = pa.array(lat_nano, pa.int64())
        lon_nano_a = pa.array(lon_nano, pa.int64())
    if kind == "way" and want("refs"):
        refs = pa.ListArray.from_arrays(
            pa.array(soa.ref_off, pa.int32()), pa.array(soa.refs, pa.int64())
        )
    else:
        refs = pa.nulls(n, pa.list_(pa.int64()))
    if kind == "relation" and want("members"):
        mstruct = pa.StructArray.from_arrays(
            [
                pa.array(soa.mem_ref, pa.int64()),
                pc.take(pa.array(["node", "way", "relation"]), pa.array(soa.mem_type, pa.int8())),
                _take_str(strings_arr, soa.mem_role),
            ],
            fields=list(_MEMBER_TYPE.value_type),
        )
        members = pa.ListArray.from_arrays(
            pa.array(soa.mem_off, pa.int32()), mstruct, type=_MEMBER_TYPE
        )
    else:
        members = pa.nulls(n, _MEMBER_TYPE)

    def const_str(v):
        # constant column without n python objects: dictionary take in C++
        if v is None:
            return pa.nulls(n, pa.string())
        return pc.take(pa.array([v], pa.string()), pa.array(np.zeros(n, np.int32)))

    builders = {
        "entity_type": lambda: const_str(kind),
        "id": lambda: pa.array(soa.id, pa.int64()),
        "lat": lambda: lat,
        "lon": lambda: lon,
        "lat_nano": lambda: lat_nano_a,
        "lon_nano": lambda: lon_nano_a,
        "tags": lambda: _tags_array(soa, strings_arr) if want("tags") else pa.nulls(n, _TAG_TYPE),
        "refs": lambda: refs,
        "members": lambda: members,
        "info": lambda: _info_array(soa, strings_arr, n) if want("info") else pa.nulls(n, _INFO_TYPE),
        "doc_id": lambda: const_str(doc_id),
        "span_idx": lambda: pa.nulls(n, pa.int32())
        if span_idx is None
        else pa.array(np.full(n, span_idx, np.int32)),
        "blob_seq": lambda: pa.nulls(n, pa.int64())
        if blob_seq is None
        else pa.array(np.full(n, blob_seq, np.int64)),
        "way_lats": lambda: _way_loc_array(soa, soa.way_lat_coord, block.lat_offset, block, n, _WAY_LATS_TYPE)
        if kind == "way"
        else pa.nulls(n, _WAY_LATS_TYPE),
        "way_lons": lambda: _way_loc_array(soa, soa.way_lon_coord, block.lon_offset, block, n, _WAY_LONS_TYPE)
        if kind == "way"
        else pa.nulls(n, _WAY_LONS_TYPE),
    }
    arrays = [builders[name]() for name in out_schema.names]
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


_ALL_KINDS = ("node", "way", "relation")

def _normalize_tag_filter(tf) -> dict | None:
    """Accepts an iterable of keys or a {key: values-or-None} mapping;
    normalized once driver-side so the per-blob hot path sees a dict."""
    if tf is None:
        return None
    if isinstance(tf, dict):
        return {
            str(k): (None if v is None else tuple(str(x) for x in v))
            for k, v in tf.items()
        }
    return {str(k): None for k in tf}


def _tag_filter_sel(soa, block, tag_filter: dict) -> np.ndarray:
    """Boolean row mask: entity has ≥1 tag matching the filter — decided
    on STRING-TABLE IDS (one vectorized lookup per filter key against
    the block's table, then isin over the flat tag-id arrays), so
    non-matching entities never reach Arrow materialization. This is
    predicate pushdown below the columnar boundary: the decode-side
    analogue of a parquet row-group filter."""
    strings = block.strings
    hit = np.zeros(soa.tag_key.size, dtype=bool)
    for key, vals in tag_filter.items():
        ksids = np.nonzero(strings == key)[0]
        if ksids.size == 0:
            continue
        kmask = np.isin(soa.tag_key, ksids)
        if vals is not None:
            vsids = np.nonzero(np.isin(strings, np.array(vals, dtype=object)))[0]
            kmask &= np.isin(soa.tag_val, vsids)
        hit |= kmask
    cs = np.zeros(soa.tag_key.size + 1, dtype=np.int64)
    np.cumsum(hit, out=cs[1:])
    return (cs[soa.tag_off[1:]] - cs[soa.tag_off[:-1]]) > 0


def decode_blob_payload(
    payload: bytes,
    codec: str,
    raw_size: int,
    doc_id: str | None = None,
    span_idx: int | None = None,
    blob_seq: int | None = None,
    columns: frozenset[str] | None = None,
    kinds: tuple[str, ...] = _ALL_KINDS,
    out_schema: pa.Schema = ENTITY_ARROW_SCHEMA,
    tag_filter: dict | None = None,
) -> list[pa.RecordBatch]:
    """One OSMData blob payload → entity record batches (nodes, ways, rels).
    Malformed wire input (a bad stream, a truncated message, a string id
    outside the table) raises ValueError naming the blob."""
    try:
        raw = wire_frame.decompress_payload(codec, payload, raw_size)
        block = osmformat.parse_primitive_block(raw)
        out = []
        for kind, soa in (("node", block.nodes), ("way", block.ways), ("relation", block.relations)):
            if kind not in kinds:
                continue
            if tag_filter is not None and len(soa):
                sel = _tag_filter_sel(soa, block, tag_filter)
                if not sel.any():
                    continue
                if not sel.all():
                    soa = osmformat.subset_entities(soa, sel)
            rb = _entity_batch(kind, soa, block, doc_id, span_idx, blob_seq, columns, out_schema)
            if rb is not None:
                out.append(rb)
    except (ValueError, IndexError, zlib.error) as e:
        raise ValueError(
            f"malformed blob doc_id={doc_id} span_idx={span_idx} blob_seq={blob_seq}: {e}"
        ) from e
    return out


# output batch size the per-blob batches are coalesced into
_COALESCE_ROWS = 65536


def _decode_map_arrow(
    batches: Iterator[pa.RecordBatch],
    columns: frozenset[str] | None = None,
    coalesce_rows: int = _COALESCE_ROWS,
    kinds: tuple[str, ...] = _ALL_KINDS,
    out_schema: pa.Schema = ENTITY_ARROW_SCHEMA,
    tag_filter: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    # Per-blob decode emits ≤8000-row batches (1-3 per blob); shipping
    # those individually costs a fixed Arrow-IPC + JVM-columnar-batch
    # overhead per batch, which dominated r2's flat ~1.1M entities/s.
    # Coalescing into ~coalesce_rows batches pays one extra column-level
    # memcpy (cheap: warm memcpy streams at ~18 GB/s) to cut the per-batch
    # fixed cost ~8x.
    pending: list[pa.RecordBatch] = []
    pending_rows = 0

    def flush() -> list[pa.RecordBatch]:
        nonlocal pending, pending_rows
        if not pending:
            return []
        out = (
            pending
            if len(pending) == 1
            else pa.Table.from_batches(pending).combine_chunks().to_batches()
        )
        pending, pending_rows = [], 0
        return out

    for batch in batches:
        cols = {name: batch.column(name) for name in batch.schema.names}
        n = batch.num_rows
        doc_ids = cols["doc_id"].to_pylist() if "doc_id" in cols else [None] * n
        span_idxs = cols["span_idx"].to_pylist() if "span_idx" in cols else [None] * n
        blob_seqs = cols["blob_seq"].to_pylist() if "blob_seq" in cols else [None] * n
        blob_types = cols["blob_type"].to_pylist() if "blob_type" in cols else ["OSMData"] * n
        codecs = cols["codec"].to_pylist()
        raw_sizes = cols["raw_size"].to_pylist()
        payloads = cols["payload"]
        for i in range(n):
            if blob_types[i] != "OSMData":
                continue  # header blobs are handled driver-side (A2)
            for rb in decode_blob_payload(
                # as_buffer(): zero-copy view into the Arrow batch (as_py()
                # would memcpy every ~0.5 MB payload; the host memory
                # system is the decode bottleneck, not CPU)
                memoryview(payloads[i].as_buffer()),
                codecs[i],
                raw_sizes[i] or 0,
                doc_ids[i],
                span_idxs[i],
                blob_seqs[i],
                columns,
                kinds,
                out_schema,
                tag_filter,
            ):
                pending.append(rb)
                pending_rows += rb.num_rows
                if pending_rows >= coalesce_rows:
                    yield from flush()
    yield from flush()


def decode_blobs(
    blob_df: DataFrame,
    columns: frozenset[str] | set[str] | None = None,
    kinds: tuple[str, ...] | None = None,
    slim: bool = False,
    way_locations: bool = False,
    tag_filter=None,
) -> DataFrame:
    """Blob table → entity DataFrame.

    Input columns required: codec, raw_size, payload; optional: doc_id,
    span_idx, blob_seq, blob_type. Each blob decodes independently
    (PrimitiveBlock independence, public osmformat spec), so this is a
    narrow transformation — no shuffle.

    ``columns``: mapInArrow is opaque to Catalyst, so column pruning is
    pushed into the UDF explicitly — pass the expensive nested columns
    you need of {"tags", "info", "refs", "members"}; pruned columns
    come back null with the schema unchanged.

    ``kinds``: restrict to a subset of entity types at the source (the
    non-requested SoAs are never materialized). ``slim=True`` (requires
    ``kinds``) additionally DROPS the columns no requested kind can
    populate (schema.KIND_FIELDS union) instead of emitting them as
    nulls — the row-conversion cost after mapInArrow is per column per
    row, so a nodes-only pipeline should not ship refs/members at all.

    ``tag_filter``: decode-side predicate pushdown — an iterable of tag
    KEYS (presence test) or a ``{key: values-or-None}`` mapping; only
    entities with ≥1 matching tag are materialized to Arrow. The match
    runs on string-table ids inside the wire SoA (one table lookup per
    filter key per block), so a planet-scale "extract POIs" decode pays
    Arrow build + transfer only for matches. NOTE an entity-level
    predicate: a ways filter drops the untagged nodes carrying their
    geometry — decode nodes in a separate ``kinds=("node",)`` pass (or
    use LocationsOnWays files) when geometry is needed.
    """
    want = frozenset(columns) if columns is not None else None
    kinds_t = tuple(kinds) if kinds is not None else _ALL_KINDS
    spark_schema, arrow_schema = ENTITY_SCHEMA, ENTITY_ARROW_SCHEMA
    way_locs = ["way_lats", "way_lons"] if (way_locations and "way" in kinds_t) else []
    if slim:
        if kinds is None:
            raise ValueError("slim=True requires kinds=(...) — the union schema is not slim")
        fields: list[str] = []
        for k in kinds_t:
            fields.extend(f for f in KIND_FIELDS[k] if f not in fields)
        if want is not None:
            drop = {"tags", "info", "refs", "members"} - want
            fields = [f for f in fields if f not in drop]
        spark_schema, arrow_schema = entity_schema_subset(fields + way_locs)
    elif way_locs:
        spark_schema, arrow_schema = entity_schema_subset(
            [f.name for f in ENTITY_SCHEMA.fields] + way_locs
        )
    tf = _normalize_tag_filter(tag_filter)
    return blob_df.mapInArrow(
        lambda it: _decode_map_arrow(it, want, _COALESCE_ROWS, kinds_t, arrow_schema, tf),
        spark_schema,
    )


def document_blobs(docs: DataFrame, media_blobs: DataFrame) -> DataFrame:
    """The blob rows a document table's media spans point at.

    ``posexplode(spans)`` keeps the span order index as provenance; only
    media spans are kept. The join to the sidecar is on media_ref — at
    scale both tables should be bucketed by media_ref so this co-locates
    (documented seam; in local mode AQE picks the strategy).
    """
    spans = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
        .where(F.col("span.kind") == "media")
        .select(
            "doc_id",
            F.col("span_idx").cast("int").alias("span_idx"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )
    return spans.join(media_blobs, "media_ref").select(
        "doc_id", "span_idx", "blob_seq", "blob_type", "codec", "raw_size", "payload"
    )


def decode_documents(
    docs: DataFrame,
    media_blobs: DataFrame,
    columns: frozenset[str] | set[str] | None = None,
    kinds: tuple[str, ...] | None = None,
    slim: bool = False,
    tag_filter=None,
) -> DataFrame:
    """Interleaved document table + blob sidecar → entity DataFrame (B1+B2):
    ``document_blobs`` decoded."""
    # Blob rows are ~100 KB-1 MB each, so byte-based split/AQE sizing
    # wildly underestimates decode CPU: one task per core (util.spread;
    # a streaming plan keeps the join's partitions)
    joined = spread(document_blobs(docs, media_blobs))
    return decode_blobs(joined, columns, kinds=kinds, slim=slim, tag_filter=tag_filter)


def count_by_type(entities: DataFrame) -> DataFrame:
    """The reference's only end-user query: ``pbf info -e``
    (/root/reference/cmd/pbf/info/info.go:139-168)."""
    return entities.groupBy("entity_type").agg(F.count("*").alias("n")).orderBy("entity_type")
