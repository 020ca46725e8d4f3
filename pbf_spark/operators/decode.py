"""Span-preserving vectorized PBF decode: blobs → unified entity DataFrame.

SURVEY.md §2B B2. One ``mapInArrow`` pass replaces the reference's whole
decode pipeline (/root/reference/decoder.go:65-71 — blob framing is done
by the source; batching by Arrow; the parallel fan-out by Spark task
parallelism across blob partitions). No per-row Python in the hot path:
each blob (≤8000 entities, mirroring the reference's EntityLimit) is
inflated and parsed once into one Arrow table per entity kind (the wire
codec builds the arrays directly: delta cumsum and tag splitting in
numpy, string-table gathers in Arrow), and this operator only projects
those tables onto the output schema. One rule, ``schema.projection``,
sets both that schema and which kinds and columns the wire builds.

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
from pyspark.sql.pandas.types import from_arrow_schema

from ..model.schema import ENTITY_KINDS, projection
from ..util import spread
from ..wire import frame as wire_frame
from ..wire import osmformat


def _entity_batch(
    kind: str,
    table: pa.Table,
    schema: pa.Schema,
    doc_id: str | None,
    span_idx: int | None,
    blob_seq: int | None,
) -> pa.RecordBatch | None:
    """One kind's block table projected onto exactly ``schema``'s fields:
    degrees from the nano-degrees, constant entity_type and provenance,
    and nulls for a column the kind does not carry."""
    n = table.num_rows
    if n == 0:
        return None
    consts = {"entity_type": kind, "doc_id": doc_id, "span_idx": span_idx, "blob_seq": blob_seq}

    def column(f: pa.Field) -> pa.Array:
        if f.name in consts:  # a constant column is one value repeated n times, in C++
            return pa.repeat(pa.scalar(consts[f.name], f.type), n)
        if f.name in ("lat", "lon") and kind == "node":
            return pa.array(osmformat.to_degrees(table.column(f.name + "_nano").to_numpy()))
        if f.name in table.column_names:
            return table.column(f.name).chunk(0)
        return pa.nulls(n, f.type)

    return pa.RecordBatch.from_arrays([column(f) for f in schema], schema=schema)


def _strs(v) -> tuple[str, ...]:
    """One string, or an iterable of them (a bare ``str`` is one value)."""
    return (v,) if isinstance(v, str) else tuple(str(x) for x in v)


def _normalize_tag_filter(tf) -> dict | None:
    """Accepts a key, an iterable of keys or a {key: value-or-values-or-None}
    mapping; normalized once driver-side so the per-blob hot path sees a
    dict."""
    if tf is None:
        return None
    if isinstance(tf, dict):
        return {str(k): None if v is None else _strs(v) for k, v in tf.items()}
    return dict.fromkeys(_strs(tf))


def _tag_filter_mask(tags: pa.ListArray, tag_filter: dict) -> np.ndarray:
    """Boolean row mask: the entity has ≥1 tag matching the filter. The
    match runs in Arrow over the flattened keys and values, so non-matching
    entities are dropped before the projection: predicate pushdown below
    the columnar boundary, the decode-side analogue of a parquet row-group
    filter."""
    flat = pc.list_flatten(tags)
    keys, values = pc.struct_field(flat, "key"), pc.struct_field(flat, "value")
    hit = pa.repeat(False, len(flat))
    for key, vals in tag_filter.items():
        match = pc.equal(keys, key)
        if vals is not None:
            match = pc.and_(match, pc.is_in(values, pa.array(vals, pa.string())))
        hit = pc.or_(hit, match)
    keep = np.zeros(len(tags), dtype=bool)
    keep[pc.list_parent_indices(tags).filter(hit).to_numpy()] = True
    return keep


def decode_blob_payload(
    payload: bytes,
    codec: str,
    raw_size: int,
    doc_id: str | None = None,
    span_idx: int | None = None,
    blob_seq: int | None = None,
    columns: frozenset[str] | None = None,
    kinds: tuple[str, ...] = ENTITY_KINDS,
    way_locations: bool = False,
    tag_filter: dict | None = None,
) -> list[pa.RecordBatch]:
    """One OSMData blob payload → entity record batches (nodes, ways, rels)
    with the ``schema.projection(kinds, columns, way_locations)`` schema;
    the wire builds only those columns (and ``tags`` for a tag filter).
    Malformed wire input (a bad stream, a truncated message, a string id
    outside the table) raises ValueError naming the blob."""
    schema = projection(kinds, columns, way_locations)
    build = set(schema.names) | ({"tags"} if tag_filter is not None else set())
    try:
        raw = wire_frame.decompress_payload(codec, payload, raw_size)
        block = osmformat.parse_primitive_block(raw, dict.fromkeys(kinds, build))
        out = []
        for kind, table in zip(ENTITY_KINDS, block):
            if kind not in kinds:
                continue
            if tag_filter is not None and table.num_rows:
                table = table.filter(_tag_filter_mask(table.column("tags").chunk(0), tag_filter))
            rb = _entity_batch(kind, table, schema, doc_id, span_idx, blob_seq)
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
    kinds: tuple[str, ...] = ENTITY_KINDS,
    way_locations: bool = False,
    tag_filter: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    # Per-blob decode emits ≤8000-row batches (1-3 per blob); shipping
    # those individually costs a fixed Arrow-IPC + JVM-columnar-batch
    # overhead per batch, which dominated r2's flat ~1.1M entities/s.
    # Coalescing into ~_COALESCE_ROWS batches pays one extra column-level
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
                way_locations,
                tag_filter,
            ):
                pending.append(rb)
                pending_rows += rb.num_rows
                if pending_rows >= _COALESCE_ROWS:
                    yield from flush()
    yield from flush()


def decode_blobs(
    blob_df: DataFrame,
    columns: frozenset[str] | set[str] | None = None,
    kinds: tuple[str, ...] = ENTITY_KINDS,
    way_locations: bool = False,
    tag_filter=None,
) -> DataFrame:
    """Blob table → entity DataFrame.

    Input columns required: codec, raw_size, payload; optional: doc_id,
    span_idx, blob_seq, blob_type. Each blob decodes independently
    (PrimitiveBlock independence, public osmformat spec), so this is a
    narrow transformation — no shuffle.

    The output schema is ``schema.projection(kinds, columns,
    way_locations)``, and the wire builds only its columns: mapInArrow is
    opaque to Catalyst, so column pruning is pushed into the UDF
    explicitly.

    ``columns``: the nested columns you need of {"tags", "info", "refs",
    "members"} (None: all); a pruned column is absent from the schema.

    ``kinds``: the entity types to decode; the schema holds only the
    columns they can populate (``schema.KIND_FIELDS`` union), since the
    row conversion after mapInArrow costs per column per row even for
    all-null columns.

    ``way_locations``: add the LocationsOnWays ``way_lats``/``way_lons``
    columns (when ways are decoded).

    ``tag_filter``: decode-side predicate pushdown — a tag KEY or an
    iterable of them (presence test), or a ``{key: value-or-values-or-
    None}`` mapping (a bare string is one key or one value); only
    entities with ≥1 matching tag are projected and shipped. The match
    runs in Arrow on each block's decoded ``tags`` column (built for the
    filter even when ``columns`` prunes it), so a planet-scale "extract
    POIs" decode pays the projection and transfer only for matches.
    NOTE an entity-level predicate: a ways filter drops the untagged nodes carrying their
    geometry — decode nodes in a separate ``kinds=("node",)`` pass (or
    use LocationsOnWays files) when geometry is needed.
    """
    want = frozenset(columns) if columns is not None else None
    kinds = tuple(kinds)
    schema = from_arrow_schema(projection(kinds, want, way_locations))
    tf = _normalize_tag_filter(tag_filter)
    return blob_df.mapInArrow(
        lambda it: _decode_map_arrow(it, want, kinds, way_locations, tf), schema
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
    kinds: tuple[str, ...] = ENTITY_KINDS,
    tag_filter=None,
) -> DataFrame:
    """Interleaved document table + blob sidecar → entity DataFrame (B1+B2):
    ``document_blobs`` decoded."""
    # Blob rows are ~100 KB-1 MB each, so byte-based split/AQE sizing
    # wildly underestimates decode CPU: one task per core (util.spread;
    # a streaming plan keeps the join's partitions)
    joined = spread(document_blobs(docs, media_blobs))
    return decode_blobs(joined, columns, kinds=kinds, tag_filter=tag_filter)


def count_by_type(entities: DataFrame) -> DataFrame:
    """The reference's only end-user query: ``pbf info -e``
    (/root/reference/cmd/pbf/info/info.go:139-168)."""
    return entities.groupBy("entity_type").agg(F.count("*").alias("n")).orderBy("entity_type")
