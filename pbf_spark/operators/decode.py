"""Span-preserving vectorized PBF decode: blobs → unified entity DataFrame.

SURVEY.md §2B B2. One ``mapInArrow`` pass replaces the reference's whole
decode pipeline (/root/reference/decoder.go:65-71 — blob framing is done
by the source; batching by Arrow; the parallel fan-out by Spark task
parallelism across blob partitions). No per-row Python in the hot path:
each blob (≤8000 entities, mirroring the reference's EntityLimit) is
inflated and parsed once into one Arrow table per entity kind (the wire
codec builds the arrays directly: delta cumsum and tag splitting in
numpy, string-table gathers in Arrow), and this operator only projects
those tables onto the output schema.

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

from ..model.schema import ENTITY_ARROW_SCHEMA, ENTITY_SCHEMA, KIND_FIELDS, entity_schema_subset
from ..util import spread
from ..wire import frame as wire_frame
from ..wire import osmformat

# the nested columns ``columns=`` prunes to nulls
_PRUNABLE = frozenset({"tags", "info", "refs", "members"})


def _entity_batch(
    kind: str,
    table: pa.Table,
    doc_id: str | None,
    span_idx: int | None,
    blob_seq: int | None,
    columns: frozenset[str] | None = None,
    out_schema: pa.Schema = ENTITY_ARROW_SCHEMA,
) -> pa.RecordBatch | None:
    """One kind's block table (``schema.BLOCK_SCHEMAS[kind]``) projected
    onto exactly ``out_schema``'s fields: degrees from the nano-degrees,
    constant entity_type and provenance, and nulls for a column the kind
    does not carry or ``columns`` prunes. The slim path drops whole
    columns (not just nulls them): the JVM columnar→row conversion after
    mapInArrow costs per column per row even when every value is null."""
    n = table.num_rows
    if n == 0:
        return None
    consts = {"entity_type": kind, "doc_id": doc_id, "span_idx": span_idx, "blob_seq": blob_seq}
    zeros = pa.array(np.zeros(n, np.int32))

    def column(f: pa.Field) -> pa.Array:
        if f.name in consts:  # a constant column is one value taken n times, in C++
            return pa.array([consts[f.name]], f.type).take(zeros)
        if f.name in ("lat", "lon") and kind == "node":
            return pa.array(osmformat.to_degrees(table.column(f.name + "_nano").to_numpy()))
        pruned = columns is not None and f.name in _PRUNABLE and f.name not in columns
        if f.name in table.column_names and not pruned:
            return table.column(f.name).chunk(0)
        return pa.nulls(n, f.type)

    return pa.RecordBatch.from_arrays([column(f) for f in out_schema], schema=out_schema)


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
        for kind, table in zip(_ALL_KINDS, block):
            if kind not in kinds:
                continue
            if tag_filter is not None and table.num_rows:
                table = table.filter(_tag_filter_mask(table.column("tags").chunk(0), tag_filter))
            rb = _entity_batch(kind, table, doc_id, span_idx, blob_seq, columns, out_schema)
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
    other kinds' tables are never projected or shipped). ``slim=True`` (requires
    ``kinds``) additionally DROPS the columns no requested kind can
    populate (schema.KIND_FIELDS union) instead of emitting them as
    nulls — the row-conversion cost after mapInArrow is per column per
    row, so a nodes-only pipeline should not ship refs/members at all.

    ``tag_filter``: decode-side predicate pushdown — an iterable of tag
    KEYS (presence test) or a ``{key: values-or-None}`` mapping; only
    entities with ≥1 matching tag are projected and shipped. The match
    runs in Arrow on each block's decoded ``tags`` column (key equality
    and value membership over the flattened tags), so a planet-scale
    "extract POIs" decode pays the projection and transfer only for
    matches. NOTE an entity-level
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
