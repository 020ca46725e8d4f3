"""Entity DataFrame → PBF file sink (SURVEY.md A19-A24).

The inverse pipeline re-expressed Spark-first:

- type partition + ≤8000-entity batching (A19) → ``mapInPandas`` over
  per-type partitions, chunking inside the UDF (Coalesce,
  /root/reference/internal/encoder/batch.go:12-37; EntityLimit
  encoder/primitive.go:38-41)
- bbox side aggregate (A20) → one ``agg(min/max)`` (ExtractBoundingBoxes,
  encoder/batch.go:39-68)
- block extract + string table + delta encode (A21/A22) → the wire
  builders (osmformat.py), vectorized where the arrays are big
- pack + frame (A23) and two-pass assembly — header written first with
  the final bbox, body after (A24, encoder.go:158-185) — here the body
  blobs stream to the driver via ``toLocalIterator`` in partition order
  and the header is written first because the bbox aggregate already ran.
  The blocks are encoded in one parallel job into a ``localCheckpoint``
  that the write releases when it ends.

Single-file output is inherently a driver-side sink; at cluster scale
you emit one PBF shard per partition instead (``shard_dir`` mode).
The round-trip contract is semantic (order-insensitive multiset digest,
reference roundtrip_integration_test.go:204-243), not byte-identity —
the reference's own parallel decode is unordered too (SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import release_checkpoint, spread
from ..wire import frame as wire_frame
from ..wire.osmformat import (
    ENTITY_LIMIT,
    Header,
    StringTable,
    build_dense_nodes_group,
    build_header_block,
    build_primitive_block,
    build_relations_group,
    build_ways_group,
)

_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("n_entities", T.IntegerType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def _info_from_row(row) -> dict | None:
    info = row.get("info")
    if info is None or (isinstance(info, dict) and info.get("version") is None):
        return None
    get = info.get if isinstance(info, dict) else lambda k: getattr(info, k)

    def as_int(v):
        # pandas upcasts nullable ints to float/np scalars — coerce
        return None if v is None or (isinstance(v, float) and pd.isna(v)) else int(v)

    ts = get("ts")
    return {
        "version": as_int(get("version")) if as_int(get("version")) is not None else -1,
        "ts_ms": int(pd.Timestamp(ts).value // 1_000_000) if ts is not None and not pd.isna(ts) else None,
        "changeset": as_int(get("changeset")),
        "uid": as_int(get("uid")) or 0,
        "user": get("user") or "",
        "visible": bool(get("visible")) if get("visible") is not None else True,
    }


def _as_list(v) -> list:
    """Arrow list columns arrive as numpy arrays in pandas — normalize."""
    if v is None:
        return []
    if isinstance(v, (list, tuple)):
        return list(v)
    try:
        return list(v)  # ndarray / pd array
    except TypeError:
        return []


def _tags_from_row(tags) -> list[tuple[str, str]]:
    return [(t["key"], t["value"]) for t in _as_list(tags)]


def _encode_chunk(pdf: pd.DataFrame, kind: str, codec: str) -> bytes:
    st = StringTable()
    rows = pdf.to_dict("records")
    infos = []
    for r in rows:
        r["_tags"] = _tags_from_row(r.get("tags"))
        for k, v in r["_tags"]:
            st.add(k, v)
        inf = _info_from_row(r)
        infos.append(inf)
        if inf:
            st.add(inf["user"])
        if kind == "relation":
            for m in _as_list(r.get("members")):
                st.add(m["role"] if m["role"] is not None else "")
    table, sid = st.build()
    if kind == "node":
        ids = np.array([r["id"] for r in rows], np.int64)
        lat = np.array([r["lat_nano"] for r in rows], np.int64)
        lon = np.array([r["lon_nano"] for r in rows], np.int64)
        tags = [r["_tags"] for r in rows]
        info = None
        if any(infos):
            # Mixed-provenance chunks: nodes without metadata get per-node
            # defaults (version -1, visible, zeros) instead of dropping the
            # whole DenseInfo — dropping would lose metadata for every node
            # in the chunk.
            _default = {"version": -1, "ts_ms": 0, "changeset": 0, "uid": 0, "user": "", "visible": True}
            filled = [i if i else _default for i in infos]
            info = {
                "version": [i["version"] for i in filled],
                "ts_ms": [i["ts_ms"] or 0 for i in filled],
                "changeset": [i["changeset"] or 0 for i in filled],
                "uid": [i["uid"] for i in filled],
                "user": [i["user"] for i in filled],
                "visible": [1 if i["visible"] else 0 for i in filled],
            }
        group = build_dense_nodes_group(ids, lat, lon, tags, sid, info=info)
    elif kind == "way":
        ways = []
        for i, r in enumerate(rows):
            w = {
                "id": r["id"],
                "refs": [int(x) for x in _as_list(r["refs"])],
                "tags": r["_tags"],
                "info": {**infos[i], "ts_ms": infos[i]["ts_ms"] or 0} if infos[i] else None,
            }
            # LocationsOnWays re-emit: degrees → nano (the decode's
            # to_degrees is nano/1e9, whose double is within half an ulp
            # of the exact value — round() recovers the integer exactly
            # for |nano| <= 1.8e11, bit-exact round trip)
            lats = _as_list(r.get("way_lats"))
            if lats:
                w["lat_nanos"] = [int(round(v * 1e9)) for v in lats]
                w["lon_nanos"] = [int(round(v * 1e9)) for v in _as_list(r["way_lons"])]
            ways.append(w)
        group = build_ways_group(ways, sid)
    else:
        rels = [
            {
                "id": r["id"],
                "tags": r["_tags"],
                "members": [
                    {
                        "ref": int(m["ref"]),
                        "type": {"node": 0, "way": 1, "relation": 2}[m["type"]],
                        "role": m["role"] if m["role"] is not None else "",
                    }
                    for m in _as_list(r.get("members"))
                ],
                "info": {**infos[i], "ts_ms": infos[i]["ts_ms"] or 0} if infos[i] else None,
            }
            for i, r in enumerate(rows)
        ]
        group = build_relations_group(rels, sid)
    raw = build_primitive_block([group], table)
    return wire_frame.pack_blob(raw, codec)


def encode_blocks(entities: DataFrame, codec: str = "zlib") -> DataFrame:
    """Entity rows → blob rows (one PrimitiveBlock per ≤8000 same-type rows).

    Runs distributed: the rows spread over one partition per core
    (``util.spread``, hashed on the entity key), and each partition
    encodes its own same-type chunks. A ``repartition("entity_type")``
    would leave AQE to coalesce the few MB of rows into one task.
    """

    def encode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = {"entity_type": [], "n_entities": [], "blob": []}
            for kind, grp in pdf.groupby("entity_type", sort=True):
                for s in range(0, len(grp), ENTITY_LIMIT):
                    chunk = grp.iloc[s : s + ENTITY_LIMIT]
                    out["entity_type"].append(kind)
                    out["n_entities"].append(len(chunk))
                    out["blob"].append(_encode_chunk(chunk, kind, codec))
            yield pd.DataFrame(out)

    return spread(entities, "entity_type", "id").mapInPandas(encode, _BLOCK_SCHEMA)


def write_pbf(entities: DataFrame, path: str | Path, codec: str = "zlib") -> dict:
    """Write an entity DataFrame to a single framed .osm.pbf file."""
    # everything the header needs, in one pass over the input
    node = F.col("entity_type") == "node"
    facts = [
        F.min(F.when(node, F.col("lat_nano"))).alias("bottom"),
        F.max(F.when(node, F.col("lat_nano"))).alias("top"),
        F.min(F.when(node, F.col("lon_nano"))).alias("left"),
        F.max(F.when(node, F.col("lon_nano"))).alias("right"),
        F.expr("bool_or(info.visible = false)").alias("visible_false"),
    ]
    if "way_lats" in entities.columns:
        # spec (osm.proto:232): a file whose ways carry inline locations
        # MUST declare the optional feature. LocationsOnWays is
        # all-or-nothing per file: the decoder (and the spec) require
        # lat/lon counts to match refs on EVERY way, so mixed presence
        # (e.g. assemble_way_geometries(how='left') output, or a union
        # of sources with and without locations) would silently write a
        # file our own decoder rejects. Validate eagerly with a clear
        # error instead; the count rides in the same pass, so it reads
        # refs and both location columns even when no way has locations.
        facts += [
            F.expr(
                "bool_or(entity_type='way' AND way_lats IS NOT NULL AND size(way_lats) > 0)"
            ).alias("way_locs"),
            F.expr(
                "count_if(entity_type='way' AND size(refs) > 0 AND ("
                " way_lats IS NULL OR way_lons IS NULL"
                " OR size(way_lats) <> size(refs)"
                " OR size(way_lons) <> size(refs)))"
            ).alias("bad"),
        ]
    head = entities.agg(*facts).first().asDict()
    way_locs = bool(head.get("way_locs"))
    if way_locs and head["bad"]:
        raise ValueError(
            f"LocationsOnWays presence is mixed: {head['bad']} way(s) with refs lack "
            "full-length way_lats/way_lons while others carry them. Either "
            "supply locations for every way (assemble_way_geometries(how="
            "'inner')) or drop the way_lats/way_lons columns to write the "
            "file without LocationsOnWays."
        )
    features = ["OsmSchema-V0.6", "DenseNodes"] + (
        ["HistoricalInformation"] if head["visible_false"] else []
    )
    header = Header(
        bbox_nano=(head["left"], head["right"], head["top"], head["bottom"])
        if head["left"] is not None
        else None,
        required_features=tuple(features),
        optional_features=("LocationsOnWays",) if way_locs else (),
        writing_program="pbf_spark",
    )
    # every partition encodes in one job; toLocalIterator over the plan
    # itself would run one job per partition, one after another
    blocks = encode_blocks(entities, codec).localCheckpoint(eager=True)
    n_blobs = 0
    n_entities = 0
    try:
        with open(path, "wb") as f:
            f.write(wire_frame.frame_blob("OSMHeader", wire_frame.pack_blob(build_header_block(header), codec)))
            for row in blocks.toLocalIterator():
                f.write(wire_frame.frame_blob("OSMData", bytes(row["blob"])))
                n_blobs += 1
                n_entities += row["n_entities"]
    finally:
        release_checkpoint(blocks)
    return {"n_blobs": n_blobs, "n_entities": n_entities}
