"""Entity DataFrame → PBF file sink (SURVEY.md A19-A24).

The inverse pipeline re-expressed Spark-first:

- type partition + ≤8000-entity batching (A19) → ``mapInArrow``,
  chunking each Arrow batch by type inside the UDF (Coalesce,
  /root/reference/internal/encoder/batch.go:12-37; EntityLimit
  encoder/primitive.go:38-41)
- bbox side aggregate (A20) → min/max ``observe()``d on the encode pass
  (ExtractBoundingBoxes, encoder/batch.go:39-68)
- block extract + string table + delta encode (A21/A22) →
  ``osmformat.encode_block`` over each chunk's Arrow entity columns
- pack + frame (A23) and two-pass assembly — header written first with
  the final bbox, body after (A24, encoder.go:158-185) — here the body
  blobs stream to the driver via ``toLocalIterator`` in partition order
  and the header is written first because the bbox is known by then:
  the blocks are encoded in one parallel job into a ``localCheckpoint``
  (released when the write ends), and that job observes the header facts.

Single-file output is inherently a driver-side sink; at cluster scale
one PBF shard per partition would replace it (not built here).
The round-trip contract is semantic (order-insensitive multiset digest,
reference roundtrip_integration_test.go:204-243), not byte-identity —
the reference's own parallel decode is unordered too (SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import release_checkpoint, spread
from ..wire import frame as wire_frame
from ..wire.osmformat import ENTITY_LIMIT, Header, build_header_block, encode_block

_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("n_entities", T.IntegerType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)
_BLOCK_ARROW = pa.schema(
    [
        pa.field("entity_type", pa.string(), False),
        pa.field("n_entities", pa.int32(), False),
        pa.field("blob", pa.binary(), False),
    ]
)


def encode_blocks(entities: DataFrame) -> DataFrame:
    """Entity rows → blob rows (one PrimitiveBlock per ≤8000 same-type rows).

    Runs distributed: the rows spread over one partition per core
    (``util.spread``, hashed on the entity key), and each partition
    encodes its own same-type chunks of each Arrow batch. A
    ``repartition("entity_type")`` would leave AQE to coalesce the few
    MB of rows into one task.
    """

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = pa.Table.from_batches([batch])
            kinds = rows.column("entity_type")
            out = {"entity_type": [], "n_entities": [], "blob": []}
            for kind in sorted(pc.unique(kinds).to_pylist()):
                of_kind = rows.filter(pc.equal(kinds, kind))
                for s in range(0, of_kind.num_rows, ENTITY_LIMIT):
                    chunk = of_kind.slice(s, ENTITY_LIMIT)
                    out["entity_type"].append(kind)
                    out["n_entities"].append(chunk.num_rows)
                    out["blob"].append(wire_frame.pack_blob(encode_block(kind, chunk)))
            yield pa.RecordBatch.from_pydict(out, schema=_BLOCK_ARROW)

    return spread(entities, "entity_type", "id").mapInArrow(encode, _BLOCK_SCHEMA)


def write_pbf(entities: DataFrame, path: str | Path) -> dict:
    """Write an entity DataFrame to a single framed .osm.pbf file."""
    # everything the header needs, observed on the one encode pass
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
        # file our own decoder rejects. Validate before the file is
        # opened, with a clear error; the count rides in the same pass,
        # so it reads refs and both location columns even when no way
        # has locations.
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
    observed = Observation()
    # every partition encodes in one job; toLocalIterator over the plan
    # itself would run one job per partition, one after another
    blocks = encode_blocks(entities.observe(observed, *facts)).localCheckpoint(eager=True)
    n_blobs = 0
    n_entities = 0
    try:
        head = observed.get
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
        with open(path, "wb") as f:
            f.write(wire_frame.frame_blob("OSMHeader", wire_frame.pack_blob(build_header_block(header))))
            for row in blocks.toLocalIterator():
                f.write(wire_frame.frame_blob("OSMData", bytes(row["blob"])))
                n_blobs += 1
                n_entities += row["n_entities"]
    finally:
        release_checkpoint(blocks)
    return {"n_blobs": n_blobs, "n_entities": n_entities}
