"""Deterministic synthetic fixture generator (seed 42, no external data).

Produces the engine's primary input per BASELINE.json ``input_hint``:

- ``documents_interleaved``: Iceberg-lite table of
  (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  with PBF blobs embedded via media spans (FIXTURES.md §1)
- ``media_blobs``: sidecar (media_ref, blob_seq, blob_type, codec,
  raw_size, payload)
- ``polygons`` / ``query_points``: spatial layers for PIP join, kNN and
  tiling tests (FIXTURES.md §3)
- ``fixture_manifest.json``: golden counts stamped at generation time
- optionally a standalone ``fixture.osm.pbf`` file (framed stream)

Wire layout mirrors the reference encoder so decode tests are meaningful
(FIXTURES.md "generator contract"): dense nodes, ≤8000 entities/block,
sorted block-local string table, granularity 100, date_granularity 1000,
zlib blobs. Each kind is one Arrow table of entity columns, encoded by
``osmformat.encode_block`` like the PBF sink's blocks.
Default profile ``london-mini`` uses the greater-london header bbox
(/root/reference/cmd/pbf/info/info_test.go:40) with density-skewed
clusters — the skew is deliberate, it feeds the salted-repartition tests.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..model.schema import ENTITY_ARROW_SCHEMA
from ..sources import iceberg_lite
from ..wire import frame as wire_frame
from ..wire.osmformat import (
    ENTITY_LIMIT,
    MEMBER_TYPE_NAMES,
    Header,
    build_header_block,
    encode_block,
)

LONDON_BBOX = {"top": 51.69344, "left": -0.511482, "bottom": 51.28554, "right": 0.335437}

_TYPE = {f.name: f.type for f in ENTITY_ARROW_SCHEMA}

_TAG_KEYS = ["highway", "amenity", "shop", "name", "surface", "building", "landuse", "natural"]
_TAG_VALS = {
    "highway": ["residential", "primary", "secondary", "footway", "bus_stop", "service"],
    "amenity": ["pub", "cafe", "school", "bench", "pharmacy"],
    "shop": ["bakery", "supermarket", "books"],
    "surface": ["asphalt", "gravel", "paved"],
    "building": ["yes", "house", "retail"],
    "landuse": ["residential", "grass", "industrial"],
    "natural": ["tree", "water"],
}


def _gen_points(rng: np.random.Generator, n: int, bbox: dict, n_clusters: int = 12):
    """Density-skewed points: 70% in gaussian clusters, 30% uniform."""
    lat_span = bbox["top"] - bbox["bottom"]
    lon_span = bbox["right"] - bbox["left"]
    centers_lat = rng.uniform(bbox["bottom"] + 0.1 * lat_span, bbox["top"] - 0.1 * lat_span, n_clusters)
    centers_lon = rng.uniform(bbox["left"] + 0.1 * lon_span, bbox["right"] - 0.1 * lon_span, n_clusters)
    # zipf-ish cluster weights → a couple of very hot cells
    w = 1.0 / np.arange(1, n_clusters + 1)
    w /= w.sum()
    n_clustered = int(n * 0.7)
    assign = rng.choice(n_clusters, n_clustered, p=w)
    lat = np.concatenate(
        [
            centers_lat[assign] + rng.normal(0, 0.008, n_clustered),
            rng.uniform(bbox["bottom"], bbox["top"], n - n_clustered),
        ]
    )
    lon = np.concatenate(
        [
            centers_lon[assign] + rng.normal(0, 0.012, n_clustered),
            rng.uniform(bbox["left"], bbox["right"], n - n_clustered),
        ]
    )
    np.clip(lat, bbox["bottom"], bbox["top"], out=lat)
    np.clip(lon, bbox["left"], bbox["right"], out=lon)
    perm = rng.permutation(n)
    return lat[perm], lon[perm]


def _nano_grid(deg: np.ndarray, granularity: int = 100) -> np.ndarray:
    """Snap degrees to the wire grid (nearest granularity unit, in nano-deg)."""
    return (np.round(deg * 1e9 / granularity).astype(np.int64)) * granularity


def _gen_tags(rng: np.random.Generator, n: int, frac_tagged: float):
    """Per-entity tag lists; ~frac_tagged entities carry 1-3 tags."""
    tagged = rng.random(n) < frac_tagged
    n_tags = np.where(tagged, rng.integers(1, 4, n), 0)
    keys = rng.integers(0, len(_TAG_KEYS), int(n_tags.sum()))
    out: list[list[tuple[str, str]]] = []
    pos = 0
    for c in n_tags:
        tags = []
        used = set()
        for k_idx in keys[pos : pos + c]:
            k = _TAG_KEYS[k_idx]
            if k in used:
                continue
            used.add(k)
            if k == "name":
                v = f"Name {rng.integers(0, 10_000)}"
            else:
                vals = _TAG_VALS[k]
                v = vals[rng.integers(0, len(vals))]
            tags.append((k, v))
        pos += c
        out.append(tags)
    return out


def _tags(tags: list[list[tuple[str, str]]]) -> pa.Array:
    return pa.array([[{"key": k, "value": v} for k, v in t] for t in tags], _TYPE["tags"])


def _gen_info(rng: np.random.Generator, n: int, users: list[str]) -> pa.Array:
    """Node Info column (``ts`` in epoch microseconds, whole seconds)."""
    version = rng.integers(1, 6, n)
    ts = rng.integers(1_420_070_400, 1_735_689_600, n) * 1_000_000
    changeset = np.sort(rng.integers(1_000_000, 9_000_000, n))
    uid = rng.integers(100, 100 + len(users), n) - 100
    visible = rng.random(n) > 0.005
    cols = {"version": version, "uid": uid + 100, "ts": ts, "changeset": changeset,
            "user": [users[i] for i in uid], "visible": visible}
    fields = list(_TYPE["info"])
    return pa.StructArray.from_arrays([pa.array(cols[f.name], f.type) for f in fields], fields=fields)


def generate(
    out_dir: str | Path,
    n_nodes: int = 20_000,
    n_ways: int = 3_400,
    n_relations: int = 95,
    seed: int = 42,
    spans_per_doc: int = 4,
    write_pbf_file: bool = True,
    bbox: dict = LONDON_BBOX,
    n_polygons: int = 24,
) -> dict:
    """Generate the london-mini (or scaled) fixture; returns the manifest."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    users = [f"user_{i:04d}" for i in range(200)]

    # ---- nodes ----
    lat_deg, lon_deg = _gen_points(rng, n_nodes, bbox)
    node_ids = np.cumsum(rng.integers(1, 20, n_nodes)) + 1_000_000
    node_tags = _tags(_gen_tags(rng, n_nodes, 0.25))
    nodes = pa.table(
        {
            "id": node_ids,
            "lat_nano": _nano_grid(lat_deg),
            "lon_nano": _nano_grid(lon_deg),
            "tags": node_tags,
            "info": _gen_info(rng, n_nodes, users),
        }
    )

    # ---- ways: runs of consecutive node ids ----
    way_ids = np.cumsum(rng.integers(1, 10, n_ways)) + 50_000_000
    way_lens = rng.integers(2, 30, n_ways)
    way_starts = rng.integers(0, max(1, n_nodes - 31), n_ways)
    way_tags = _tags(_gen_tags(rng, n_ways, 0.6))
    way_info = [
        {
            "version": int(rng.integers(1, 4)),
            "ts": int(rng.integers(1_420_070_400, 1_735_689_600)) * 1_000_000,
            "changeset": int(rng.integers(1_000_000, 9_000_000)),
            "uid": int(rng.integers(100, 300)),
            "user": users[int(rng.integers(0, len(users)))],
        }
        for _ in range(n_ways)
    ]
    ways = pa.table(
        {
            "id": way_ids,
            "tags": way_tags,
            "refs": pa.array([node_ids[s : s + k] for s, k in zip(way_starts, way_lens)], _TYPE["refs"]),
            "info": pa.array(way_info, _TYPE["info"]),
        }
    )

    # ---- relations ----
    rel_ids = np.cumsum(rng.integers(1, 5, n_relations)) + 90_000_000
    rel_members, rel_tags = [], []
    for _ in range(n_relations):
        members = []
        for _ in range(int(rng.integers(2, 8))):
            t = int(rng.integers(0, 3))
            if t == 0:
                ref = int(node_ids[rng.integers(0, n_nodes)])
            elif t == 1:
                ref = int(way_ids[rng.integers(0, n_ways)])
            else:
                ref = int(rel_ids[rng.integers(0, n_relations)])
            role = ["outer", "inner", "", "stop"][int(rng.integers(0, 4))]
            members.append({"ref": ref, "type": MEMBER_TYPE_NAMES[t], "role": role})
        rel_members.append(members)
        rel_tags.append([("type", "multipolygon")] if rng.random() < 0.5 else [])
    relations = pa.table(
        {
            "id": rel_ids,
            "tags": _tags(rel_tags),
            "members": pa.array(rel_members, _TYPE["members"]),
            "info": pa.nulls(n_relations, _TYPE["info"]),
        }
    )

    # ---- blocks → blobs (≤8000 entities per block, one group per block) ----
    # store the compressed payload (what the decode UDF consumes); the Blob
    # proto wrapper is only assembled when writing the standalone .pbf file
    blobs: list[tuple[str, bytes, int]] = []  # (type, compressed_payload, raw_size)
    for kind, table in (("node", nodes), ("way", ways), ("relation", relations)):
        for s in range(0, table.num_rows, ENTITY_LIMIT):
            raw = encode_block(kind, table.slice(s, ENTITY_LIMIT))
            blobs.append(("OSMData", wire_frame.compress_payload(raw), len(raw)))

    header = Header(
        bbox_nano=(
            int(bbox["left"] * 1e9),
            int(bbox["right"] * 1e9),
            int(bbox["top"] * 1e9),
            int(bbox["bottom"] * 1e9),
        ),
        required_features=("OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"),
        writing_program="pbf_spark-fixture-gen",
        source="synthetic-seed-42",
    )
    header_raw = build_header_block(header)
    header_payload = wire_frame.compress_payload(header_raw)

    # ---- standalone PBF file ----
    if write_pbf_file:
        with open(out_dir / "fixture.osm.pbf", "wb") as f:
            f.write(
                wire_frame.frame_blob(
                    "OSMHeader", wire_frame.build_blob("zlib", len(header_raw), header_payload)
                )
            )
            for btype, payload, raw_size in blobs:
                f.write(wire_frame.frame_blob(btype, wire_frame.build_blob("zlib", raw_size, payload)))

    # ---- media_blobs sidecar (header blob is blob_seq 0) ----
    all_blobs = [("OSMHeader", header_payload, len(header_raw))] + blobs
    media_refs = [f"blob_{i:08d}" for i in range(len(all_blobs))]
    blob_table = pa.table(
        {
            "media_ref": pa.array(media_refs, pa.string()),
            "blob_seq": pa.array(range(len(all_blobs)), pa.int64()),
            "blob_type": pa.array([b[0] for b in all_blobs], pa.string()),
            "codec": pa.array(["zlib"] * len(all_blobs), pa.string()),
            "raw_size": pa.array([b[2] for b in all_blobs], pa.int32()),
            "payload": pa.array([b[1] for b in all_blobs], pa.binary()),
        }
    )

    # ---- interleaved documents: text/media spans, offset = span order ----
    doc_rows = []
    n_docs = (len(all_blobs) + spans_per_doc - 1) // spans_per_doc
    for d in range(n_docs):
        doc_id = f"doc_{d:012d}"
        spans = []
        offset = 0
        for m in media_refs[d * spans_per_doc : (d + 1) * spans_per_doc]:
            spans.append(
                {"kind": "text", "text": f"segment {offset} of {doc_id} carries {m}", "media_ref": None, "offset": offset}
            )
            offset += 1
            spans.append({"kind": "media", "text": None, "media_ref": m, "offset": offset})
            offset += 1
        spans.append({"kind": "text", "text": f"end of {doc_id}", "media_ref": None, "offset": offset})
        doc_rows.append({"doc_id": doc_id, "spans": spans})

    span_type = pa.struct(
        [
            pa.field("kind", pa.string(), False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), False),
        ]
    )
    docs_table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in doc_rows], pa.string()),
            "spans": pa.array([r["spans"] for r in doc_rows], pa.list_(span_type)),
        }
    )

    # ---- iceberg-lite commit (data files first, metadata flip last) ----
    # small files + small row groups: blob payloads are fat rows, so a
    # byte-capped Spark scan needs fine file granularity to parallelize
    for name, table, rows_per_file in (
        ("documents_interleaved", docs_table, 64),
        ("media_blobs", blob_table, 8),
    ):
        tdir = out_dir / name
        ddir = tdir / "data"
        ddir.mkdir(parents=True, exist_ok=True)
        files = []
        for fi, s in enumerate(range(0, table.num_rows, rows_per_file)):
            chunk = table.slice(s, rows_per_file)
            fname = f"part-{fi:05d}.parquet"
            pq.write_table(chunk, ddir / fname, row_group_size=8, compression="zstd")
            files.append(
                {"path": f"data/{fname}", "rows": chunk.num_rows, "bytes": (ddir / fname).stat().st_size}
            )
        iceberg_lite.commit(
            tdir,
            files,
            schema_json=str(table.schema),
            properties={"seed": seed},
            operation="overwrite",  # regeneration fully replaces the table
        )

    # ---- spatial layers ----
    _write_spatial_layers(out_dir, rng, bbox, n_polygons=n_polygons)

    manifest = {
        "profile": "london-mini" if n_nodes == 20_000 else f"scaled-{n_nodes}",
        "seed": seed,
        "bbox": bbox,
        "counts": {"node": n_nodes, "way": n_ways, "relation": n_relations},
        "total_entities": n_nodes + n_ways + n_relations,
        "n_data_blobs": len(blobs),
        "n_blobs": len(all_blobs),
        "n_docs": n_docs,
        "spans_per_doc": spans_per_doc,
        "codec": "zlib",
        "granularity": 100,
        "date_granularity": 1000,
    }
    (out_dir / "fixture_manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest


def _write_spatial_layers(
    out_dir: Path, rng: np.random.Generator, bbox: dict, n_polygons: int = 24
) -> None:
    """Synthetic borough polygons + kNN query points (FIXTURES.md §3)."""
    polys = []
    lat_span = bbox["top"] - bbox["bottom"]
    lon_span = bbox["right"] - bbox["left"]
    for i in range(n_polygons):
        c_lat = rng.uniform(bbox["bottom"] + 0.05 * lat_span, bbox["top"] - 0.05 * lat_span)
        c_lon = rng.uniform(bbox["left"] + 0.05 * lon_span, bbox["right"] - 0.05 * lon_span)
        n_vert = int(rng.integers(5, 12))
        angles = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
        # every 4th polygon is star-shaped (concave) — exercises ray casting
        radii = rng.uniform(0.01, 0.05, n_vert)
        if i % 4 == 0:
            radii[::2] *= 0.35
        ring = [
            {"lat": float(c_lat + r * np.sin(a)), "lon": float(c_lon + 1.6 * r * np.cos(a))}
            for a, r in zip(angles, radii)
        ]
        ring.append(ring[0])  # closed
        polys.append(
            {"polygon_id": f"poly_{i:03d}", "ring": ring, "category": ["borough", "park", "water"][i % 3]}
        )
    ring_type = pa.list_(
        pa.struct([pa.field("lat", pa.float64(), False), pa.field("lon", pa.float64(), False)])
    )
    pq.write_table(
        pa.table(
            {
                "polygon_id": pa.array([p["polygon_id"] for p in polys]),
                "ring": pa.array([p["ring"] for p in polys], ring_type),
                "category": pa.array([p["category"] for p in polys]),
            }
        ),
        out_dir / "polygons.parquet",
    )
    nq = 200
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array(range(nq), pa.int64()),
                "lat": pa.array(rng.uniform(bbox["bottom"], bbox["top"], nq), pa.float64()),
                "lon": pa.array(rng.uniform(bbox["left"], bbox["right"], nq), pa.float64()),
                "k": pa.array([5] * nq, pa.int32()),
            }
        ),
        out_dir / "query_points.parquet",
    )


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--nodes", type=int, default=20_000)
    ap.add_argument("--ways", type=int, default=3_400)
    ap.add_argument("--relations", type=int, default=95)
    ap.add_argument("--spans-per-doc", type=int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    m = generate(
        args.out_dir,
        n_nodes=args.nodes,
        n_ways=args.ways,
        n_relations=args.relations,
        seed=args.seed,
        spans_per_doc=args.spans_per_doc,
    )
    print(json.dumps(m))
