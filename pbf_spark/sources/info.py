"""``pbf info`` render analogue (reference cmd/pbf/info/info.go:174-206).

Text and JSON projections of a PBF header (plus optional extended entity
counts), matching the reference CLI's field set and text layout:
BoundingBox as ``[(top, left) (bottom, right)]`` with shortest-positional
floats (ftoa), RFC3339 UTC replication timestamp, comma-grouped counts
in extended mode.

The engine's real surface is DataFrames; this is the thin human-facing
summary a reference user would miss when switching.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from pathlib import Path

import numpy as np

from ..wire import frame, osmformat


def _ftoa(v: float) -> str:
    return np.format_float_positional(v, trim="-")


def _bbox_str(bbox: dict | None) -> str:
    if bbox is None:
        return "[]"
    return (
        f"[({_ftoa(bbox['top'])}, {_ftoa(bbox['left'])}) "
        f"({_ftoa(bbox['bottom'])}, {_ftoa(bbox['right'])})]"
    )


def _comma(n: int) -> str:
    return f"{n:,}"


def read_info(path: str | Path, extended: bool = False) -> dict:
    """Header projection; ``extended`` also streams entity counts."""
    h = None
    counts = {"node": 0, "way": 0, "relation": 0}
    with open(path, "rb") as f:
        for blob_type, blob in frame.iter_blob_frames(f):
            if blob_type == "OSMHeader":
                h = osmformat.parse_header_block(frame.unpack_blob(blob))
                if not extended:
                    break
            elif blob_type == "OSMData" and extended:
                # the counts need only the ids: build no other column
                blk = osmformat.parse_primitive_block(frame.unpack_blob(blob), {})
                for kind, table in zip(counts, blk):
                    counts[kind] += table.num_rows
    if h is None:
        raise ValueError("no OSMHeader blob found")
    info = {
        "bounding_box": h.bbox_degrees,
        "required_features": list(h.required_features),
        "optional_features": list(h.optional_features),
        "writing_program": h.writing_program,
        "source": h.source,
        "osmosis_replication_timestamp": h.replication_ts,
        "osmosis_replication_sequence_number": h.replication_seqno,
        "osmosis_replication_base_url": h.replication_url,
    }
    if extended:
        info.update(
            node_count=counts["node"], way_count=counts["way"], relation_count=counts["relation"]
        )
    return info


def render_json(info: dict) -> str:
    return json.dumps({k: v for k, v in info.items() if v not in (None, "", [])})


def render_txt(info: dict) -> str:
    ts = info.get("osmosis_replication_timestamp")
    ts_str = (
        datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        if ts is not None
        else "0001-01-01T00:00:00Z"
    )
    lines = [
        f"BoundingBox: {_bbox_str(info['bounding_box'])}",
        f"RequiredFeatures: {', '.join(info['required_features'])}",
        f"OptionalFeatures: {', '.join(info['optional_features'])}",
        f"WritingProgram: {info['writing_program']}",
        f"Source: {info['source']}",
        f"OsmosisReplicationTimestamp: {ts_str}",
        f"OsmosisReplicationSequenceNumber: {info['osmosis_replication_sequence_number'] or 0}",
        f"OsmosisReplicationBaseURL: {info['osmosis_replication_base_url']}",
    ]
    if "node_count" in info:
        lines += [
            f"NodeCount: {_comma(info['node_count'])}",
            f"WayCount: {_comma(info['way_count'])}",
            f"RelationCount: {_comma(info['relation_count'])}",
        ]
    return "\n".join(lines) + "\n"
