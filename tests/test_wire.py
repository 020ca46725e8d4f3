"""Wire-codec tests: golden counts from the reference fixture + round trips.

Golden contract: sample.osm.pbf = 339 entities
(/root/reference/decoder_test.go:32).
"""

import io
import re
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pbf_spark.model.schema import BLOCK_SCHEMAS
from pbf_spark.wire import frame, osmformat
from pbf_spark.wire.osmformat import (
    Header,
    build_header_block,
    build_primitive_block,
    encode_block,
    parse_header_block,
    parse_primitive_block,
)

from pbf_spark.wire.proto import MessageBuilder, parse_message, scan_fields

from .conftest import SAMPLE_PBF, entity_table


def _decode_file(path):
    counts = {"node": 0, "way": 0, "relation": 0}
    blocks = []
    with open(path, "rb") as f:
        for btype, blob in frame.iter_blob_frames(f):
            if btype != "OSMData":
                continue
            blk = parse_primitive_block(frame.unpack_blob(blob))
            counts["node"] += len(blk.nodes)
            counts["way"] += len(blk.ways)
            counts["relation"] += len(blk.relations)
            blocks.append(blk)
    return counts, blocks


def test_sample_golden_counts():
    counts, _ = _decode_file(SAMPLE_PBF)
    assert sum(counts.values()) == 339  # decoder_test.go:32
    assert counts == {"node": 290, "way": 44, "relation": 5}


def test_sample_header():
    with open(SAMPLE_PBF, "rb") as f:
        btype, blob = next(frame.iter_blob_frames(f))
    assert btype == "OSMHeader"
    h = parse_header_block(frame.unpack_blob(blob))
    assert "OsmSchema-V0.6" in h.required_features
    assert "DenseNodes" in h.required_features
    bb = h.bbox_degrees
    assert bb["bottom"] == pytest.approx(51.7648407, abs=1e-9)
    assert bb["left"] == pytest.approx(-0.2353761, abs=1e-9)


def test_sample_tags_resolved():
    _, blocks = _decode_file(SAMPLE_PBF)
    tagged = [t for t in blocks[0].nodes.column("tags").to_pylist() if t]
    assert tagged
    keys = [tag["key"] for tag in tagged[0]]
    assert all(isinstance(k, str) and k for k in keys)


def test_unsupported_required_feature_rejected():
    raw = build_header_block(Header(required_features=("NotAThing",)))
    with pytest.raises(ValueError, match="NotAThing"):
        parse_header_block(raw)


def _tag_rows(tags):
    return [{"key": k, "value": v} for k, v in tags]


def _node_rows(ids, lat, lon, tags, info):
    """Node rows for ``entity_table`` from parallel per-node lists."""
    return [
        dict(
            id=int(ids[i]), lat_nano=int(lat[i]), lon_nano=int(lon[i]), tags=_tag_rows(tags[i]),
            info=dict(version=info["version"][i], ts=info["ts_ms"][i] * 1000, changeset=info["changeset"][i],
                      uid=info["uid"][i], user=info["user"][i], visible=bool(info["visible"][i])),
        )
        for i in range(len(ids))
    ]


def _strings(raw: bytes) -> list[str]:
    """The string table of a PrimitiveBlock, as written."""
    return [bytes(v).decode() for _f, _wt, v in scan_fields(parse_message(raw)[1][0])]


def _block_columns(kind: str, t: pa.Table) -> pa.Table:
    """``t``'s columns of the kind's block schema, the layout
    ``parse_primitive_block`` returns (a column ``t`` lacks is null)."""
    schema = BLOCK_SCHEMAS[kind]
    cols = [
        t.column(f.name).cast(f.type) if f.name in t.column_names else pa.nulls(len(t), f.type)
        for f in schema
    ]
    return pa.Table.from_arrays(cols, schema=schema)


def _group(raw: bytes) -> MessageBuilder:
    """The one PrimitiveGroup of an ``encode_block`` block, re-framed
    for ``build_primitive_block``."""
    group = MessageBuilder()
    for f, _wt, v in scan_fields(parse_message(raw)[2][0]):
        group.bytes_field(f, v)
    return group


def test_primitive_block_roundtrip():
    ids = np.array([10, 25, 30])
    lat = np.array([51_500_000_000, 51_500_001_000, -8_000_000_100])
    lon = np.array([-100_000_000, -99_999_000, 179_999_999_900])
    # every kind carries the same strings (the last node's tags, the
    # roles and the user), so the three blocks share one string table
    # and their groups frame as one multi-group block
    tags = [[("highway", "primary")], [], [("name", "Test St"), ("highway", "primary"), ("alice", "outer")]]
    info = dict(
        version=[1, 2, 3],
        ts_ms=[1_000_000, 2_000_000, 3_000_000],
        changeset=[5, 6, 7],
        uid=[42, 42, 43],
        user=["alice", "alice", "alice"],
        visible=[1, 0, 1],
    )
    ways = [
        dict(id=7, refs=[10, 25, 30, 25], tags=_tag_rows(tags[2])),
        # Info without timestamp, changeset and uid
        dict(id=8, refs=[30], info=dict(version=4, user="alice", visible=False)),
    ]
    members = [
        dict(ref=7, type="way", role="outer"),
        dict(ref=10, type="node", role=""),
        dict(ref=99, type="relation", role="outer"),
    ]
    rel = dict(id=99, tags=_tag_rows(tags[2]), members=members)
    rows = {"node": _node_rows(ids, lat, lon, tags, info), "way": ways, "relation": [rel]}
    raws = [encode_block(kind, entity_table(kind, r)) for kind, r in rows.items()]
    tables = {tuple(_strings(raw)) for raw in raws}
    assert len(tables) == 1
    table = list(tables.pop())
    assert table[0] == ""  # reserved index (encoder/table.go:44-46)
    assert table == sorted(table)
    blk = parse_primitive_block(build_primitive_block([_group(raw) for raw in raws], table))

    # the decoded tables are the encoded columns, tags sorted per entity
    for kind, got in zip(rows, blk):
        want = [{**r, "tags": sorted(r.get("tags", []), key=lambda t: (t["key"], t["value"]))}
                for r in rows[kind]]
        assert got.equals(_block_columns(kind, entity_table(kind, want))), kind

    nodes = blk.nodes
    assert nodes.column("id").to_pylist() == list(ids)
    assert nodes.column("lat_nano").to_pylist() == list(lat)
    assert nodes.column("lon_nano").to_pylist() == list(lon)
    got_tags = [[(t["key"], t["value"]) for t in ts] for ts in nodes.column("tags").to_pylist()]
    assert got_tags == [sorted(t) for t in tags]
    node_info = nodes.column("info").to_pylist()
    assert [i["visible"] for i in node_info] == [True, False, True]
    assert [i["ts"].timestamp() * 1000 for i in node_info] == info["ts_ms"]
    assert [i["version"] for i in node_info] == [1, 2, 3]
    assert [i["user"] for i in node_info] == ["alice"] * 3

    ways = blk.ways
    assert ways.column("id").to_pylist() == [7, 8]
    assert ways.column("refs").to_pylist() == [[10, 25, 30, 25], [30]]
    way_info = ways.column("info").to_pylist()
    assert way_info[0] is None
    assert way_info[1] == dict(version=4, uid=None, ts=None, changeset=None, user="alice", visible=False)

    rels = blk.relations
    assert rels.column("id").to_pylist() == [99]
    got_members = rels.column("members").to_pylist()[0]
    assert [m["ref"] for m in got_members] == [7, 10, 99]
    assert [m["type"] for m in got_members] == ["way", "node", "relation"]
    assert [m["role"] for m in got_members] == ["outer", "", "outer"]


def _degrees(nanos):
    return [v / 1e9 for v in nanos]


def _nanos(degrees) -> list[int]:
    """Degrees → nano-degrees. ``v / 1e9`` and the decoder's ``nano *
    1e-9`` can differ in the last ulp, so compare as rounded integers."""
    return np.rint(np.asarray(degrees) * 1e9).astype(np.int64).tolist()


def test_locations_on_ways_roundtrip():
    """LocationsOnWays (osm.proto:228-235): optional delta-coded lat/lon
    parallel to refs. Parity-plus vs the reference — its decoder never
    reads fields 9/10 (model/entities.go Way has no coordinates)."""
    lat1 = [51_500_000_000, 51_500_001_000, 51_499_999_000]
    lon1 = [-100_000_000, -99_999_000, -99_998_000]
    lat2 = [10_000_000_000, 10_000_000_100]
    lon2 = [20_000_000_000, 19_999_999_900]
    blk = parse_primitive_block(encode_block("way", entity_table("way", [
        dict(id=7, refs=[10, 25, 30], way_lats=_degrees(lat1), way_lons=_degrees(lon1)),
        dict(id=8, refs=[30, 10], way_lats=_degrees(lat2), way_lons=_degrees(lon2)),
    ])))
    ways = blk.ways
    assert pc.list_value_length(ways.column("refs")).to_pylist() == [3, 2]
    assert pc.list_value_length(ways.column("way_lats")).to_pylist() == [3, 2]
    assert _nanos(pc.list_flatten(ways.column("way_lats"))) == lat1 + lat2
    assert _nanos(pc.list_flatten(ways.column("way_lons"))) == lon1 + lon2

    # ways WITHOUT locations decode null (no phantom values downstream)
    blk2 = parse_primitive_block(encode_block("way", entity_table("way", [dict(id=9, refs=[1, 2])])))
    assert blk2.ways.column("way_lats").null_count == 1
    assert blk2.ways.column("way_lons").null_count == 1

    # count-mismatch must be rejected on both ends
    import pytest as _pytest

    with _pytest.raises(ValueError, match="match refs"):
        encode_block("way", entity_table("way", [dict(id=1, refs=[1, 2], way_lats=[0.0], way_lons=[0.0])]))


def test_block_units_and_negative_offsets():
    """PrimitiveBlock granularity (17), date_granularity (18) and the
    int64 lat/lon offsets (19/20; a negative one is a 10-byte varint)
    scale every coordinate and timestamp of the block."""
    node = entity_table("node", [dict(
        id=1, lat_nano=51_500_000_000, lon_nano=-100_000_000,
        info=dict(version=1, ts=2_000_000, changeset=3, uid=4, user="u", visible=True),
    )])
    way = entity_table("way", [dict(id=7, refs=[1, 2], way_lats=[51.5, 51.4999999], way_lons=[-0.1, -0.0999999])])
    lon_offset = (-7) & (2**64 - 1)  # int64 -7 on the wire
    units = MessageBuilder().varint(17, 1000).varint(19, 5).varint(20, lon_offset).varint(18, 500).tobytes()
    nodes = parse_primitive_block(encode_block("node", node) + units).nodes
    # wire coord = nano / 100 (the encoder's granularity); decoded = offset + 1000 * coord
    assert nodes.column("lat_nano").to_pylist() == [5 + 1000 * 515_000_000]
    assert nodes.column("lon_nano").to_pylist() == [-7 + 1000 * -1_000_000]
    # the encoder writes seconds; 2 s × 500 ms
    assert nodes.column("info").to_pylist()[0]["ts"].timestamp() == 1.0
    ways = parse_primitive_block(encode_block("way", way) + units).ways
    assert _nanos(ways.column("way_lats").to_pylist()[0]) == [5 + 1000 * 515_000_000, 5 + 1000 * 514_999_999]
    assert _nanos(ways.column("way_lons").to_pylist()[0]) == [-7 + 1000 * -1_000_000, -7 + 1000 * -999_999]


def test_missing_changeset_decodes_null():
    """A way's or relation's Info without changeset (field 3) decodes
    null, like a missing timestamp or uid, not 0."""
    from pbf_spark.operators.decode import decode_blob_payload

    info = MessageBuilder().varint(1, 2).varint(5, 1)  # version, user_sid
    way = MessageBuilder().varint(1, 7).message(4, info)
    rel = MessageBuilder().varint(1, 9).message(4, info)
    groups = [MessageBuilder().message(3, way), MessageBuilder().message(4, rel)]
    raw = build_primitive_block(groups, ["", "bob"])
    rows = [r for rb in decode_blob_payload(raw, "raw", len(raw)) for r in rb.to_pylist()]
    want = dict(version=2, uid=None, ts=None, changeset=None, user="bob", visible=True)
    assert [(r["id"], r["info"]) for r in rows] == [(7, want), (9, want)]


# sha256 of each decompressed blob (header first) of the seed-42 test
# fixture: 9000 nodes, 700 ways, 40 relations (conftest ``fixture_dir``)
_FIXTURE_BLOCKS = [
    "6329540d62b3ab7f15d07d22001a5e9cfed14cdd7f6b4277047ce75c6f1f4125",
    "64680ce88ba903bd014fae663045faf12db8aa6d729793572725f87b8f90e212",
    "67e22a525e6e8e785c191a0037e932edf6c49695b5f53ae53f84b7f4c30c9190",
    "abb29d89d5a85c04615adf050a4a84bf8e2d61d03e216d4b3fd34483cfa534b2",
    "f4c74e1ad08e924c4602ddb4cd8920379b511db0c9e906e603ba80988ff9586f",
]


def test_generator_blocks_unchanged(fixture_dir):
    """The generator's raw blocks are pinned: the golden counts and the
    benchmark's inputs are generated, so an encoder change that moves a
    byte shows here. Hashed after inflate, independent of the zlib build."""
    import hashlib

    import pyarrow.parquet as pq

    rows = pq.read_table(fixture_dir / "media_blobs" / "data").sort_by("blob_seq").to_pylist()
    got = [
        hashlib.sha256(frame.decompress_payload(r["codec"], r["payload"], r["raw_size"])).hexdigest()
        for r in rows
    ]
    assert got == _FIXTURE_BLOCKS


def test_degrees_fixed_point_roundtrip():
    """Coordinate grid round-trip matrix (model/types_test.go:60-131 analogue)."""
    for gran in (100, 1000):
        for offset in (0, -50, 125):
            coords = np.array([-1_000_000, 0, 777, 123_456_789], dtype=np.int64)
            nano = osmformat.nano_degrees(coords, offset, gran)
            deg = osmformat.to_degrees(nano)
            back = np.round((deg * 1e9 - offset) / gran).astype(np.int64)
            assert (back == coords).all()


def test_blob_codecs_roundtrip():
    raw = b"primitive block bytes" * 100
    for codec in ("raw", "zlib", "lzma"):
        blob = frame.pack_blob(raw, codec)
        got_codec, raw_size, payload = frame.split_blob(blob)
        assert got_codec == codec
        assert raw_size == len(raw)
        assert frame.unpack_blob(blob) == raw


def test_frame_roundtrip():
    blob = frame.pack_blob(b"x" * 50)
    stream = io.BytesIO(frame.frame_blob("OSMData", blob) * 3)
    frames = list(frame.iter_blob_frames(stream))
    assert len(frames) == 3
    assert all(t == "OSMData" and b == blob for t, b in frames)


def test_truncated_stream_rejected():
    blob = frame.pack_blob(b"x" * 50)
    data = frame.frame_blob("OSMData", blob)
    with pytest.raises(ValueError):
        list(frame.iter_blob_frames(io.BytesIO(data[:-10])))


def _framed(header: MessageBuilder, blob: bytes = b"") -> bytes:
    raw = header.tobytes()
    return struct.pack(">I", len(raw)) + raw + blob


_GOOD_FRAME = frame.frame_blob("OSMData", frame.pack_blob(b"x" * 50))
_BAD_FRAMES = {
    "no_datasize": _framed(MessageBuilder().string(1, "OSMData")),
    "no_type": _framed(MessageBuilder().varint(3, 0)),
    # ends inside the declared header, on a field boundary
    "short_header": _framed(MessageBuilder().string(1, "OSMData").varint(3, 5))[:-2],
    "short_size": b"\x00\x00",
    "too_big": _framed(MessageBuilder().string(1, "OSMData").varint(3, frame.MAX_BLOB_SIZE + 1)),
    "short_blob": _GOOD_FRAME[:-10],
}


@pytest.mark.parametrize("case", list(_BAD_FRAMES))
def test_malformed_frame_raises_naming_its_offset(case, tmp_path):
    """Both framing loops (the stream reader and the file indexer) share
    one BlobHeader parse: a missing field, a truncated header or blob,
    or an oversized blob is a ValueError naming the frame's byte offset
    (and, from the indexer, the file)."""
    from pbf_spark.sources.pbf_file import index_blobs

    data = _GOOD_FRAME + _BAD_FRAMES[case]
    at = f"at byte {len(_GOOD_FRAME)}"
    with pytest.raises(ValueError, match=at):
        list(frame.iter_blob_frames(io.BytesIO(data)))
    path = tmp_path / "bad.osm.pbf"
    path.write_bytes(data)
    with pytest.raises(ValueError, match=re.escape(f"{path}: ") + ".*" + at):
        index_blobs(path)


def test_load_header_reads_only_the_first_frame(tmp_path):
    from pbf_spark.sources.pbf_file import load_header

    header = frame.frame_blob(
        "OSMHeader", frame.pack_blob(build_header_block(Header(writing_program="t")))
    )
    path = tmp_path / "head.osm.pbf"
    path.write_bytes(header + _BAD_FRAMES["no_datasize"])
    assert load_header(path).writing_program == "t"
    path.write_bytes(_GOOD_FRAME)
    with pytest.raises(ValueError, match="OSMHeader"):
        load_header(path)


def _packed_sint64_delta(vals):
    from pbf_spark.wire.varint import encode_varints, zigzag_encode

    deltas = np.diff(np.asarray(vals, np.int64), prepend=np.int64(0))
    return encode_varints(zigzag_encode(deltas).view(np.uint64))


# a string table for the hand-built blocks: string id i is "s<i>"
_STRINGS = [""] + [f"s{i}" for i in range(1, 100)]


def _decode_entities(group_field, *msgs):
    """Decode entity messages as one PrimitiveGroup (field 1 Node, 3 Way,
    4 Relation) of a block whose string table holds ids 0-99 → the
    kind's table."""
    group = MessageBuilder()
    for m in msgs:
        group.bytes_field(group_field, m)
    blk = parse_primitive_block(build_primitive_block([group], _STRINGS))
    return blk[{1: 0, 3: 1, 4: 2}[group_field]]


def test_way_unknown_fixed_width_fields_skipped():
    """Spec-legal unknown fixed64/fixed32 fields must be skipped, not crash
    (proto2 forward compat; reference skips via gogoproto generated code)."""
    from pbf_spark.wire.proto import WT_I32, WT_I64
    from pbf_spark.wire.varint import encode_varint

    b = MessageBuilder()
    b.varint(1, 7)  # id
    b.bytes_field(8, _packed_sint64_delta([10, 25, 30]))  # refs
    raw = (
        b.tobytes()
        + encode_varint(99 << 3 | WT_I64)
        + b"\x01\x02\x03\x04\x05\x06\x07\x08"
        + encode_varint(98 << 3 | WT_I32)
        + b"\x01\x02\x03\x04"
    )
    ways = _decode_entities(3, raw)
    assert ways.column("id").to_pylist() == [7]
    assert ways.column("refs").to_pylist() == [[10, 25, 30]]


def test_way_refs_split_across_packed_chunks():
    """A packed sint64 field split across repeated occurrences (legal
    protobuf) must delta-decode as ONE run, not reset per chunk."""
    full = _packed_sint64_delta([10, 25, 30, 40])
    # split the encoded run between values 2 and 3: re-encode as two
    # occurrences of field 8 carrying [d(10),d(15)] then [d(5),d(10)]
    from pbf_spark.wire.varint import encode_varints, zigzag_encode

    d = np.array([10, 15, 5, 10], np.int64)  # deltas of 10,25,30,40
    part1 = encode_varints(zigzag_encode(d[:2]).view(np.uint64))
    part2 = encode_varints(zigzag_encode(d[2:]).view(np.uint64))
    b = MessageBuilder()
    b.varint(1, 11)
    b.bytes_field(8, part1)
    b.bytes_field(8, part2)
    ways = _decode_entities(3, b.tobytes())
    assert ways.column("refs").to_pylist() == [[10, 25, 30, 40]]
    # and a two-message batch where only one message is split
    b2 = MessageBuilder()
    b2.varint(1, 12)
    b2.bytes_field(8, _packed_sint64_delta([100, 90]))
    ways2 = _decode_entities(3, b.tobytes(), b2.tobytes())
    assert ways2.column("refs").to_pylist() == [[10, 25, 30, 40], [100, 90]]


@pytest.mark.parametrize("codec,mod", [("lz4", "lz4.frame"), ("zstd", "zstandard")])
def test_optional_codec_roundtrip(codec, mod):
    """Full reference codec matrix (unpacker.go:38-81): exercised on any
    deployment image that ships the libs; skipped where absent (this
    sandbox). The import-gated seams raise NotImplementedError otherwise."""
    import importlib

    try:
        importlib.import_module(mod)
    except ImportError:
        with pytest.raises(NotImplementedError):
            frame.pack_blob(b"x" * 100, codec)
        pytest.skip(f"{mod} not installed")
    raw = bytes(range(256)) * 40
    blob = frame.pack_blob(raw, codec)
    got_codec, _, _ = frame.split_blob(blob)
    assert got_codec == codec
    assert frame.unpack_blob(blob) == raw


def test_info_render_golden():
    """pbf-info text/JSON render parity (cmd/pbf/info/info.go:174-206) on
    the reference sample fixture."""
    import json as _json

    from pbf_spark.sources import info

    i = info.read_info(SAMPLE_PBF, extended=True)
    txt = info.render_txt(i)
    assert txt.splitlines() == [
        "BoundingBox: [(51.7668597, -0.2353761) (51.7648407, -0.2285134)]",
        "RequiredFeatures: OsmSchema-V0.6, DenseNodes",
        "OptionalFeatures: Sort.Type_then_ID",
        "WritingProgram: osmconvert 0.7G",
        "Source: http://www.openstreetmap.org/api/0.6",
        "OsmosisReplicationTimestamp: 0001-01-01T00:00:00Z",
        "OsmosisReplicationSequenceNumber: 0",
        "OsmosisReplicationBaseURL: ",
        "NodeCount: 290",
        "WayCount: 44",
        "RelationCount: 5",
    ]
    j = _json.loads(info.render_json(i))
    assert j["node_count"] == 290 and j["way_count"] == 44 and j["relation_count"] == 5
    assert j["bounding_box"]["top"] == 51.7668597


def test_cli_info(capsys):
    """python -m pbf_spark info [-e] [-j] — the reference binary's
    command surface (cmd/pbf/info/info.go:52-55)."""
    import json as _json

    from pbf_spark.__main__ import main

    assert main(["info", str(SAMPLE_PBF)]) == 0
    out = capsys.readouterr().out
    assert out.startswith("BoundingBox: [(51.7668597, -0.2353761)")
    assert "NodeCount" not in out  # not extended
    assert main(["info", "-e", "-j", str(SAMPLE_PBF)]) == 0
    j = _json.loads(capsys.readouterr().out)
    assert j["node_count"] == 290
    assert main(["info", "/nonexistent.osm.pbf"]) == 1


def test_info_counts_generated_file(fixture_dir, fixture_manifest, capsys):
    """``read_info(extended=True)`` and ``python -m pbf_spark info -e -j``
    count every entity of the generated fixture's standalone file."""
    import json as _json

    from pbf_spark.__main__ import main
    from pbf_spark.sources import info

    path = fixture_dir / "fixture.osm.pbf"
    want = {f"{kind}_count": n for kind, n in fixture_manifest["counts"].items()}
    i = info.read_info(path, extended=True)
    assert {k: i[k] for k in want} == want
    assert info.render_txt(i).splitlines()[-3:] == [
        f"NodeCount: {want['node_count']:,}",
        f"WayCount: {want['way_count']:,}",
        f"RelationCount: {want['relation_count']:,}",
    ]
    assert main(["info", "-e", "-j", str(path)]) == 0
    j = _json.loads(capsys.readouterr().out)
    assert {k: j[k] for k in want} == want
    assert j["writing_program"] == "pbf_spark-fixture-gen"


def test_scan_spans_vec_rejects_varint_crossing_message_boundary():
    """A varint truncated at its message boundary must raise, not
    resolve its terminator inside the NEXT message's bytes (round-5
    ADVICE: the buffer-global terminator index made this silent)."""
    import numpy as np
    import pytest

    from pbf_spark.wire.osmformat import _scan_spans_vec

    # message 1 = [0x08, 0x96, 0x81] — field 1 varint whose bytes all
    # carry the continuation bit up to the message end (truncated);
    # message 2 = [0x01, 0x08, 0x05] — starts with the byte that would
    # "complete" message 1's varint if the scan ignored the boundary
    b = np.frombuffer(bytes([0x08, 0x96, 0x81, 0x01, 0x08, 0x05]), dtype=np.uint8)
    starts = np.array([0, 3], dtype=np.int64)
    ends = np.array([3, 6], dtype=np.int64)
    with pytest.raises(ValueError, match="boundary|truncated"):
        _scan_spans_vec(b, starts, ends, packed_fields=(), varint_fields=(1,), msg_fields=())

    # sanity: the same bytes split at the true varint end parse fine
    starts_ok = np.array([0, 4], dtype=np.int64)
    ends_ok = np.array([4, 6], dtype=np.int64)
    vals, present, _ = _scan_spans_vec(
        b, starts_ok, ends_ok, packed_fields=(), varint_fields=(1,), msg_fields=()
    )
    assert present[1].all()
    assert vals[1][1] == 5


def _plain_nodes_group(ids, lat_nano, lon_nano, tags, sid, info):
    """Node messages with osm.proto's field numbers: sint64 id 1, packed
    keys 2 / vals 3, Info 4, sint64 lat 8 / lon 9 (granularity 100)."""
    from pbf_spark.wire.varint import encode_varints

    group = MessageBuilder()
    for i, node_id in enumerate(ids):
        nb = MessageBuilder()
        nb.svarint(1, int(node_id))
        st = sorted(tags[i])
        if st:
            nb.bytes_field(2, encode_varints(np.array([sid[k] for k, _ in st], np.uint64)))
            nb.bytes_field(3, encode_varints(np.array([sid[v] for _, v in st], np.uint64)))
        inf = MessageBuilder().varint(1, info["version"][i]).varint(2, info["ts_ms"][i] // 1000)
        inf.varint(3, info["changeset"][i]).varint(4, info["uid"][i]).varint(5, sid[info["user"][i]])
        if not info["visible"][i]:
            inf.varint(6, 0)
        nb.message(4, inf)
        nb.svarint(8, int(lat_nano[i]) // 100)
        nb.svarint(9, int(lon_nano[i]) // 100)
        group.message(1, nb)
    return group


def test_plain_nodes_decode_like_dense_nodes():
    """The same nodes as plain Node messages (two groups in one block)
    and as one DenseNodes group decode to the same rows: ids, negative
    coordinates, tags and Info."""
    from pbf_spark.operators.decode import decode_blob_payload

    ids = np.array([-7, 10, 25, 30])
    lat = np.array([51_500_000_000, -33_868_800_000, 0, -89_999_999_900])
    lon = np.array([-100_000_000, 151_209_300_000, -179_999_999_900, 42_000_000_000])
    tags = [[("amenity", "cafe"), ("name", "Café")], [], [("name", "Café")], []]
    info = dict(
        version=[1, 2, 3, 4],
        ts_ms=[1_000_000, 2_000_000, 3_000_000, 4_000_000],
        changeset=[5, 6, 7, 8],
        uid=[42, 42, 43, 44],
        user=["alice", "alice", "bob", "bob"],
        visible=[1, 0, 1, 1],
    )

    def rows(raw):
        batches = decode_blob_payload(raw, "raw", len(raw))
        return [r for rb in batches for r in rb.to_pylist()]

    dense_raw = encode_block("node", entity_table("node", _node_rows(ids, lat, lon, tags, info)))
    table = _strings(dense_raw)
    assert table == ["", "Café", "alice", "amenity", "bob", "cafe", "name"]
    sid = {s: i for i, s in enumerate(table)}
    dense = rows(dense_raw)
    plain = rows(build_primitive_block([
        _plain_nodes_group(ids[:2], lat[:2], lon[:2], tags[:2], sid, {k: v[:2] for k, v in info.items()}),
        _plain_nodes_group(ids[2:], lat[2:], lon[2:], tags[2:], sid, {k: v[2:] for k, v in info.items()}),
    ], table))
    assert plain == dense
    assert [r["lat_nano"] for r in plain] == list(lat)
    assert [r["lon_nano"] for r in plain] == list(lon)
    assert plain[0]["tags"] == [{"key": "amenity", "value": "cafe"}, {"key": "name", "value": "Café"}]
    assert [r["info"]["visible"] for r in plain] == [True, False, True, True]


def _repeated(b, field, vals, form, sint=False):
    """Write a repeated scalar field packed, unpacked, or as a packed
    chunk followed by unpacked values (all legal proto2)."""
    from pbf_spark.wire.varint import encode_varints, zigzag_encode

    v = np.asarray(vals, np.int64)
    u = zigzag_encode(np.diff(v, prepend=np.int64(0))) if sint else v.astype(np.uint64)
    cut = {"packed": u.size, "unpacked": 0, "mixed": u.size // 2}[form]
    if cut:
        b.bytes_field(field, encode_varints(u[:cut]))
    for x in u[cut:]:
        b.varint(field, int(x))


def _entity_msgs(group_field, form):
    msgs = []
    for eid, keys, vals in ((7, [1, 3, 5], [2, 4, 6]), (8, [1], [9])):
        b = MessageBuilder()
        if group_field == 1:
            b.svarint(1, -eid)
        else:
            b.varint(1, eid)
        _repeated(b, 2, keys, form)
        _repeated(b, 3, vals, form)
        if group_field == 1:
            b.svarint(8, -eid * 1000).svarint(9, eid * 1000)
        elif group_field == 3:
            _repeated(b, 8, [eid * 10, 25, -30, 25], form, sint=True)
        else:
            _repeated(b, 8, [1, 0, 1], form)
            _repeated(b, 9, [eid, -10, 99], form, sint=True)
            _repeated(b, 10, [1, 0, 2], form)
        msgs.append(b.tobytes())
    return msgs


@pytest.mark.parametrize("group_field", [1, 3, 4])
def test_unpacked_repeated_fields_decode_like_packed(group_field):
    """proto2 parsers accept a repeated scalar unpacked: keys, vals,
    refs, roles, memids and member types decode the same packed,
    unpacked, or split between the two."""
    got = {f: _decode_entities(group_field, *_entity_msgs(group_field, f))
           for f in ("packed", "unpacked", "mixed")}
    for form in ("unpacked", "mixed"):
        assert got[form].equals(got["packed"]), form
    t = got["unpacked"]
    assert [[(kv["key"], kv["value"]) for kv in tags] for tags in t.column("tags").to_pylist()] == [
        [("s1", "s2"), ("s3", "s4"), ("s5", "s6")],
        [("s1", "s9")],
    ]
    if group_field == 1:
        assert t.column("id").to_pylist() == [-7, -8]
        assert t.column("lat_nano").to_pylist() == [-700_000, -800_000]  # coord × granularity 100
    elif group_field == 3:
        assert t.column("refs").to_pylist() == [[70, 25, -30, 25], [80, 25, -30, 25]]
    else:
        members = [m for ms in t.column("members").to_pylist() for m in ms]
        assert [m["ref"] for m in members] == [7, -10, 99, 8, -10, 99]
        assert [m["type"] for m in members] == ["way", "node", "relation"] * 2
        assert [m["role"] for m in members] == ["s1", "", "s1"] * 2


@pytest.mark.parametrize("group_field", [1, 3, 4])
def test_key_val_count_mismatch_raises(group_field):
    from pbf_spark.wire.varint import encode_varints

    b = MessageBuilder().varint(1, 2)
    b.bytes_field(2, encode_varints(np.array([1, 3], np.uint64)))
    b.bytes_field(3, encode_varints(np.array([2], np.uint64)))
    with pytest.raises(ValueError, match="disagree"):
        _decode_entities(group_field, b.tobytes())


def test_truncated_dense_nodes_raise():
    """A DenseNodes message cut short, or one whose id, lat and lon runs
    differ in length, raises instead of decoding a partial block."""
    from pbf_spark.wire.varint import encode_varints, zigzag_encode

    raw = encode_block("node", entity_table("node", [
        dict(id=i, lat_nano=100 * i, lon_nano=-100 * i) for i in (1, 2, 3)
    ]))
    table = _strings(raw)
    dense = bytes(parse_message(parse_message(raw)[2][0])[2][0])
    assert len(parse_primitive_block(raw).nodes) == 3
    cut = MessageBuilder().bytes_field(2, dense[:-2])
    with pytest.raises(ValueError, match="truncated"):
        parse_primitive_block(build_primitive_block([cut], table))

    short = MessageBuilder()
    short.bytes_field(1, encode_varints(zigzag_encode(np.array([1, 1, 1]))))
    short.bytes_field(8, encode_varints(zigzag_encode(np.array([1, 1, 1]))))
    short.bytes_field(9, encode_varints(zigzag_encode(np.array([-1]))))
    with pytest.raises(ValueError, match="3 ids, 3 lats and 1 lons"):
        parse_primitive_block(build_primitive_block([MessageBuilder().message(2, short)], table))

    for info_field in (1, 6):  # version, visible: 2 values for 3 nodes
        info = MessageBuilder().bytes_field(info_field, encode_varints(np.array([1, 0], np.uint64)))
        group = MessageBuilder().bytes_field(2, dense + MessageBuilder().message(5, info).tobytes())
        with pytest.raises(ValueError, match="DenseInfo arrays disagree"):
            parse_primitive_block(build_primitive_block([group], table))


def test_truncated_fields_raise():
    """A length-delimited or fixed-width field that runs past its
    message raises, in the scalar and in the vectorized scanner."""
    from pbf_spark.wire.proto import WT_I64, scan_fields
    from pbf_spark.wire.varint import encode_varint

    msg = MessageBuilder().varint(1, 7).bytes_field(8, b"\x02\x04\x06").tobytes()
    fixed = encode_varint(99 << 3 | WT_I64) + b"\x01\x02\x03"
    for bad in (msg[:-1], msg + fixed):
        with pytest.raises(ValueError, match="truncated"):
            list(scan_fields(bad))
        with pytest.raises(ValueError, match="truncated"):
            _decode_entities(3, bad, MessageBuilder().varint(1, 8).tobytes())


def test_inflate_is_bounded():
    """Inflate stops at raw_size, or at MAX_BLOB_SIZE when the blob
    declares none, and raises if the stream holds more."""
    import zlib

    raw = b"primitive block bytes" * 100
    for codec in ("zlib", "lzma"):
        payload = frame.compress_payload(raw, codec)
        assert frame.decompress_payload(codec, payload, len(raw)) == raw
        assert frame.decompress_payload(codec, payload, 0) == raw
        with pytest.raises(ValueError, match="does not end within"):
            frame.decompress_payload(codec, payload, len(raw) - 1)
    bomb = zlib.compress(bytes(frame.MAX_BLOB_SIZE + 1))
    with pytest.raises(ValueError, match=f"does not end within {frame.MAX_BLOB_SIZE}"):
        frame.decompress_payload("zlib", bomb, 0)


def test_blob_decode_errors_name_the_blob():
    """A bad zlib stream, a truncated block and a string id outside the
    block's table each raise ValueError naming the blob."""
    from pbf_spark.operators.decode import decode_blob_payload

    way = MessageBuilder().varint(1, 7).bytes_field(2, bytes([99])).bytes_field(3, bytes([98]))
    raw = build_primitive_block([MessageBuilder().message(3, way)], [""])
    packed = frame.compress_payload(raw)
    for codec, payload in (("zlib", b"\x00" + packed[1:]), ("raw", raw[:-2]), ("raw", raw)):
        with pytest.raises(ValueError, match="doc_id=d1 span_idx=2 blob_seq=5: "):
            decode_blob_payload(payload, codec, len(raw), "d1", 2, 5)


def _out_of_range_string_id_groups():
    """One PrimitiveGroup per string column, each naming string id 150:
    tag keys (Node, DenseNodes, Way), an Info user (Node, DenseNodes,
    Way) and a member role."""
    from pbf_spark.wire.varint import encode_varints

    def packed(*v):
        return encode_varints(np.array(v, np.uint64))

    def sint(*v):
        return _packed_sint64_delta(v)

    def node():
        return MessageBuilder().svarint(1, 1).svarint(8, 0).svarint(9, 0)

    def dense():
        return MessageBuilder().bytes_field(1, sint(1)).bytes_field(8, sint(0)).bytes_field(9, sint(0))

    def way():
        return MessageBuilder().varint(1, 7)

    def tags(b):
        return b.bytes_field(2, packed(150)).bytes_field(3, packed(1))

    info = MessageBuilder().varint(1, 1).varint(5, 150)
    dense_info = MessageBuilder().bytes_field(1, packed(1)).bytes_field(5, sint(150))
    return {
        "node tags": (1, tags(node())),
        "node user": (1, node().message(4, info)),
        "dense tags": (2, dense().bytes_field(10, packed(150, 1, 0))),
        "dense user": (2, dense().message(5, dense_info)),
        "way tags": (3, tags(way())),
        "way user": (3, way().message(4, info)),
        "member role": (4, way().bytes_field(8, packed(150)).bytes_field(9, sint(5)).bytes_field(10, packed(0))),
    }


@pytest.mark.parametrize("case", sorted(_out_of_range_string_id_groups()))
def test_string_ids_checked_in_columns_not_built(case):
    """A string id outside the block's table raises whether or not the
    decode builds its column: every projection of the decode, and a
    parse that builds only the ids, reject it."""
    from pbf_spark.operators.decode import decode_blob_payload

    group_field, msg = _out_of_range_string_id_groups()[case]
    raw = build_primitive_block([MessageBuilder().message(group_field, msg)], _STRINGS)
    with pytest.raises(IndexError, match="string id 150 outside the block's 100-entry table"):
        parse_primitive_block(raw, {})
    for kw in ({}, dict(columns=frozenset()), dict(kinds=("node",)), dict(kinds=("way",), columns=frozenset())):
        with pytest.raises(ValueError, match="malformed blob .*string id 150"):
            decode_blob_payload(raw, "raw", len(raw), **kw)
