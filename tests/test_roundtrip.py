"""Round-trip semantic-equality test (reference §5.3 analogue).

decode → re-encode (write_pbf) → re-decode; equality of per-type counts
and an order-insensitive multiset digest over canonicalized entities
(tags key-sorted inside the digest — decode emits wire order; 1 cm-grid coords =
lat_nano; second-truncated timestamps), mirroring
/root/reference/roundtrip_integration_test.go:204-309.
"""

import pyspark.sql.functions as F
import pytest

from pbf_spark.operators import decode
from pbf_spark.sources import iceberg_lite, pbf_file, pbf_sink


def canonical_digest(entities):
    """Order-insensitive multiset digest: sum of per-entity sha2 prefixes.

    decimal(38) sum dodges ANSI overflow while keeping collisions
    negligible (120-bit space, sum commutative → partition-order-proof).
    """
    canon = F.concat_ws(
        "|",
        F.col("entity_type"),
        F.col("id"),
        F.coalesce(F.col("lat_nano").cast("string"), F.lit("")),
        F.coalesce(F.col("lon_nano").cast("string"), F.lit("")),
        F.coalesce(F.to_json(F.array_sort("tags")), F.lit("[]")),  # tags are wire-order; canonicalize here
        F.coalesce(F.to_json("refs"), F.lit("[]")),
        F.coalesce(F.to_json("members"), F.lit("[]")),
        F.coalesce(F.col("info.version").cast("string"), F.lit("")),
        F.coalesce(F.col("info.uid").cast("string"), F.lit("")),
        F.coalesce(F.unix_timestamp("info.ts").cast("string"), F.lit("")),  # second-truncated
        F.coalesce(F.col("info.changeset").cast("string"), F.lit("")),
        F.coalesce(F.col("info.user"), F.lit("")),
        F.coalesce(F.col("info.visible").cast("string"), F.lit("true")),
    )
    return (
        F.sum(F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("decimal(38,0)"))
    )


@pytest.fixture(scope="module")
def entities(spark, fixture_dir):
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    df = decode.decode_documents(docs, blobs).cache()
    df.count()
    return df


def test_roundtrip_digest(spark, entities, fixture_manifest, tmp_path_factory):
    out = tmp_path_factory.mktemp("rt") / "roundtrip.osm.pbf"
    stats = pbf_sink.write_pbf(entities, out)
    assert stats["n_entities"] == fixture_manifest["total_entities"]

    redecoded = decode.decode_blobs(pbf_file.read_blob_table(spark, out))
    counts1 = {r["entity_type"]: r["n"] for r in decode.count_by_type(entities).collect()}
    counts2 = {r["entity_type"]: r["n"] for r in decode.count_by_type(redecoded).collect()}
    assert counts1 == counts2 == fixture_manifest["counts"]

    d1 = entities.agg(canonical_digest(entities).alias("d")).first()["d"]
    d2 = redecoded.agg(canonical_digest(redecoded).alias("d")).first()["d"]
    assert d1 == d2

    # header carries the aggregated bbox + HistoricalInformation (fixture
    # contains visible=false rows)
    hdr = pbf_file.load_header(out)
    assert "HistoricalInformation" in hdr.required_features
    bb = hdr.bbox_degrees
    # aggregated data bbox lies within the generator bbox
    assert bb["bottom"] >= fixture_manifest["bbox"]["bottom"] - 1e-6
    assert bb["top"] <= fixture_manifest["bbox"]["top"] + 1e-6
    assert bb["left"] >= fixture_manifest["bbox"]["left"] - 1e-6


@pytest.mark.parametrize("damage", ["truncate", "corrupt"])
def test_blob_read_error_names_file_and_offset(spark, entities, tmp_path_factory, damage):
    """A file that changes after ``index_blobs`` fails the task-side
    read: a short read or a corrupt Blob message raises a ValueError
    naming the path, the blob_seq and its byte offset."""
    from pyspark.errors import PythonException

    out = tmp_path_factory.mktemp("damaged") / "damaged.osm.pbf"
    pbf_sink.write_pbf(entities, out)
    blobs = pbf_file.read_blob_table(spark, out)  # indexes the intact file
    seq, _, off, length = pbf_file.index_blobs(out)[-1]
    with open(out, "r+b") as f:
        if damage == "truncate":
            f.truncate(off + length - 1)
        else:
            f.seek(off)
            f.write(b"\x07")  # a key with wire type 7: not a Blob message
    with pytest.raises(PythonException) as err:
        blobs.collect()
    assert f"{out}: blob_seq={seq} at byte {off}" in str(err.value)


def test_encode_blocks_spreads_over_partitions(entities):
    """All three entity types reach more than one encode task: a keyed
    ``repartition("entity_type")`` lets AQE coalesce them into one."""
    blocks = pbf_sink.encode_blocks(entities)
    rows = blocks.select(F.spark_partition_id().alias("p"), "entity_type", "n_entities").collect()
    assert {r["entity_type"] for r in rows} == {"node", "way", "relation"}
    assert len({r["p"] for r in rows}) > 1
    assert sum(r["n_entities"] for r in rows) == entities.count()


def test_roundtrip_sample_pbf(spark, tmp_path_factory):
    """Reference fixture round trip: sample.osm.pbf → entities → PBF →
    entities; digests equal (the reference's own test shape)."""
    from .conftest import SAMPLE_PBF

    ents = decode.decode_blobs(pbf_file.read_blob_table(spark, SAMPLE_PBF)).cache()
    out = tmp_path_factory.mktemp("rt2") / "sample-rt.osm.pbf"
    stats = pbf_sink.write_pbf(ents, out)
    assert stats["n_entities"] == 339
    red = decode.decode_blobs(pbf_file.read_blob_table(spark, out))
    d1 = ents.agg(canonical_digest(ents).alias("d")).first()["d"]
    d2 = red.agg(canonical_digest(red).alias("d")).first()["d"]
    assert d1 == d2


def test_roundtrip_locations_on_ways_file(spark, tmp_path_factory):
    """File-level LocationsOnWays round trip: decode (opt-in columns) →
    write_pbf (re-emits fields 9/10 + declares the optional feature) →
    decode again, way coordinates bit-exact."""
    from pbf_spark.model.schema import MEDIA_BLOB_SCHEMA
    from pbf_spark.util import small_df
    from pbf_spark.wire.osmformat import encode_block

    from .conftest import entity_table

    # granularity-100 representable (the default wire precision is 1e-7 deg)
    lats = [51_500_000_000, 51_500_001_000, 51_499_999_100]
    lons = [-100_000_000, -99_999_000, -99_998_400]
    nodes_blk = encode_block("node", entity_table("node", [
        dict(id=i, lat_nano=a, lon_nano=o) for i, a, o in zip((10, 25, 30), lats, lons)
    ]))
    ways_blk = encode_block("way", entity_table("way", [
        dict(id=7, refs=[10, 25, 30], way_lats=[v / 1e9 for v in lats], way_lons=[v / 1e9 for v in lons])
    ]))
    blob_df = small_df(
        spark,
        [
            ("m0", 0, "OSMData", "raw", len(nodes_blk), bytearray(nodes_blk)),
            ("m1", 1, "OSMData", "raw", len(ways_blk), bytearray(ways_blk)),
        ],
        MEDIA_BLOB_SCHEMA,
    )
    ents = decode.decode_blobs(blob_df, way_locations=True)

    out = tmp_path_factory.mktemp("rtlow") / "low.osm.pbf"
    pbf_sink.write_pbf(ents, out)
    hdr = pbf_file.load_header(out)
    assert "LocationsOnWays" in hdr.optional_features

    red = decode.decode_blobs(pbf_file.read_blob_table(spark, out), way_locations=True)
    row = red.where("entity_type='way'").collect()[0]
    first = ents.where("entity_type='way'").collect()[0]
    # bit-exact vs the first decode (to_degrees is nano * 1e-9, so the
    # doubles are NOT v/1e9 to the last ulp — compare decode-vs-redecode)
    assert row["way_lats"] == first["way_lats"]
    assert row["way_lons"] == first["way_lons"]
    assert [round(v * 1e9) for v in row["way_lats"]] == lats
    assert [round(v * 1e9) for v in row["way_lons"]] == lons

    # a file without way locations must NOT declare the feature
    out2 = tmp_path_factory.mktemp("rtlow") / "plain.osm.pbf"
    pbf_sink.write_pbf(decode.decode_blobs(blob_df), out2)
    assert "LocationsOnWays" not in pbf_file.load_header(out2).optional_features


def _null_info_roundtrip(spark, out, info):
    """A way and a relation carrying the Info message ``info``: their
    (id, info) rows after decode, and after write_pbf and a second decode."""
    from pbf_spark.model.schema import MEDIA_BLOB_SCHEMA
    from pbf_spark.util import small_df
    from pbf_spark.wire.osmformat import build_primitive_block
    from pbf_spark.wire.proto import MessageBuilder

    way = MessageBuilder().varint(1, 7).message(4, info).bytes_field(8, bytes([20, 10]))  # refs 10, 15
    rel = MessageBuilder().varint(1, 9).message(4, info)
    groups = [MessageBuilder().message(3, way), MessageBuilder().message(4, rel)]
    raw = build_primitive_block(groups, [""])
    blob_df = small_df(
        spark, [("m0", 0, "OSMData", "raw", len(raw), bytearray(raw))], MEDIA_BLOB_SCHEMA
    )

    def infos(df):
        return sorted((r["id"], r["info"].asDict()) for r in df.select("id", "info").collect())

    first = infos(decode.decode_blobs(blob_df))
    pbf_sink.write_pbf(decode.decode_blobs(blob_df), out)
    return first, infos(decode.decode_blobs(pbf_file.read_blob_table(spark, out)))


def test_roundtrip_keeps_null_info_fields(spark, tmp_path_factory):
    """A way's or relation's Info without timestamp and uid (fields 2
    and 4 absent) decodes with null ``ts`` and ``uid``; write_pbf and a
    second decode keep them null instead of writing 1970-01-01 and 0."""
    from pbf_spark.wire.proto import MessageBuilder

    info = MessageBuilder().varint(1, 3).varint(3, 11).varint(5, 0)  # version, changeset, user ""
    out = tmp_path_factory.mktemp("rtnull") / "null-info.osm.pbf"
    first, second = _null_info_roundtrip(spark, out, info)
    assert [(i, v["ts"], v["uid"], v["changeset"]) for i, v in first] == [(7, None, None, 11), (9, None, None, 11)]
    assert second == first


def test_roundtrip_keeps_null_changeset(spark, tmp_path_factory):
    """An Info without changeset (field 3) decodes null, and write_pbf
    does not turn it into changeset 0."""
    from pbf_spark.wire.proto import MessageBuilder

    info = MessageBuilder().varint(1, 3).varint(5, 0)  # version, user ""
    out = tmp_path_factory.mktemp("rtnull") / "null-changeset.osm.pbf"
    first, second = _null_info_roundtrip(spark, out, info)
    assert [(i, v["ts"], v["uid"], v["changeset"]) for i, v in first] == [(7, None, None, None), (9, None, None, None)]
    assert second == first


def test_write_pbf_rejects_mixed_locations_on_ways(spark, tmp_path_factory):
    """LocationsOnWays is all-or-nothing per file (ADVICE r4): mixed
    presence would write a file our own decoder rejects, so write_pbf
    must fail with a clear error before it opens the file."""
    from pbf_spark.model.schema import MEDIA_BLOB_SCHEMA
    from pbf_spark.util import small_df
    from pbf_spark.wire.osmformat import encode_block

    from .conftest import entity_table

    lats = [51_500_000_000, 51_500_001_000]
    lons = [-100_000_000, -99_999_000]
    nodes_blk = encode_block("node", entity_table("node", [
        dict(id=i, lat_nano=a, lon_nano=o) for i, a, o in zip((10, 25), lats, lons)
    ]))
    with_locs = encode_block("way", entity_table("way", [
        dict(id=7, refs=[10, 25], way_lats=[v / 1e9 for v in lats], way_lons=[v / 1e9 for v in lons])
    ]))
    without_locs = encode_block("way", entity_table("way", [dict(id=8, refs=[25, 10])]))
    blob_df = small_df(
        spark,
        [
            ("m0", 0, "OSMData", "raw", len(nodes_blk), bytearray(nodes_blk)),
            ("m1", 1, "OSMData", "raw", len(with_locs), bytearray(with_locs)),
            ("m2", 2, "OSMData", "raw", len(without_locs), bytearray(without_locs)),
        ],
        MEDIA_BLOB_SCHEMA,
    )
    ents = decode.decode_blobs(blob_df, way_locations=True)
    path = tmp_path_factory.mktemp("rtmix") / "mixed.osm.pbf"
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    before = persistent()
    with pytest.raises(ValueError, match="LocationsOnWays presence is mixed"):
        pbf_sink.write_pbf(ents, path)
    # raised before the file is opened, with the encoded blocks released
    assert not path.exists()
    assert persistent() == before
