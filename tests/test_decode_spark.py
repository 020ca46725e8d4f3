"""End-to-end Spark decode tests: documents table → entity DataFrame.

Mirrors the reference's golden-count strategy (SURVEY.md §5): fixture
manifest counts are the contract; sample.osm.pbf carries the reference's
own 339-entity golden (decoder_test.go:32).
"""

import pyspark.sql.functions as F
import pytest

from pbf_spark.operators import decode
from pbf_spark.sources import iceberg_lite, pbf_file

from .conftest import SAMPLE_PBF


@pytest.fixture(scope="module")
def entities(spark, fixture_dir):
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    df = decode.decode_documents(docs, blobs).cache()
    df.count()
    return df


def test_golden_counts(entities, fixture_manifest):
    got = {r["entity_type"]: r["n"] for r in decode.count_by_type(entities).collect()}
    assert got == fixture_manifest["counts"]


def test_decode_coalescing_row_identical(fixture_dir, monkeypatch):
    """Batch coalescing (~64k-row output batches) must be a pure
    repackaging: same rows, same order, as per-blob batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pbf_spark.operators.decode import _decode_map_arrow

    files = sorted((fixture_dir / "media_blobs" / "data").glob("*.parquet"))
    t = pa.concat_tables([pq.read_table(p) for p in files])
    batches = t.to_batches(max_chunksize=100)
    coalesced = pa.Table.from_batches(list(_decode_map_arrow(iter(batches))))
    monkeypatch.setattr(decode, "_COALESCE_ROWS", 1)
    per_blob = pa.Table.from_batches(list(_decode_map_arrow(iter(batches))))
    assert coalesced.num_rows == per_blob.num_rows
    assert coalesced.combine_chunks().equals(per_blob.combine_chunks())


def test_sample_pbf_file_golden(spark):
    hdr = pbf_file.load_header(SAMPLE_PBF)
    assert hdr.bbox_degrees["top"] == pytest.approx(51.7668597, abs=1e-9)
    ents = decode.decode_blobs(pbf_file.read_blob_table(spark, SAMPLE_PBF))
    got = {r["entity_type"]: r["n"] for r in decode.count_by_type(ents).collect()}
    assert got == {"node": 290, "way": 44, "relation": 5}  # info_integration_test.go analogue


def test_projection_matches_unified(spark, fixture_dir, entities, fixture_manifest):
    """One projection rule: a decode's columns are exactly
    ``schema.projection(kinds, columns)`` and its rows equal the unified
    frame's rows of those kinds projected onto them. A pruned column is
    absent, not null; a kinds decode drops the columns no requested kind
    populates (node-only: no refs/members; way-only: no lat/members;
    relation-only: no refs/lat). A tag filter reads tags the projection
    does not output."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from pbf_spark.model.schema import ENTITY_ARROW_SCHEMA, ENTITY_KINDS, projection

    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    assert entities.schema == from_arrow_schema(ENTITY_ARROW_SCHEMA)

    def check(df, want, kinds):
        want = want.where(F.col("entity_type").isin(*kinds)).select(*df.columns)
        assert df.exceptAll(want).isEmpty() and want.exceptAll(df).isEmpty()
        assert df.count() == sum(fixture_manifest["counts"][k] for k in kinds)

    cases = {
        "default": {},
        "geometry": dict(columns=frozenset()),
        "way refs": dict(kinds=("way",), columns={"refs"}),
        "nodes": dict(kinds=("node",)),
        "ways": dict(kinds=("way",)),
        "relations": dict(kinds=("relation",)),
    }
    frames = {}
    for name, kw in cases.items():
        kinds = kw.get("kinds", ENTITY_KINDS)
        df = frames[name] = decode.decode_documents(docs, blobs, **kw)
        assert df.columns == projection(kinds, kw.get("columns")).names, name
        check(df, entities, kinds)

    assert frames["default"].columns == entities.columns
    assert frames["geometry"].columns == [
        "entity_type", "id", "lat", "lon", "lat_nano", "lon_nano", "doc_id", "span_idx", "blob_seq"
    ]
    assert frames["way refs"].columns == ["entity_type", "id", "refs", "doc_id", "span_idx", "blob_seq"]
    nodes, ways, rels = frames["nodes"], frames["ways"], frames["relations"]
    assert "refs" not in nodes.columns and "members" not in nodes.columns
    assert {"lat", "lon", "lat_nano", "lon_nano", "tags", "info"} <= set(nodes.columns)
    assert "lat" not in ways.columns and "members" not in ways.columns
    assert "refs" not in rels.columns and "lat" not in rels.columns

    pushed = decode.decode_documents(docs, blobs, columns=frozenset(), tag_filter=["highway"])
    assert "tags" not in pushed.columns
    highway = entities.where(F.exists("tags", lambda t: t["key"] == F.lit("highway")))
    want = highway.select(*pushed.columns)
    assert pushed.exceptAll(want).isEmpty() and want.exceptAll(pushed).isEmpty()
    assert pushed.count() > 0


def test_projection_rejects_unknown_names(spark, fixture_dir):
    """A misspelt kind or column raises, naming the valid ones, instead
    of decoding nothing or pruning the column."""
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    with pytest.raises(ValueError, match="unknown kinds \\['nodes'\\]; valid kinds: node, way, relation"):
        decode.decode_blobs(blobs, kinds=("nodes",))
    with pytest.raises(ValueError, match="unknown columns \\['tag'\\]; valid columns: tags, info, refs, members"):
        decode.decode_blobs(blobs, columns={"tag"})
    with pytest.raises(ValueError, match="valid kinds"):
        decode.decode_blob_payload(b"", "raw", 0, kinds=("nodes",))


def test_way_locations_decode(spark):
    """LocationsOnWays through the full Spark decode: opt-in way_lats/
    way_lons columns, degrees parallel to refs; absent by default."""
    import numpy as np

    from pbf_spark.util import small_df
    from pbf_spark.model.schema import MEDIA_BLOB_SCHEMA
    from pbf_spark.wire.osmformat import encode_block

    from .conftest import entity_table

    lats = [51_500_000_000, 51_500_001_000, 51_499_999_000]
    lons = [-100_000_000, -99_999_000, -99_998_000]
    raw = encode_block("way", entity_table("way", [
        dict(id=7, refs=[10, 25, 30], way_lats=[v / 1e9 for v in lats], way_lons=[v / 1e9 for v in lons])
    ]))
    blob_df = small_df(
        spark, [("m0", 0, "OSMData", "raw", len(raw), bytearray(raw))], MEDIA_BLOB_SCHEMA
    )

    df = decode.decode_blobs(blob_df, way_locations=True)
    row = df.where("entity_type='way'").collect()[0]
    assert row["refs"] == [10, 25, 30]
    assert np.allclose(row["way_lats"], [v / 1e9 for v in lats])
    assert np.allclose(row["way_lons"], [v / 1e9 for v in lons])

    # default schema unchanged (opt-in column)
    assert "way_lats" not in decode.decode_blobs(blob_df).columns
    # a way-only decode can carry them too
    ways = decode.decode_blobs(blob_df, kinds=("way",), way_locations=True)
    assert "way_lats" in ways.columns and "lat" not in ways.columns
    assert ways.collect()[0]["way_lats"] == row["way_lats"]


def test_corrupt_blob_error_names_blob(spark):
    """A blob whose zlib stream is corrupt fails the decode task, and
    the PythonException the action raises names that blob's blob_seq."""
    from pyspark.errors import PythonException

    from pbf_spark.model.schema import MEDIA_BLOB_SCHEMA
    from pbf_spark.util import small_df
    from pbf_spark.wire import frame
    from pbf_spark.wire.osmformat import encode_block

    from .conftest import entity_table

    raw = encode_block("way", entity_table("way", [dict(id=7, refs=[10, 25])]))
    good = frame.compress_payload(raw)
    rows = [
        ("m0", seq, "OSMData", "zlib", len(raw), bytearray(payload))
        for seq, payload in ((40, good), (41, b"\x00" + good[1:]))
    ]
    blob_df = small_df(spark, rows, MEDIA_BLOB_SCHEMA)
    assert decode.decode_blobs(blob_df.where("blob_seq = 40")).count() == 1
    with pytest.raises(PythonException, match="blob_seq=41"):
        decode.decode_blobs(blob_df).collect()


def test_assemble_way_geometries(entities, fixture_manifest):
    """Way-geometry assembly (refs → node join → ordered arrays): every
    fixture way resolves all refs; spot-check coordinate order against a
    local pandas join."""
    from pbf_spark.operators.ways import assemble_way_geometries

    nodes = entities.where("entity_type='node'").select("id", "lat", "lon")
    ways = entities.where("entity_type='way'").select("id", "refs")
    asm = assemble_way_geometries(ways, nodes).cache()
    assert asm.count() == fixture_manifest["counts"]["way"]
    assert asm.where("n_missing > 0").count() == 0

    sample = {r["id"]: r for r in asm.limit(50).collect()}
    node_xy = {
        r["id"]: (r["lat"], r["lon"])
        for r in nodes.join(
            ways.where(F.col("id").isin(*sample)).select(F.explode("refs").alias("id")).distinct(),
            "id",
        ).collect()
    }
    for w in ways.where(F.col("id").isin(*sample)).collect():
        got = sample[w["id"]]
        exp = [node_xy[r] for r in w["refs"]]
        assert got["way_lats"] == [e[0] for e in exp]
        assert got["way_lons"] == [e[1] for e in exp]
    asm.unpersist()


def test_way_lengths_match_numpy(entities):
    """Catalyst haversine polyline length == the numpy geometry helper
    on assembled fixture ways (and 0 for degenerate/missing arrays)."""
    import numpy as np

    from pbf_spark.operators.ways import assemble_way_geometries, with_way_lengths
    from pbf_spark.spatial import geometry

    nodes = entities.where("entity_type='node'").select("id", "lat", "lon")
    ways = entities.where("entity_type='way'").select("id", "refs").limit(200)
    got = with_way_lengths(assemble_way_geometries(ways, nodes)).collect()
    assert len(got) == 200
    for r in got:
        la, lo = np.array(r["way_lats"]), np.array(r["way_lons"])
        exp = float(geometry.haversine_m(la[:-1], lo[:-1], la[1:], lo[1:]).sum()) if la.size > 1 else 0.0
        assert abs(r["length_m"] - exp) <= max(1e-6 * exp, 1e-6)
    assert sum(r["length_m"] for r in got) > 0


def test_assemble_way_geometries_missing_nodes(spark):
    """Clipped extracts: refs to absent nodes close the gap and are
    counted; ways with no resolvable node drop under how='inner'."""
    from pbf_spark.operators.ways import assemble_way_geometries
    from pbf_spark.util import small_df

    ways = small_df(
        spark,
        [(1, [10, 99, 11]), (2, [98, 99])],
        "id long, refs array<long>",
    )
    nodes = small_df(
        spark, [(10, 1.0, 2.0), (11, 3.0, 4.0)], "id long, lat double, lon double"
    )
    got = {r["id"]: r for r in assemble_way_geometries(ways, nodes).collect()}
    assert got[1]["way_lats"] == [1.0, 3.0] and got[1]["n_missing"] == 1
    assert 2 not in got
    left = {r["id"]: r for r in assemble_way_geometries(ways, nodes, how="left").collect()}
    assert left[2]["way_lats"] == [] and left[2]["n_missing"] == 2


def test_node_fields(entities, fixture_manifest):
    bbox = fixture_manifest["bbox"]
    stats = entities.filter("entity_type='node'").agg(
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
        F.count(F.when(F.col("lat").isNull(), 1)).alias("null_lat"),
        F.count(F.when(F.col("info").isNull(), 1)).alias("null_info"),
        F.sum(F.when(~F.col("info.visible"), 1).otherwise(0)).alias("invisible"),
    ).first()
    assert stats["null_lat"] == 0 and stats["null_info"] == 0
    assert stats["min_lat"] >= bbox["bottom"] - 1e-6
    assert stats["max_lat"] <= bbox["top"] + 1e-6
    assert stats["min_lon"] >= bbox["left"] - 1e-6
    assert stats["max_lon"] <= bbox["right"] + 1e-6
    assert stats["invisible"] > 0  # HistoricalInformation path exercised


def test_lat_nano_bit_exact(entities):
    """lat == lat_nano * 1e-9 exactly (nano-degree fixed point carried through)."""
    bad = entities.filter("entity_type='node'").filter(
        (F.col("lat") != F.col("lat_nano") * F.lit(1e-9))
        | (F.col("lon") != F.col("lon_nano") * F.lit(1e-9))
    )
    assert bad.count() == 0


def test_way_and_relation_shape(entities):
    ways = entities.filter("entity_type='way'")
    assert ways.filter(F.size("refs") < 2).count() == 0
    assert ways.filter(F.col("lat").isNotNull()).count() == 0
    rels = entities.filter("entity_type='relation'")
    member_types = {
        r["t"]
        for r in rels.select(F.explode("members").alias("m"))
        .select(F.col("m.type").alias("t"))
        .distinct()
        .collect()
    }
    assert member_types <= {"node", "way", "relation"}


def test_tags_sorted_by_key(entities):
    """Tags array is key-sorted (canonical form for deterministic digests)."""
    unsorted = entities.filter(F.size("tags") > 1).filter(
        F.exists(
            F.zip_with(
                F.slice(F.col("tags.key"), 1, F.size("tags") - 1),
                F.slice(F.col("tags.key"), 2, F.size("tags") - 1),
                lambda a, b: a > b,
            ),
            lambda x: x,
        )
    )
    assert unsorted.count() == 0


def test_provenance_roundtrip(entities, spark, fixture_dir):
    """Every entity row traces back to exactly one media span of its doc —
    and the span sequence itself is untouched by decode (read-only input)."""
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    spans = docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
    media = spans.filter(F.col("span.kind") == "media").select("doc_id", "span_idx")
    orphans = entities.join(media, ["doc_id", "span_idx"], "left_anti")
    assert orphans.count() == 0
    # offsets within each doc are strictly increasing (span order invariant)
    bad_order = docs.filter(
        F.exists(
            F.zip_with(
                F.slice(F.col("spans.offset"), 1, F.size("spans") - 1),
                F.slice(F.col("spans.offset"), 2, F.size("spans") - 1),
                lambda a, b: a >= b,
            ),
            lambda x: x,
        )
    )
    assert bad_order.count() == 0


def test_decode_is_narrow(spark, fixture_dir):
    """decode_blobs adds no shuffle: plan has no Exchange above the scan."""
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    plan = decode.decode_blobs(blobs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_degrees_scalar_functions(spark):
    """A28 completion: E5/E6/E7 half-away rounding, DMS formatting,
    ParseDegrees (reference model/types.go:62-139 + types_test.go)."""
    import pandas as pd

    from pbf_spark.model import degrees as D

    df = spark.createDataFrame(
        pd.DataFrame({"d": [51.7668597, -0.2353761, 0.5e-7, -0.5e-7, 1.0, -1.5]})
    )
    got = df.select(
        D.degrees_e5("d").alias("e5"),
        D.degrees_e6("d").alias("e6"),
        D.degrees_e7("d").alias("e7"),
        D.degrees_coordinate("d").alias("nano"),
        D.dms_string(F.col("d")).alias("dms"),
        D.parse_degrees(F.lit("51.7668597")).alias("parsed"),
        D.equal_within(F.col("d"), F.col("d") + 1e-10).alias("eq9"),
    ).collect()
    assert [r["e7"] for r in got] == [517668597, -2353761, 1, -1, 10000000, -15000000]
    assert got[0]["e5"] == 5176686 and got[0]["e6"] == 51766860
    assert got[0]["nano"] == int(51.7668597 * 1e9)  # Go int64() truncation semantics
    assert got[4]["dms"] == "1° 0' 0\""
    assert got[5]["dms"] == "-1° 30' 0\""
    assert got[0]["parsed"] == 51.7668597
    assert all(r["eq9"] for r in got)


def test_mid_stream_cancellation(spark, fixture_dir):
    """Reference decoder_integration_test.go:41-88 analogue: cancelling a
    decode mid-stream aborts promptly with an error and leaves the
    session healthy for the next query (Spark's mapped primitive is job
    cancellation via job groups)."""
    import threading
    import time

    from pbf_spark.operators import decode as dec
    from pbf_spark.sources import iceberg_lite

    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    # replicate so the job runs long enough to be caught mid-flight
    big = docs
    for _ in range(8):
        big = big.unionAll(big)
    entities = dec.decode_documents(big, blobs)

    err: list[Exception] = []

    def run():
        spark.sparkContext.setJobGroup("cancel-me", "mid-stream cancel test")
        try:
            entities.write.format("noop").mode("overwrite").save()
        except Exception as e:  # expected: cancelled
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    time.sleep(1.5)  # let planning finish / tasks start
    # cancelJobGroup only aborts ACTIVE jobs — keep cancelling so the
    # cancel can't race ahead of job submission
    for _ in range(120):
        spark.sparkContext.cancelJobGroup("cancel-me")
        t.join(timeout=0.5)
        if not t.is_alive():
            break
    assert not t.is_alive(), "cancelled job did not terminate"
    assert err, "cancellation did not surface as an error"
    assert "cancel" in str(err[0]).lower()
    # session stays usable
    assert docs.count() > 0


def test_tag_filter_pushdown_matches_spark_filter(spark, fixture_dir, entities):
    """Decode-side tag predicate pushdown (decode.py _tag_filter_mask +
    ``Table.filter`` on the block tables): the filtered decode must equal the
    unfiltered decode filtered in Spark — rows, tags, ragged payloads
    (refs/members) intact — for both key-presence and key=value forms."""
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")

    def canon(df):
        return sorted(
            (
                r["entity_type"],
                r["id"],
                tuple(sorted((t["key"], t["value"]) for t in (r["tags"] or []))),
                tuple(r["refs"] or []),
                tuple((m["ref"], m["type"], m["role"]) for m in (r["members"] or [])),
            )
            for r in df.collect()
        )

    sel = "entity_type", "id", "tags", "refs", "members"

    # key-presence filter
    pushed = decode.decode_documents(docs, blobs, tag_filter=["highway"]).select(*sel)
    expected = entities.where(
        F.exists("tags", lambda t: t["key"] == F.lit("highway"))
    ).select(*sel)
    assert canon(pushed) == canon(expected)
    assert pushed.count() > 0

    # key=value filter
    pushed_v = decode.decode_documents(
        docs, blobs, tag_filter={"highway": ("primary", "footway")}
    ).select(*sel)
    expected_v = entities.where(
        F.exists(
            "tags",
            lambda t: (t["key"] == F.lit("highway"))
            & t["value"].isin("primary", "footway"),
        )
    ).select(*sel)
    assert canon(pushed_v) == canon(expected_v)
    assert pushed_v.count() > 0

    # filter on a key absent from the corpus -> empty, not an error
    assert decode.decode_documents(docs, blobs, tag_filter=["no_such_key"]).count() == 0

    # a bare string is one key, or one value
    assert canon(decode.decode_documents(docs, blobs, tag_filter="highway").select(*sel)) == canon(pushed)
    one_value = decode.decode_documents(docs, blobs, tag_filter={"highway": "primary"}).select(*sel)
    expected_one = entities.where(
        F.exists("tags", lambda t: (t["key"] == F.lit("highway")) & (t["value"] == F.lit("primary")))
    ).select(*sel)
    assert canon(one_value) == canon(expected_one)
    assert expected_one.count() > 0
