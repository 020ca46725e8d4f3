"""Spark-level spatial operator tests against slow exact numpy oracles.

Per FIXTURES.md §3: expected outputs come from O(n·m) exhaustive oracles
computed in the test, never from the engine under test.
"""

from pathlib import Path

import numpy as np
import pyspark.sql.functions as F
import pytest

from __spark_entry__ import SF0001
from pbf_spark import queries as Q
from pbf_spark.operators import decode, knn, spatial, tiles
from pbf_spark.sources import iceberg_lite
from pbf_spark.spatial import geometry
from pbf_spark.util import small_df

# the sf0.01 tables sit next to the sf0.001 ones
SF001 = str(Path(SF0001).with_name("sf0.01"))


@pytest.fixture(scope="module")
def nodes(spark, fixture_dir):
    docs = iceberg_lite.read_table(spark, fixture_dir / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, fixture_dir / "media_blobs")
    df = (
        decode.decode_documents(docs, blobs)
        .filter("entity_type='node'")
        .select("id", "lat", "lon", "lat_nano", "lon_nano")
        .cache()
    )
    df.count()
    return df


@pytest.fixture(scope="module")
def nodes_np(nodes):
    pdf = nodes.toPandas().sort_values("id")
    return (
        pdf["id"].to_numpy(np.int64),
        pdf["lat"].to_numpy(np.float64),
        pdf["lon"].to_numpy(np.float64),
    )


def test_with_cells_deterministic(nodes):
    a = spatial.with_cells(nodes).select("id", "s2_cell", "hex_cell")
    b = spatial.with_cells(nodes.repartition(13)).select("id", "s2_cell", "hex_cell")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.filter("s2_cell is null or hex_cell is null").count() == 0


def test_pip_join_matches_exhaustive_oracle(spark, fixture_dir, nodes, nodes_np):
    polys = spark.read.parquet(str(fixture_dir / "polygons.parquet"))
    got = (
        spatial.point_in_polygon_join(nodes, polys)
        .select("polygon_id", "id")
        .toPandas()
    )
    got_pairs = set(map(tuple, got.itertuples(index=False)))

    ids, lat, lon = nodes_np
    expected = set()
    for prow in polys.collect():
        ring = np.array([[p["lat"], p["lon"]] for p in prow["ring"]])
        inside = geometry.points_in_ring(lat, lon, ring)
        expected.update((prow["polygon_id"], int(i)) for i in ids[inside])
    assert got_pairs == expected
    assert len(expected) > 100  # fixture sanity: polygons actually cover nodes


def test_pip_join_auto_level_identical_results(spark, fixture_dir, nodes):
    """level=None (data-driven per-polygon prefilter) must produce the
    SAME join rows as the manual level-13 config — the level is purely a
    perf knob (covering is always a superset prefilter)."""
    polys = spark.read.parquet(str(fixture_dir / "polygons.parquet"))
    index = spatial.build_polygon_index(spark, polys, level=None)
    auto = (
        spatial.point_in_polygon_join(nodes, index, level=None)
        .select("polygon_id", "id")
    )
    manual = (
        spatial.point_in_polygon_join(nodes, polys, level=13)
        .select("polygon_id", "id")
    )
    assert auto.exceptAll(manual).isEmpty() and manual.exceptAll(auto).isEmpty()


@pytest.fixture(scope="module")
def star_case(spark):
    """sf0.01 event points, the declared star polygon, and the ids of
    the points inside it by brute-force ray cast."""
    pts = Q.event_points(spark, SF001).cache()
    pdf = pts.toPandas()
    inside = geometry.points_in_ring(
        pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), np.array(Q.POLYGON)
    )
    star = small_df(
        spark,
        [("star", [{"lat": la, "lon": lo} for la, lo in Q.POLYGON], "test")],
        "polygon_id string, ring array<struct<lat:double,lon:double>>, category string",
    )
    yield pts, star, sorted(pdf["id"].to_numpy()[inside].tolist())
    pts.unpersist()


def test_pip_join_auto_level_star_no_duplicate_rows(spark, star_case):
    """Data-driven covering of the star polygon: each inside point joins
    exactly once (a covering cell nested under another covering cell
    would emit its points twice)."""
    pts, star, expected = star_case
    index = spatial.build_polygon_index(spark, star, level=None)
    got = [r["id"] for r in spatial.point_in_polygon_join(pts, index, level=None).select("id").collect()]
    assert sorted(got) == expected
    assert len(expected) > 1000  # sanity: the star holds many points


def test_pip_join_ignores_callers_s2_cell_column(star_case):
    """A caller's ``s2_cell`` column at another level must not be taken
    as the join's prefilter cell."""
    pts, star, expected = star_case
    coarse = spatial.with_cells(pts, s2_level=10)
    got = spatial.point_in_polygon_join(coarse, star, level=13, keep_polygon_cols=())
    assert sorted(r["id"] for r in got.select("id").collect()) == expected
    assert "s2_cell" in got.columns and "_pip_cell" not in got.columns


def test_pip_join_holes_matches_exhaustive_oracle(spark, nodes, nodes_np):
    """Multi-ring polygon (outer + hole): engine join must equal the
    exhaustive even-odd oracle over the concatenated edges — points
    inside the hole excluded, hole-aware covering never misclassifies."""
    from pbf_spark.util import small_df

    # ring vertex counts intentionally DIFFER (5 vs 4): Spark's
    # arrow→pandas path chokes on inhomogeneous array<array<struct>>,
    # which is why the covering runs via mapInArrow
    outer = [(51.30, -0.40), (51.30, 0.20), (51.70, 0.20), (51.72, -0.10), (51.70, -0.40)]
    hole = [(51.40, -0.25), (51.55, -0.25), (51.55, -0.05), (51.40, -0.05)]
    poly = small_df(
        spark,
        [(
            "holed",
            [
                [{"lat": la, "lon": lo} for la, lo in outer],
                [{"lat": la, "lon": lo} for la, lo in hole],
            ],
            "test",
        )],
        "polygon_id string, rings array<array<struct<lat:double,lon:double>>>, category string",
    )
    got = (
        spatial.point_in_polygon_join(nodes, poly, keep_polygon_cols=())
        .select("polygon_id", "id")
        .toPandas()
    )
    got_pairs = set(map(tuple, got.itertuples(index=False)))
    ids, lat, lon = nodes_np
    inside = geometry.points_in_ring(lat, lon, np.array(outer)) ^ geometry.points_in_ring(
        lat, lon, np.array(hole)
    )
    in_hole = geometry.points_in_ring(lat, lon, np.array(hole))
    expected = {("holed", int(i)) for i in ids[inside]}
    assert got_pairs == expected
    assert in_hole.sum() > 50  # fixture sanity: the hole actually excludes nodes
    assert not any(("holed", int(i)) in got_pairs for i in ids[in_hole])


def test_knn_matches_exhaustive_oracle(spark, fixture_dir, nodes, nodes_np):
    queries = spark.read.parquet(str(fixture_dir / "query_points.parquet")).limit(60)
    k = 5
    got = knn.knn_join(nodes, queries, k=k).toPandas()
    ids, lat, lon = nodes_np

    for qrow in queries.collect():
        d = geometry.haversine_m(np.full(len(lat), qrow["lat"]), np.full(len(lon), qrow["lon"]), lat, lon)
        order = np.lexsort((ids, d))[:k]
        expect_ids = list(ids[order])
        sub = got[got.query_id == qrow["query_id"]].sort_values("rank")
        assert list(sub["id"]) == expect_ids, f"query {qrow['query_id']}"
        np.testing.assert_allclose(sub["dist_m"].to_numpy(), d[order], rtol=1e-9)


def test_haversine_sql_matches_numpy(spark):
    """Catalyst ``haversine_sql`` (the kNN/range refine, way lengths, ring
    perimeters) equals numpy ``haversine_m`` within 4 ulps on city-scale
    pairs; identical points give exactly 0.0 and antipodal points a
    finite πR — numpy's unclipped term exceeds 1 for some of them, which
    would make asin NaN without the [0, 1] clip."""
    import pandas as pd

    rng = np.random.default_rng(6)
    lat1, lon1 = rng.uniform(51.28, 51.70, 20000), rng.uniform(-0.51, 0.33, 20000)
    lat2, lon2 = lat1 + rng.uniform(-0.05, 0.05, 20000), lon1 + rng.uniform(-0.08, 0.08, 20000)
    a_lat, a_lon = rng.uniform(-80.0, 80.0, 200), rng.uniform(-179.0, 0.0, 200)
    pdf = pd.DataFrame({
        "lat1": np.concatenate([lat1, lat1[:100], a_lat]),
        "lon1": np.concatenate([lon1, lon1[:100], a_lon]),
        "lat2": np.concatenate([lat2, lat1[:100], -a_lat]),
        "lon2": np.concatenate([lon2, lon1[:100], a_lon + 180.0]),
    })
    got = spark.createDataFrame(pdf).select(F.expr(geometry.haversine_sql(*pdf.columns))).toPandas()
    got, exp = got.iloc[:, 0].to_numpy(), geometry.haversine_m(*(pdf[c].to_numpy() for c in pdf))

    assert np.abs(got[:20000].view(np.int64) - exp[:20000].view(np.int64)).max() <= 4
    assert (got[20000:20100] == 0.0).all()
    p1, dl = np.radians(a_lat), np.radians(a_lon + 180.0) - np.radians(a_lon)
    assert (np.sin(-p1) ** 2 + np.cos(p1) ** 2 * np.sin(dl / 2.0) ** 2 > 1.0).any()
    anti = got[20100:]
    assert np.isfinite(anti).all()
    np.testing.assert_allclose(anti, np.pi * geometry.EARTH_RADIUS_M, rtol=0, atol=1.0)


def test_knn_exactly_k_rows_per_query(spark, fixture_dir, nodes):
    queries = spark.read.parquet(str(fixture_dir / "query_points.parquet")).limit(60)
    got = knn.knn_join(nodes, queries, k=5)
    counts = got.groupBy("query_id").count()
    assert counts.filter("count != 5").count() == 0
    assert counts.count() == 60


def _ulps(a, b) -> int:
    return int(np.abs(np.asarray(a).view(np.int64) - np.asarray(b).view(np.int64)).max(initial=0))


@pytest.mark.parametrize("start_ring", [1, 3, 4, 8])
def test_knn_any_ring_matches_brute_force(spark, fixture_dir, nodes, nodes_np, start_ring):
    """Every ring returns the exhaustive answer; only the share of
    queries that take the brute-force pass changes. Ring 1 covers no
    disc (``covered_m`` is 0), so every query goes brute force; the two
    queries ≥ 20 km from every point have no candidate at any ring; a
    3-point cloud with k=5 gives each query 3 rows."""
    import pandas as pd

    from pbf_spark.spatial import hexgrid

    assert hexgrid.covered_m(knn.RES, 1) == 0.0
    ids, lat, lon = nodes_np
    qp = spark.read.parquet(str(fixture_dir / "query_points.parquet")).limit(20).toPandas()
    far = pd.DataFrame({"query_id": [10**6, 10**6 + 1], "lat": [52.2, 51.5], "lon": [-0.1, 1.0]})
    for r in far.itertuples():
        assert geometry.haversine_m(r.lat, r.lon, lat, lon).min() >= 20_000.0
    qp = pd.concat([qp[["query_id", "lat", "lon"]], far], ignore_index=True)
    queries = spark.createDataFrame(qp)
    cloud = pd.DataFrame({"id": ids[:3], "lat": lat[:3], "lon": lon[:3]})

    for pts, (p_ids, p_lat, p_lon), k in [
        (nodes, nodes_np, 5),
        (spark.createDataFrame(cloud), (ids[:3], lat[:3], lon[:3]), 5),
    ]:
        got = knn.knn_join(pts, queries, k=k, start_ring=start_ring).toPandas()
        assert len(got) == len(qp) * min(k, len(p_ids))
        for q in qp.itertuples():
            d = geometry.haversine_m(q.lat, q.lon, p_lat, p_lon)
            order = np.lexsort((p_ids, d))[:k]
            sub = got[got.query_id == q.query_id].sort_values("rank")
            assert list(sub["id"]) == list(p_ids[order]), f"query {q.query_id}"
            assert list(sub["rank"]) == list(range(1, len(order) + 1))
            assert _ulps(sub["dist_m"].to_numpy(), d[order]) <= 4


@pytest.mark.parametrize("radius_m", [30.0, 500.0, 3000.0, 20_000.0])
def test_range_join_matches_brute_force(spark, fixture_dir, nodes, nodes_np, radius_m):
    """The exact pair set within ``radius_m``, at the resolutions the
    pick lands on: 30 m and 500 m at res 9 (3 and 5 rings), 3 km at
    res 8, 20 km at res 6; ``dist_m`` within 4 ulps of numpy. Half the
    queries sit on nodes, so even 30 m has hits."""
    import pandas as pd

    ids, lat, lon = nodes_np
    on_nodes = pd.DataFrame({"query_id": 10**6 + ids[::900], "lat": lat[::900], "lon": lon[::900]})
    queries = spark.createDataFrame(pd.concat([
        spark.read.parquet(str(fixture_dir / "query_points.parquet")).limit(10)
        .select("query_id", "lat", "lon").toPandas(),
        on_nodes,
    ], ignore_index=True))
    got = knn.range_join(nodes, queries, radius_m).toPandas()
    expect = {}
    for q in queries.collect():
        d = geometry.haversine_m(q["lat"], q["lon"], lat, lon)
        expect.update({(q["query_id"], int(i)): x for i, x in zip(ids[d <= radius_m], d[d <= radius_m])})
    pairs = dict(zip(zip(got["query_id"], got["id"]), got["dist_m"]))
    assert len(pairs) == len(got)
    assert pairs.keys() == expect.keys()
    assert len(expect) > len(on_nodes), "fixture sanity: pairs beyond the on-node queries themselves"
    keys = list(expect)
    assert _ulps([pairs[p] for p in keys], [expect[p] for p in keys]) <= 4


@pytest.mark.parametrize("radius_m", [float("nan"), float("inf")])
def test_range_join_rejects_unbounded_radius(nodes, radius_m):
    with pytest.raises(ValueError, match="finite"):
        knn.range_join(nodes, nodes, radius_m)


def test_tiles_partition_invariant(nodes):
    t1 = tiles.materialize_tiles(nodes, tile_level=10, raster_bits=5)
    t2 = tiles.materialize_tiles(nodes.repartition(17), tile_level=10, raster_bits=5)
    p1 = t1.orderBy("tile_cell").toPandas()
    p2 = t2.orderBy("tile_cell").toPandas()
    assert list(p1["tile_cell"]) == list(p2["tile_cell"])
    for a, b in zip(p1["raster"], p2["raster"]):
        assert list(a) == list(b)
    # conservation: every node lands in exactly one bin
    assert int(p1["n_points"].sum()) == nodes.count()


def test_tiles_match_oracle_binning(nodes, nodes_np):
    from pbf_spark.spatial import s2 as s2m

    t = tiles.materialize_tiles(nodes, tile_level=10, raster_bits=5).toPandas()
    ids, lat, lon = nodes_np
    fine = s2m.lat_lon_to_cell_id(lat, lon, 15)
    shift = 2 * (s2m.MAX_LEVEL - 15) + 1
    pos = (fine.astype(np.uint64) >> np.uint64(shift)).astype(np.int64)
    bins = pos & 1023
    tile_pos = pos >> 10
    tile_ids = (tile_pos << np.int64(2 * (s2m.MAX_LEVEL - 10) + 1)) + (
        1 << (2 * (s2m.MAX_LEVEL - 10))
    )
    for tile in np.unique(tile_ids)[:20]:
        m = tile_ids == tile
        oracle = np.zeros(1024, dtype=np.int64)
        np.add.at(oracle, bins[m], 1)
        row = t[t.tile_cell == tile]
        assert len(row) == 1
        assert list(row.iloc[0]["raster"]) == oracle.tolist()


def test_raster_to_vector_roundtrip(nodes):
    t = tiles.materialize_tiles(nodes, tile_level=10, raster_bits=5)
    v = tiles.raster_to_vector(t, tile_level=10, raster_bits=5)
    # total count preserved, every vector point re-indexes into its own tile
    assert v.agg(F.sum("n")).first()[0] == nodes.count()
    back = spatial.with_cells(v, s2_level=10).filter(F.col("s2_cell") != F.col("tile_cell"))
    assert back.count() == 0


def test_knn_exact_at_icosahedron_seams(spark):
    """Brute-force parity with query points ON icosahedron edges and a
    point cloud straddling the seams (ADVICE round-1: k-ring coverage at
    face boundaries). Seam padding + the provable gnomonic margin must
    keep the neighbor sets exact."""
    from pbf_spark.spatial import hexgrid
    from pbf_spark.spatial.geometry import haversine_m, unit_xyz_to_latlon

    rng = np.random.default_rng(99)
    # midpoints of the first 6 icosahedron edges = exact seam points
    seams = []
    for a, b, c in hexgrid._FACES[:6]:
        m = (hexgrid._VERTS[a] + hexgrid._VERTS[b]) / 2.0
        m = m / np.linalg.norm(m)
        seams.append(unit_xyz_to_latlon(m[0], m[1], m[2]))
    q_lat = np.array([s[0] for s in seams], dtype=np.float64)
    q_lon = np.array([s[1] for s in seams], dtype=np.float64)
    # cloud: 400 points within ~3 km of each seam point (res-9 cells ~350m)
    p_lat = np.repeat(q_lat, 400) + rng.uniform(-0.03, 0.03, 2400)
    p_lon = np.repeat(q_lon, 400) + rng.uniform(-0.03, 0.03, 2400)
    pts = spark.createDataFrame(
        __import__("pandas").DataFrame(
            {"id": np.arange(2400), "lat": p_lat, "lon": p_lon}
        )
    )
    queries = spark.createDataFrame(
        __import__("pandas").DataFrame(
            {"query_id": np.arange(len(seams)), "lat": q_lat, "lon": q_lon}
        )
    )
    got = knn.knn_join(pts, queries, k=5).toPandas().sort_values(["query_id", "rank"])
    for qi in range(len(seams)):
        d = haversine_m(q_lat[qi], q_lon[qi], p_lat, p_lon)
        order = np.lexsort((np.arange(2400), d))[:5]
        expected = list(np.arange(2400)[order])
        assert list(got[got["query_id"] == qi]["id"]) == expected, f"query {qi}"
