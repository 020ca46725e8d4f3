"""Unit tests for the from-scratch spatial math (numpy level)."""

import numpy as np
import pytest

from pbf_spark.spatial import geometry, hexgrid, s2


def test_haversine_known():
    # London → Paris ≈ 344 km (published great-circle distance)
    d = geometry.haversine_m(np.array([51.5007]), np.array([-0.1246]), np.array([48.8566]), np.array([2.3522]))
    assert d[0] == pytest.approx(334_000, rel=0.02) or d[0] == pytest.approx(344_000, rel=0.03)
    assert geometry.haversine_m(np.array([0.0]), np.array([0.0]), np.array([0.0]), np.array([0.0]))[0] == 0.0


def test_haversine_equator_degree():
    # 1 degree of longitude at the equator ≈ 111.19 km
    d = geometry.haversine_m(np.array([0.0]), np.array([0.0]), np.array([0.0]), np.array([1.0]))
    assert d[0] == pytest.approx(111_195, rel=1e-3)


def test_pip_square_and_star():
    square = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0]])
    lat = np.array([5.0, 15.0, 5.0, -1.0])
    lon = np.array([5.0, 5.0, 11.0, 5.0])
    assert list(geometry.points_in_ring(lat, lon, square)) == [True, False, False, False]
    star = np.array([[0, 0], [2, 1], [4, 0], [3, 2], [4, 4], [2, 3], [0, 4], [1, 2]])
    got = geometry.points_in_ring(np.array([2.0, 2.0]), np.array([2.0, 3.9]), star)
    assert list(got) == [True, False]  # center in, notch out


def test_pip_shared_edge_no_double_count():
    """Half-open rule: a point on a shared vertical edge is in exactly one."""
    left = np.array([[0.0, 0.0], [0.0, 5.0], [10.0, 5.0], [10.0, 0.0]])
    right = np.array([[0.0, 5.0], [0.0, 10.0], [10.0, 10.0], [10.0, 5.0]])
    lat, lon = np.array([5.0]), np.array([5.0])
    n = int(geometry.points_in_ring(lat, lon, left)[0]) + int(
        geometry.points_in_ring(lat, lon, right)[0]
    )
    assert n == 1


@pytest.mark.parametrize("level", [5, 13, 20, 30])
def test_s2_roundtrip(level):
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 5000)
    lon = rng.uniform(-180, 180, 5000)
    c = s2.lat_lon_to_cell_id(lat, lon, level)
    assert (s2.cell_id_level(c) == level).all()
    clat, clon = s2.cell_id_to_center(c, level)
    assert (s2.lat_lon_to_cell_id(clat, clon, level) == c).all()
    d = geometry.haversine_m(lat, lon, clat, clon)
    assert d.max() < s2.cell_size_m(level)


def test_s2_parent_containment():
    rng = np.random.default_rng(8)
    lat = rng.uniform(-85, 85, 5000)
    lon = rng.uniform(-180, 180, 5000)
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    for parent_level in (5, 10, 12):
        assert (
            s2.parent_cell_id(c13, 13, parent_level)
            == s2.lat_lon_to_cell_id(lat, lon, parent_level)
        ).all()


def test_s2_known_cell():
    """Central London at level 13 lies in the canonical 0x4876... S2 region
    (published S2 cell ids for London start with face 2, pos 0x43b...)."""
    c = s2.lat_lon_to_cell_id(np.array([51.5007]), np.array([-0.1246]), 13)
    assert (int(c[0]) >> 56) & 0xFF == 0x48


def test_s2_face_centers():
    """Face centers map to the canonical axes."""
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    c = s2.lat_lon_to_cell_id(lat, lon, 0)
    faces = (np.asarray(c, np.int64) >> 61) & 7
    assert list(faces) == [0, 1, 2, 3, 4, 5]


def test_hex_roundtrip_and_area():
    rng = np.random.default_rng(9)
    lat = rng.uniform(-85, 85, 20000)
    lon = rng.uniform(-180, 180, 20000)
    c = hexgrid.geo_to_cell(lat, lon, 9)
    clat, clon = hexgrid.cell_to_geo(c)
    same = (hexgrid.geo_to_cell(clat, clon, 9) == c).mean()
    assert same > 0.995  # mismatches only at icosahedron seams (documented)
    d = geometry.haversine_m(lat, lon, clat, clon)
    assert d.max() < 2.5 * hexgrid.hex_edge_m(9)
    # res-9 area calibrated to H3 res 9 (~0.105 km²)
    e = hexgrid.hex_edge_m(9)
    assert 3 * np.sqrt(3) / 2 * e * e / 1e6 == pytest.approx(0.105, rel=0.05)


def test_hex_kring_coverage():
    rng = np.random.default_rng(10)
    c0 = hexgrid.geo_to_cell(np.array([51.5]), np.array([-0.12]), 9)
    ring = set(hexgrid.k_ring_cells(c0, 3)[0].tolist())
    assert len(ring) == 37  # filled 3-ring of a hexagon = 1+6+12+18
    nl = 51.5 + rng.uniform(-0.004, 0.004, 2000)
    nn = -0.12 + rng.uniform(-0.006, 0.006, 2000)
    d = geometry.haversine_m(np.full(2000, 51.5), np.full(2000, -0.12), nl, nn)
    cells = hexgrid.geo_to_cell(nl, nn, 9)
    near = d < 2.5 * hexgrid.hex_min_width_m(9)
    inside = np.isin(cells, list(ring))
    assert inside[near].all()


def test_hex_parent_consistency():
    rng = np.random.default_rng(11)
    lat = 51.4 + rng.uniform(0, 0.2, 5000)
    lon = -0.2 + rng.uniform(0, 0.3, 5000)
    c9 = hexgrid.geo_to_cell(lat, lon, 9)
    p8 = hexgrid.parent_cell(c9, 8)
    # children of one parent are within ~1 parent-hex of the parent center
    plat, plon = hexgrid.cell_to_geo(p8)
    clat, clon = hexgrid.cell_to_geo(c9)
    d = geometry.haversine_m(plat, plon, clat, clon)
    assert d.max() < 1.5 * hexgrid.hex_edge_m(8)
    # ~7 children per parent on average (aperture 7)
    ratio = len(np.unique(c9)) / len(np.unique(p8))
    assert 4.0 < ratio < 10.0


def test_hexgrid_sql_twin_matches_numpy():
    """DuckDB twin (hexgrid_expr) must be bit-exact vs numpy geo_to_cell,
    globally (includes face seams / poles region)."""
    import duckdb
    import pandas as pd

    from pbf_spark.spatial import hexgrid
    from pbf_spark.spatial.hexgrid_expr import hex_cell_sql_duckdb

    rng = np.random.default_rng(7)
    n = 5000
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-180.0, 180.0, n)
    for res in (7, 9):
        expected = hexgrid.geo_to_cell(lat, lon, res)
        con = duckdb.connect()
        con.register("pts_in", pd.DataFrame({"id": np.arange(n), "lat": lat, "lon": lon}))
        sql = (
            "SELECT id, hex_cell FROM "
            + hex_cell_sql_duckdb("lat", "lon", res).format(src="pts_in")
            + " ORDER BY id"
        )
        got = con.sql(sql).df()["hex_cell"].to_numpy()
        assert (got == expected).all()


def test_adaptive_covering_superset_and_interior_exactness():
    """Every level-13 cell holding an inside point must be covered by a
    returned cell (prefilter superset); points in interior-flagged cells
    must ALL be inside (the refine-skip guarantee)."""
    from pbf_spark.spatial import covering

    rng = np.random.default_rng(11)
    ring = np.array(
        [(51.36, -0.30), (51.45, -0.22), (51.60, -0.33), (51.52, -0.15),
         (51.63, 0.05), (51.50, 0.02), (51.42, 0.16), (51.44, -0.05)]
    )
    ids, lvl, inner = covering.polygon_covering(ring)
    lat_min, lat_max, lon_min, lon_max = geometry.ring_bbox(ring)
    lat = rng.uniform(lat_min - 0.1, lat_max + 0.1, 100000)
    lon = rng.uniform(lon_min - 0.1, lon_max + 0.1, 100000)
    inside = geometry.points_in_ring(lat, lon, ring)
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    matched = np.zeros(lat.size, dtype=bool)
    int_match = np.zeros(lat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv) if lv < 13 else c13
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    assert not (inside & ~matched).any()
    assert not (int_match & ~inside).any()


def test_pick_finest_level_perimeter_budget():
    """Data-driven finest level (perimeter budget, the measured winner —
    BASELINE.md "PIP prefilter level"): a small city polygon earns the
    level-16 rung of the AUTO ladder (its boundary estimate fits the
    budget and over-fetch dominates broadcast cost on dense point
    clouds), while a country-scale ring lands at a coarse finest level
    and keeps coarse interior rungs. The opt-in vertex-scaled budget
    (cells_per_vertex) picks coarser for few-vertex polygons."""
    from pbf_spark.spatial import covering

    city = np.array(
        [(51.36, -0.30), (51.45, -0.22), (51.60, -0.33), (51.52, -0.15),
         (51.63, 0.05), (51.50, 0.02), (51.42, 0.16), (51.44, -0.05)]
    )
    assert covering.pick_finest_level(city, covering.AUTO_LEVELS) == 16
    th = np.linspace(0, 2 * np.pi, 400, endpoint=False)
    r = 5.0 + 1.5 * np.sin(5 * th) + 0.8 * np.cos(11 * th)
    country = np.stack(
        [48 + r * np.sin(th), 10 + r * np.cos(th) / np.cos(np.radians(48))], axis=1
    )
    assert covering.pick_finest_level(country, covering.AUTO_LEVELS) <= 13
    assert covering.pick_finest_level(city, covering.AUTO_LEVELS, cells_per_vertex=8.0) <= 13


def test_adaptive_covering_country_scale_bounded():
    """A country-sized polygon must cover in bounded cells and < 1 s —
    the round-1 meshgrid was O(bbox_area/cell_area) and driver-bound."""
    import time

    from pbf_spark.spatial import covering

    th = np.linspace(0, 2 * np.pi, 400, endpoint=False)
    r = 5.0 + 1.5 * np.sin(5 * th) + 0.8 * np.cos(11 * th)
    ring = np.stack([48 + r * np.sin(th), 10 + r * np.cos(th) / np.cos(np.radians(48))], axis=1)
    t0 = time.time()
    ids, lvl, inner = covering.polygon_covering(ring)
    elapsed = time.time() - t0
    assert ids.size < 10000
    assert inner.sum() > 0.5 * ids.size  # interior dominated, coarse levels
    assert len(set(lvl.tolist())) >= 2  # genuinely hierarchical
    assert elapsed < 5.0  # generous: host shows multi-second noise spikes


def test_covering_multipolygon_disjoint_outers():
    """OSM multipolygons can have SEVERAL outer rings; even-odd over the
    concatenated edges needs no role labels — two disjoint squares plus
    a hole in the first must cover exactly their union-minus-hole."""
    from pbf_spark.spatial import covering

    a = np.array([[10.0, 10.0], [10.0, 14.0], [14.0, 14.0], [14.0, 10.0]])
    b = np.array([[10.0, 20.0], [10.0, 25.0], [15.0, 25.0], [15.0, 20.0]])
    hole = np.array([[11.0, 11.0], [11.0, 12.0], [12.0, 12.0], [12.0, 11.0]])
    rings = [a, b, hole]
    idx = geometry.EdgeIndex(rings)
    lat = np.array([12.0, 11.5, 12.5, 12.0, 17.0])
    lon = np.array([13.0, 11.5, 22.0, 17.0, 22.0])
    # in A; in A's hole; in B; between A and B; north of B
    assert list(idx.inside(lat, lon)) == [True, False, True, False, False]
    ids, lvl, inner = covering.polygon_covering(rings)
    rng = np.random.default_rng(22)
    slat = rng.uniform(9, 16, 30000)
    slon = rng.uniform(9, 26, 30000)
    inside = idx.inside(slat, slon)
    c13 = s2.lat_lon_to_cell_id(slat, slon, 13)
    matched = np.zeros(slat.size, dtype=bool)
    int_match = np.zeros(slat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv) if lv < 13 else c13
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    assert not (inside & ~matched).any()
    assert not (int_match & ~inside).any()


def test_covering_coarse_ladder_curvature_padding():
    """Coarse custom ladders (level 4 cells span ~6 deg, where edge
    curvature would exceed a fixed 5% bbox pad) must still classify
    correctly — the padding is curvature-derived per level."""
    from pbf_spark.spatial import covering

    rng = np.random.default_rng(21)
    th = np.linspace(0, 2 * np.pi, 600, endpoint=False)
    r = 18.0 + 4.0 * np.sin(6 * th)
    ring = np.stack([10 + r * np.sin(th), -30 + r * np.cos(th)], axis=1)
    ids, lvl, inner = covering.polygon_covering(ring, levels=(4, 7))
    lat = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 20000)
    lon = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 20000)
    inside = geometry.points_in_ring(lat, lon, ring)
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    matched = np.zeros(lat.size, dtype=bool)
    int_match = np.zeros(lat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv)
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    assert not (inside & ~matched).any()  # superset holds
    assert not (int_match & ~inside).any()  # interior shortcut exact


def test_edge_index_matches_ring():
    """EdgeIndex.inside must equal points_in_ring on a single ring, on
    both the dense-fallback and the binned path."""
    rng = np.random.default_rng(5)
    ring = np.cumsum(rng.normal(size=(500, 2)), axis=0)
    lat = rng.uniform(ring[:, 0].min() - 1, ring[:, 0].max() + 1, 30000)
    lon = rng.uniform(ring[:, 1].min() - 1, ring[:, 1].max() + 1, 30000)
    expected = geometry.points_in_ring(lat, lon, ring)
    idx = geometry.EdgeIndex([ring])
    assert (idx.inside(lat, lon) == expected).all()
    # tiny query batches exercise the dense fallback
    assert (idx.inside(lat[:16], lon[:16]) == expected[:16]).all()


def test_edge_index_holes_even_odd():
    """Outer square with a square hole: inside-outer-but-in-hole = out."""
    outer = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0]])
    hole = np.array([[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0]])
    idx = geometry.EdgeIndex([outer, hole])
    lat = np.array([5.0, 1.0, 11.0, 3.5])
    lon = np.array([5.0, 1.0, 5.0, 5.0])
    # center → in hole → outside; (1,1) → in annulus; (11,5) → outside
    assert list(idx.inside(lat, lon)) == [False, True, False, False]
    # equals the xor of the two single-ring parities everywhere
    rlat = np.random.default_rng(0).uniform(-1, 11, 20000)
    rlon = np.random.default_rng(1).uniform(-1, 11, 20000)
    expected = geometry.points_in_ring(rlat, rlon, outer) ^ geometry.points_in_ring(rlat, rlon, hole)
    assert (idx.inside(rlat, rlon) == expected).all()


def test_edge_index_bbox_overlap_binned_matches_dense():
    rng = np.random.default_rng(6)
    ring = np.cumsum(rng.normal(size=(800, 2)), axis=0)
    idx = geometry.EdgeIndex([ring])
    n = 3000
    clat = rng.uniform(ring[:, 0].min() - 2, ring[:, 0].max() + 2, n)
    clon = rng.uniform(ring[:, 1].min() - 2, ring[:, 1].max() + 2, n)
    dlat = rng.uniform(0.01, 1.0, n)
    dlon = rng.uniform(0.01, 1.0, n)
    lat_lo, lat_hi = clat - dlat, clat + dlat
    lon_lo, lon_hi = clon - dlon, clon + dlon
    dense = (
        (idx.ey_lo[None, :] <= lat_hi[:, None])
        & (idx.ey_hi[None, :] >= lat_lo[:, None])
        & (idx.ex_lo[None, :] <= lon_hi[:, None])
        & (idx.ex_hi[None, :] >= lon_lo[:, None])
    ).any(axis=1)
    # small chunk forces the chunked path
    got = idx.bbox_overlaps_any(lat_lo, lat_hi, lon_lo, lon_hi, chunk_candidates=10_000)
    assert (got == dense).all()


def test_covering_100k_vertex_ring_bounded_memory():
    """Real-coastline vertex counts: the classifier must stay lat-binned,
    never a dense (cells x edges) matrix (round-2 OOM hazard)."""
    import time
    import tracemalloc

    from pbf_spark.spatial import covering

    rng = np.random.default_rng(12)
    th = np.linspace(0, 2 * np.pi, 100_000, endpoint=False)
    r = 4.0 + 0.8 * np.sin(7 * th) + 0.02 * np.cumsum(rng.normal(size=th.size)) / np.sqrt(th.size)
    ring = np.stack([47 + r * np.sin(th), 8 + r * np.cos(th)], axis=1)
    tracemalloc.start()
    t0 = time.time()
    ids, lvl, inner = covering.polygon_covering(ring)
    elapsed = time.time() - t0
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert ids.size > 0
    assert ids.size <= 8192  # budget enforced
    assert peak < 400 * 1024 * 1024  # dense matrix would be ~GBs
    assert elapsed < 30.0
    # sampled correctness: superset + interior exactness
    idx = geometry.EdgeIndex([ring])
    lat = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 20000)
    lon = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 20000)
    inside = idx.inside(lat, lon)
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    matched = np.zeros(lat.size, dtype=bool)
    int_match = np.zeros(lat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv) if lv < 13 else c13
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    assert not (inside & ~matched).any()
    assert not (int_match & ~inside).any()


def test_covering_budget_enforced_continent_scale():
    """Continent-sized ring: emitted covering must respect max_cells
    (round-2: 16k cells vs the 8k budget)."""
    from pbf_spark.spatial import covering

    th = np.linspace(0, 2 * np.pi, 2000, endpoint=False)
    r = 25.0 + 6.0 * np.sin(9 * th) + 3.0 * np.cos(17 * th)
    ring = np.stack([20 + r * np.sin(th) * 0.8, r * np.cos(th)], axis=1)
    for budget in (8192, 2048):
        ids, lvl, inner = covering.polygon_covering(ring, max_cells=budget)
        assert 0 < ids.size <= budget
    # superset still holds after coarsening
    rng = np.random.default_rng(13)
    ids, lvl, inner = covering.polygon_covering(ring, max_cells=2048)
    lat = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 20000)
    lon = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 20000)
    inside = geometry.points_in_ring(lat, lon, ring)
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    matched = np.zeros(lat.size, dtype=bool)
    int_match = np.zeros(lat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv) if lv < 13 else c13
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    assert not (inside & ~matched).any()
    assert not (int_match & ~inside).any()


def test_covering_hole_aware():
    """Cells inside a hole must never be interior-flagged, and points in
    the hole must not satisfy the interior shortcut."""
    from pbf_spark.spatial import covering

    outer = [(51.30, -0.40), (51.30, 0.20), (51.70, 0.20), (51.70, -0.40)]
    hole = [(51.43, -0.26), (51.49, -0.26), (51.49, -0.21), (51.43, -0.21)]
    rings = [np.array(outer), np.array(hole)]
    ids, lvl, inner = covering.polygon_covering(rings)
    idx = geometry.EdgeIndex(rings)
    rng = np.random.default_rng(14)
    lat = rng.uniform(51.25, 51.75, 50000)
    lon = rng.uniform(-0.45, 0.25, 50000)
    inside = idx.inside(lat, lon)
    in_hole = geometry.points_in_ring(lat, lon, rings[1])
    assert in_hole.any() and not (inside & in_hole).any()
    c13 = s2.lat_lon_to_cell_id(lat, lon, 13)
    matched = np.zeros(lat.size, dtype=bool)
    int_match = np.zeros(lat.size, dtype=bool)
    for lv in sorted(set(lvl.tolist())):
        anc = s2.parent_cell_id(c13, 13, lv) if lv < 13 else c13
        matched |= np.isin(anc, ids[lvl == lv])
        int_match |= np.isin(anc, ids[(lvl == lv) & inner])
    # superset over the polygon-with-hole; NO hole point passes the
    # interior shortcut (the hole-awareness contract)
    assert not (inside & ~matched).any()
    assert not (int_match & ~inside).any()
    assert not (int_match & in_hole).any()
