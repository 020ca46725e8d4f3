"""Adaptive hierarchical S2 polygon covering (the S2RegionCoverer shape).

Replaces the round-1 quarter-cell bbox meshgrid — which was
O(bbox_area / cell_area) and driver-side — with a multi-level BFS that
emits COARSE cells for the polygon interior and fine cells only along
the boundary, so a country-sized polygon covers in thousands of cells
instead of millions, and the whole computation is per-polygon numpy that
runs distributed inside ``mapInArrow`` (operators/spatial.py); only
the resulting covering (small) is broadcast.

Cell classification is conservative on purpose (correct superset):
- a cell's region is bounded by the inflated lat/lon bbox of its 4
  corners (5% angular inflation dominates the gnomonic/quadratic edge
  curvature, which is O(theta^2/8) ~ 0.1%);
- DISJOINT (dropped) only when no ring vertex lies in the cell bbox, no
  cell-bbox corner is inside the ring, and no ring-edge bbox overlaps
  the cell bbox — then the cell provably contains no boundary or
  interior point;
- INTERIOR (emitted coarse, ``interior=true``) only when all 4 bbox
  corners are strictly inside and no ring vertex / edge bbox touches the
  cell bbox — then every point of the cell is inside the ring, so the
  PIP refine can skip the ray cast for its points;
- everything else is BOUNDARY: subdivided while the budget allows, then
  emitted with ``interior=false`` (ray-cast refine applies).

Emission levels are restricted to a small fixed ladder (default
7/10/13) so the point-side prefilter join stays a handful of broadcast
equi-joins on bit-math ancestor keys — never a range join. One budget
rule picks how deep each polygon goes, the bounded-size guarantee
S2RegionCoverer's max_cells gives: descend to the next rung only if the
covering cut there (interior cells emitted so far plus every
non-disjoint cell of that rung) still fits ``max_cells``; otherwise emit
the current rung's boundary cells and stop. If the coarsest rung alone
exceeds the budget, the descent re-seeds two levels coarser (never below
level 3). The covering is a cut of the descent, so no cell has an
ancestor in the same covering and no point can match a polygon twice.
"""

from __future__ import annotations

import numpy as np

from . import geometry, s2

DEFAULT_LEVELS: tuple[int, ...] = (7, 10, 13)
# data-driven ladder: extends one rung finer than DEFAULT_LEVELS so
# small polygons can earn level-16 boundary cells while the coarse rungs
# keep country-scale interiors cheap; the cell budget decides per polygon
AUTO_LEVELS: tuple[int, ...] = (7, 10, 13, 16)


def _cells_bbox(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int):
    """Inflated lat/lon bbox of cells given by (face, i, j) arrays."""
    n = float(1 << level)
    corner_lat = np.empty((4, face.size))
    corner_lon = np.empty((4, face.size))
    for c, (di, dj) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        u = s2._st_to_uv((i.astype(np.float64) + di) / n)
        v = s2._st_to_uv((j.astype(np.float64) + dj) / n)
        x, y, z = s2._face_uv_to_xyz(face, u, v)
        norm = np.sqrt(x * x + y * y + z * z)
        corner_lat[c], corner_lon[c] = geometry.unit_xyz_to_latlon(x / norm, y / norm, z / norm)
    lat_min, lat_max = corner_lat.min(axis=0), corner_lat.max(axis=0)
    lon_min, lon_max = corner_lon.min(axis=0), corner_lon.max(axis=0)
    # inflation must dominate S2 edge curvature: a great-circle edge of
    # angular extent theta deviates from its chord (the corner bbox) by a
    # relative sagitta of ~theta/8, so derive the padding per level
    # (1.5x safety) and floor it at 5% for fine cells. At the default
    # ladder this evaluates to the 5% floor; coarse custom levels get
    # proportionally more instead of silently too little.
    theta = np.radians(90.0 / (1 << level) * 1.7)
    frac = max(0.05, 1.5 * theta / 8.0)
    pad_lat = frac * (lat_max - lat_min) + 1e-9
    pad_lon = frac * (lon_max - lon_min) + 1e-9
    # cells straddling the antimeridian get a full-span (conservative) box
    wrap = (lon_max - lon_min) > 180.0
    return (
        lat_min - pad_lat,
        lat_max + pad_lat,
        np.where(wrap, -180.0, lon_min - pad_lon),
        np.where(wrap, 180.0, lon_max + pad_lon),
    )


def _classify(edges: "geometry.EdgeIndex", lat_lo, lat_hi, lon_lo, lon_hi):
    """→ (disjoint, interior) boolean arrays for cell bboxes vs a polygon.

    ``edges`` indexes ALL rings (outer + holes), so the classification is
    hole-aware: a cell touching no edge bbox has constant even-odd parity
    across its whole area, and 4-corners-inside then proves the entire
    cell is inside the polygon-with-holes (a cell inside a hole has all
    corners outside → disjoint, never interior). Lat-binned + chunked —
    never a dense (cells x edges) matrix (the round-2 memory hazard)."""
    overlap = edges.bbox_overlaps_any(lat_lo, lat_hi, lon_lo, lon_hi)
    # corners only matter for cells NOT touching any edge bbox (cells with
    # overlap are boundary regardless); binned ray cast prunes edge tests
    interior = np.zeros(overlap.size, dtype=bool)
    disjoint = np.zeros(overlap.size, dtype=bool)
    free = ~overlap
    if free.any():
        fl = np.nonzero(free)[0]
        clat = np.stack([lat_lo[fl], lat_lo[fl], lat_hi[fl], lat_hi[fl]]).ravel()
        clon = np.stack([lon_lo[fl], lon_hi[fl], lon_lo[fl], lon_hi[fl]]).ravel()
        corner_in = edges.inside(clat, clon).reshape(4, -1)
        interior[fl] = corner_in.all(axis=0)
        disjoint[fl] = ~corner_in.any(axis=0)
    return disjoint, interior


def _children(face: np.ndarray, i: np.ndarray, j: np.ndarray, d: int):
    """All 4^d descendants d levels down (vectorized block expansion)."""
    step = 1 << d
    di, dj = np.meshgrid(np.arange(step), np.arange(step), indexing="ij")
    di, dj = di.ravel(), dj.ravel()
    fo = np.repeat(face, di.size)
    io = (i[:, None] << d) + di[None, :]
    jo = (j[:, None] << d) + dj[None, :]
    return fo, io.ravel(), jo.ravel()


def _as_rings(rings) -> list[np.ndarray]:
    """Normalize input: a single (m,2) array, or a list of rings (outer
    first, then holes)."""
    if isinstance(rings, np.ndarray) and rings.ndim == 2:
        return [np.asarray(rings, dtype=np.float64)]
    return [np.asarray(r, dtype=np.float64) for r in rings]


def _seed_cells(rings: list[np.ndarray], level: int):
    """(face, i, j) of every ``level`` cell the polygon's bbox touches.

    Half-cell-spaced samples of the bbox over ALL rings (a multipolygon
    can carry several disjoint outer rings — the first ring's bbox alone
    would miss the others). The lon step must not exceed half the
    narrowest cell lon-extent anywhere in the bbox; lon-extent ~
    size/cos(lat) is smallest where cos(lat) is LARGEST, so scale by the
    max cosine over the bbox (1.0 if it spans the equator), not the
    mid-latitude."""
    lat_min, lat_max, lon_min, lon_max = geometry.ring_bbox(np.concatenate(rings))
    step = 90.0 / (1 << level) / 2.0
    if lat_min <= 0.0 <= lat_max:
        cos_max = 1.0
    else:
        cos_max = float(np.cos(np.radians(min(abs(lat_min), abs(lat_max)))))
    lats = np.arange(lat_min - step, lat_max + 2 * step, step)
    lons = np.arange(lon_min - step, lon_max + 2 * step, min(step / max(cos_max, 0.05), 90.0))
    glat, glon = np.meshgrid(lats, lons, indexing="ij")
    x, y, z = geometry.latlon_to_unit_xyz(glat.ravel(), glon.ravel())
    face, u, v = s2._xyz_to_face_uv(x, y, z)
    fi = s2._st_to_ij(s2._uv_to_st(u), level)
    fj = s2._st_to_ij(s2._uv_to_st(v), level)
    seeds = np.unique(np.stack([face, fi, fj], axis=1), axis=0)
    return seeds[:, 0], seeds[:, 1], seeds[:, 2]


def polygon_covering(
    rings, levels=DEFAULT_LEVELS, max_cells: int = 8192
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (cell_id, level, interior) arrays covering a polygon.

    ``rings``: a single (m,2) (lat,lon) array, or a list of rings —
    outer ring first, holes after (even-odd semantics throughout).

    Guarantee: every finest-level cell containing an interior point of
    the polygon is a descendant-or-self of some returned cell (valid join
    prefilter superset). ``interior=true`` cells lie entirely inside
    (outside every hole). The covering is a cut of the breadth-first
    descent, so no returned cell has an ancestor among the others, and
    it holds at most ``max_cells`` cells unless even level 3 cannot.
    """
    rings = _as_rings(rings)
    # corner-bbox inflation is curvature-derived per level (_cells_bbox),
    # so coarse ladders classify correctly too; level >= 3 keeps the
    # lat/lon-box geometry away from pole/antimeridian pathologies
    if min(levels) < 3:
        # not an assert: must survive `python -O` — a sub-3 ladder makes
        # the lat/lon-box classification unsound near poles/antimeridian
        raise ValueError(f"covering ladder must start at level >= 3, got {sorted(levels)}")
    edges = geometry.EdgeIndex(rings)
    ladder = sorted(levels)
    # the coarsest rung alone over budget: re-seed two levels coarser
    while True:
        face, fi, fj = _seed_cells(rings, ladder[0])
        disjoint, interior = _classify(edges, *_cells_bbox(face, fi, fj, ladder[0]))
        if (~disjoint).sum() <= max_cells or ladder[0] == 3:
            break
        ladder.insert(0, max(ladder[0] - 2, 3))

    out_ids, out_lvl, out_int = [], [], []

    def emit(mask, lv, flag):
        if mask.any():
            out_ids.append(s2.face_ij_to_cell_id(face[mask], fi[mask], fj[mask], lv))
            out_lvl.append(np.full(mask.sum(), lv, dtype=np.int32))
            out_int.append(np.full(mask.sum(), flag, dtype=bool))

    n_interior = 0
    for idx, lv in enumerate(ladder):
        emit(interior, lv, True)
        n_interior += int(interior.sum())
        boundary = ~disjoint & ~interior
        if idx + 1 < len(ladder) and boundary.any():
            # descend only if the covering cut at the next rung (interior
            # so far + every non-disjoint child) still fits the budget
            nxt = ladder[idx + 1]
            cf, ci, cj = _children(face[boundary], fi[boundary], fj[boundary], nxt - lv)
            c_disjoint, c_interior = _classify(edges, *_cells_bbox(cf, ci, cj, nxt))
            if n_interior + int((~c_disjoint).sum()) <= max_cells:
                face, fi, fj, disjoint, interior = cf, ci, cj, c_disjoint, c_interior
                continue
        emit(boundary, lv, False)
        break
    if not out_ids:
        return np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool)
    return np.concatenate(out_ids), np.concatenate(out_lvl), np.concatenate(out_int)


def ancestor_at_level_expr(cell_col: str, from_level: int, to_level: int) -> str:
    """SQL for the ancestor of an S2 id (bit math; works for negative ids).

    ancestor = (id & -(2*lsb)) | lsb, lsb = 1 << (2*(MAX_LEVEL-to_level)).
    """
    assert to_level <= from_level
    lsb = 1 << (2 * (s2.MAX_LEVEL - to_level))
    return f"(({cell_col} & {-(2 * lsb)}) | {lsb})"
