"""Adaptive hierarchical S2 polygon covering (the S2RegionCoverer shape).

Replaces the round-1 quarter-cell bbox meshgrid — which was
O(bbox_area / cell_area) and driver-side — with a multi-level BFS that
emits COARSE cells for the polygon interior and fine cells only along
the boundary, so a country-sized polygon covers in thousands of cells
instead of millions, and the whole computation is per-polygon numpy that
runs distributed inside ``applyInPandas`` (operators/spatial.py); only
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
- everything else is BOUNDARY: subdivided until the finest level, then
  emitted with ``interior=false`` (ray-cast refine applies).

Emission levels are restricted to a small fixed ladder (default
7/10/13) so the point-side prefilter join stays a handful of broadcast
equi-joins on bit-math ancestor keys — never a range join. The finest
level is chosen per polygon from a cell budget (perimeter estimate), the
same bounded-size guarantee S2RegionCoverer's max_cells gives.
"""

from __future__ import annotations

import numpy as np

from . import geometry, s2

DEFAULT_LEVELS: tuple[int, ...] = (7, 10, 13)
# data-driven ladder: extends one rung finer than DEFAULT_LEVELS so
# small-perimeter polygons can earn level-16 boundary cells while the
# coarse rungs keep country-scale interiors cheap; pick_finest_level's
# perimeter budget decides per polygon
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


def pick_finest_level(
    rings, levels=DEFAULT_LEVELS, max_cells: int = 8192, cells_per_vertex: float | None = None
) -> int:
    """Finest ladder level whose boundary-cell estimate fits the budget.

    Default rule: the PERIMETER budget — finest level whose boundary-cell
    estimate fits ``max_cells``. Measured on interleaved convergence-
    gated runs (BASELINE.md, "PIP prefilter level"):
    with a dense point cloud, candidate over-fetch (∝ perimeter ×
    cell_size × point_density) dominates the broadcast cost of a finer
    covering, so small city polygons WANT level 16 (2.56 s vs 3.28 s at
    13 on the 192-polygon bench workload), while a country-scale ring
    correctly lands at 10 with coarse interior rungs (2.6 s; forcing its
    ladder fine + budget-coarsening it is a 23 s catastrophe).

    ``cells_per_vertex`` optionally scales the budget with vertex count
    (min(max_cells, max(64, cpv * n_vertices))) for sparse point clouds
    where refine cost dominates over-fetch; the sweep measured it WORSE
    on dense clouds (mixed per-polygon coarseness starves hot polygons),
    so it is opt-in. Results are level-independent either way (covering
    is always a superset prefilter); this knob is purely a perf trade.
    """
    perim_deg = 0.0
    n_vertices = 0
    for r in _as_rings(rings):
        rr = r[:-1] if (r.shape[0] > 1 and (r[0] == r[-1]).all()) else r
        n_vertices += int(rr.shape[0])
        perim_deg += float(np.abs(np.diff(rr, axis=0, append=rr[:1])).sum())
    budget = max_cells
    if cells_per_vertex is not None:
        budget = min(max_cells, max(64.0, cells_per_vertex * n_vertices))
    for lv in sorted(levels, reverse=True):
        cell_deg = 90.0 / (1 << lv) * 1.6
        if 3.0 * perim_deg / max(cell_deg, 1e-12) <= budget:
            return lv
    return min(levels)


def _ancestor_ids(ids: np.ndarray, to_level: int) -> np.ndarray:
    lsb = np.int64(1 << (2 * (s2.MAX_LEVEL - to_level)))
    return (ids & np.int64(-(2 * lsb))) | lsb


def polygon_covering(
    rings, levels=DEFAULT_LEVELS, max_cells: int = 8192, cells_per_vertex: float | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (cell_id, level, interior) arrays covering a polygon.

    ``rings``: a single (m,2) (lat,lon) array, or a list of rings —
    outer ring first, holes after (even-odd semantics throughout).

    Guarantee: every finest-level cell containing an interior point of
    the polygon is a descendant-or-self of some returned cell (valid join
    prefilter superset). ``interior=true`` cells lie entirely inside
    (outside every hole). Overflow beyond ``max_cells`` is re-emitted at
    coarser ladder levels, so the covering respects the budget whenever
    the coarsest ladder level can express it.
    """
    rings = _as_rings(rings)
    # corner-bbox inflation is curvature-derived per level (_cells_bbox),
    # so coarse ladders classify correctly too; level >= 3 keeps the
    # lat/lon-box geometry away from pole/antimeridian pathologies
    if min(levels) < 3:
        # not an assert: must survive `python -O` — a sub-3 ladder makes
        # the lat/lon-box classification unsound near poles/antimeridian
        raise ValueError(f"covering ladder must start at level >= 3, got {sorted(levels)}")
    finest = pick_finest_level(rings, levels, max_cells, cells_per_vertex)
    ladder = sorted(lv for lv in levels if lv <= finest)
    edges = geometry.EdgeIndex(rings)

    # seeds: half-cell-spaced samples of the bbox over ALL rings at the
    # coarsest level (a multipolygon can carry several disjoint outer
    # rings — the first ring's bbox alone would miss the others). The
    # lon step must not exceed half the narrowest cell lon-extent
    # anywhere in the bbox; lon-extent ~ size/cos(lat) is smallest where
    # cos(lat) is LARGEST, so scale by the max cosine over the bbox (1.0
    # if it spans the equator), not the mid-latitude.
    lat_min, lat_max, lon_min, lon_max = geometry.ring_bbox(np.concatenate(rings))
    l0 = ladder[0]
    step = 90.0 / (1 << l0) / 2.0
    if lat_min <= 0.0 <= lat_max:
        cos_max = 1.0
    else:
        cos_max = float(np.cos(np.radians(min(abs(lat_min), abs(lat_max)))))
    lats = np.arange(lat_min - step, lat_max + 2 * step, step)
    lons = np.arange(lon_min - step, lon_max + 2 * step, min(step / max(cos_max, 0.05), 90.0))
    glat, glon = np.meshgrid(lats, lons, indexing="ij")
    x, y, z = geometry.latlon_to_unit_xyz(glat.ravel(), glon.ravel())
    face, u, v = s2._xyz_to_face_uv(x, y, z)
    fi = s2._st_to_ij(s2._uv_to_st(u), l0)
    fj = s2._st_to_ij(s2._uv_to_st(v), l0)
    seeds = np.unique(np.stack([face, fi, fj], axis=1), axis=0)
    face, fi, fj = seeds[:, 0], seeds[:, 1], seeds[:, 2]

    out_ids, out_lvl, out_int = [], [], []
    for idx, lv in enumerate(ladder):
        if face.size == 0:
            break
        disjoint, interior = _classify(edges, *_cells_bbox(face, fi, fj, lv))
        last = lv == ladder[-1]
        emit_int = interior & ~disjoint
        emit_bnd = (~interior & ~disjoint) if last else np.zeros_like(disjoint)
        for mask, flag in ((emit_int, True), (emit_bnd, False)):
            if mask.any():
                out_ids.append(s2.face_ij_to_cell_id(face[mask], fi[mask], fj[mask], lv))
                out_lvl.append(np.full(mask.sum(), lv, dtype=np.int32))
                out_int.append(np.full(mask.sum(), flag, dtype=bool))
        if not last:
            sub = ~disjoint & ~interior
            face, fi, fj = _children(face[sub], fi[sub], fj[sub], ladder[idx + 1] - lv)
    if not out_ids:
        return np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool)
    ids = np.concatenate(out_ids)
    lvl = np.concatenate(out_lvl)
    inn = np.concatenate(out_int)

    # enforce the budget post-hoc: pick_finest_level's perimeter estimate
    # can undershoot at continent scale. Coarsen the finest level present
    # into the next coarser level (the next ladder level when one exists,
    # else two levels up — ancestor bit math is valid at ANY level; the
    # 5%-inflation heuristic only constrains classification, which the
    # coarsened boundary cells no longer rely on). Boundary cells first,
    # interiors only if still over budget.
    while ids.size > max_cells:
        fine = int(lvl.max())
        if fine == 0:
            break
        below = lvl[lvl < fine]
        coarse = int(below.max()) if below.size else max(fine - 2, 0)
        at_fine = lvl == fine
        keep = ~at_fine
        bnd = at_fine & ~inn
        itr = at_fine & inn
        anc = np.unique(_ancestor_ids(ids[bnd], coarse))
        if keep.sum() + itr.sum() + anc.size > max_cells and itr.any():
            anc = np.unique(np.concatenate([anc, _ancestor_ids(ids[itr], coarse)]))
            itr = np.zeros_like(itr)
        # de-dup vs cells already at the target level (interiors stay
        # interior only if no coarsened ancestor swallows them)
        at_coarse = lvl == coarse
        if at_coarse.any():
            dup = np.isin(ids[at_coarse], anc)
            if dup.any():
                drop = np.zeros_like(keep)
                drop[np.nonzero(at_coarse)[0][dup]] = True
                keep &= ~drop
                itr &= ~drop
        ids = np.concatenate([ids[keep | itr], anc])
        lvl = np.concatenate([lvl[keep | itr], np.full(anc.size, coarse, np.int32)])
        inn = np.concatenate([inn[keep | itr], np.zeros(anc.size, bool)])
    return ids, lvl, inn


def ancestor_at_level_expr(cell_col: str, from_level: int, to_level: int) -> str:
    """SQL for the ancestor of an S2 id (bit math; works for negative ids).

    ancestor = (id & -(2*lsb)) | lsb, lsb = 1 << (2*(MAX_LEVEL-to_level)).
    """
    assert to_level <= from_level
    lsb = 1 << (2 * (s2.MAX_LEVEL - to_level))
    return f"(({cell_col} & {-(2 * lsb)}) | {lsb})"
