"""H3-style hierarchical hexagonal index on an icosahedron (numpy).

SURVEY.md §2B B3 mandates an H3 res-9 cell assignment. No ``h3`` library
exists in this environment and canonical H3's base-cell orientation
tables are not reproducible from first principles, so this is a
from-scratch index with H3's *structure* (published algorithm shape:
icosahedral gnomonic projection → aperture-7 axial hex coordinates with
per-resolution ~19.1° rotation → packed 64-bit id with mode/res/face/
digit layout) but **not bit-compatible with canonical H3 ids** —
documented divergence: the icosahedron uses the exact golden-ratio
vertex construction with a fixed documented orientation instead of H3's
Dymaxion placement, and res-0 origins sit at face centers (20 faces
instead of 122 base cells).

What the engine relies on — and what tests verify — holds exactly:
deterministic geo→cell assignment, aperture-7 parent/child hierarchy,
axial k-ring neighborhoods, ~uniform cell areas (gnomonic distortion
bounded within a face). Cross-face neighborhoods are handled by
re-indexing ring-center geo points (seam-safe by construction; see
knn.py); ``covered_m`` bounds the disc a k-ring is guaranteed to cover.

Resolution 9 here matches H3 res 9 cell scale (~0.1 km², edge ~174 m):
res-0 hex circumradius is face_circumradius/2.8, divided by sqrt(7) per
level.
"""

from __future__ import annotations

import numpy as np

from .geometry import EARTH_RADIUS_M, latlon_to_unit_xyz, unit_xyz_to_latlon

_PHI = (1.0 + np.sqrt(5.0)) / 2.0

# Exact golden-ratio icosahedron: 12 vertices = cyclic (0, ±1, ±φ)
_VERTS = []
for a, b in [(1.0, _PHI), (1.0, -_PHI), (-1.0, _PHI), (-1.0, -_PHI)]:
    _VERTS.append((0.0, a, b))
    _VERTS.append((a, b, 0.0))
    _VERTS.append((b, 0.0, a))
_VERTS = np.array(_VERTS) / np.sqrt(1.0 + _PHI * _PHI)

# 20 faces = vertex triples with pairwise distance == edge length
_edge = 2.0 / np.sqrt(1.0 + _PHI * _PHI)
_FACES = []
for i in range(12):
    for j in range(i + 1, 12):
        if not np.isclose(np.linalg.norm(_VERTS[i] - _VERTS[j]), _edge):
            continue
        for k in range(j + 1, 12):
            if np.isclose(np.linalg.norm(_VERTS[i] - _VERTS[k]), _edge) and np.isclose(
                np.linalg.norm(_VERTS[j] - _VERTS[k]), _edge
            ):
                _FACES.append((i, j, k))
assert len(_FACES) == 20

_FACE_CENTERS = np.array(
    [(_VERTS[a] + _VERTS[b] + _VERTS[c]) / 3.0 for a, b, c in _FACES]
)
_FACE_CENTERS /= np.linalg.norm(_FACE_CENTERS, axis=1, keepdims=True)

# per-face orthonormal basis in the tangent (gnomonic) plane;
# x-axis points toward the face's first vertex — fixed, documented orientation
_FACE_X = np.array(
    [_VERTS[f[0]] - _FACE_CENTERS[i] * (_VERTS[f[0]] @ _FACE_CENTERS[i]) for i, f in enumerate(_FACES)]
)
_FACE_X /= np.linalg.norm(_FACE_X, axis=1, keepdims=True)
_FACE_Y = np.cross(_FACE_CENTERS, _FACE_X)

# res-0 hex size on the gnomonic plane (plane at unit distance from center):
# face circumradius on the plane, split so ~7 res-0 hexes cover a face
_FACE_PLANE_R = float(
    np.linalg.norm(_VERTS[_FACES[0][0]] / (_VERTS[_FACES[0][0]] @ _FACE_CENTERS[0]) - _FACE_CENTERS[0])
)
# res-0 circumradius in plane units, calibrated so res-9 hex area matches
# H3 res 9 (~0.105 km²)
_HEX0_R = _FACE_PLANE_R / 3.81

_SQRT7 = np.sqrt(7.0)
_ROT7 = np.arcsin(np.sqrt(3.0 / 28.0))  # aperture-7 inter-resolution rotation

MAX_RES = 15


def _res_basis(res: int) -> tuple[float, float]:
    """(hex circumradius, lattice rotation) at a resolution."""
    return _HEX0_R / (_SQRT7**res), res * _ROT7


def geo_to_face_xy(lat, lon):
    """Degrees → (face, plane x, plane y) gnomonic coordinates."""
    x, y, z = latlon_to_unit_xyz(lat, lon)
    pts = np.stack([x, y, z], axis=-1)
    face = np.argmax(pts @ _FACE_CENTERS.T, axis=-1).astype(np.int64)
    centers = _FACE_CENTERS[face]
    scale = 1.0 / np.einsum("ij,ij->i", pts, centers)
    proj = pts * scale[:, None] - centers
    return face, np.einsum("ij,ij->i", proj, _FACE_X[face]), np.einsum(
        "ij,ij->i", proj, _FACE_Y[face]
    )


def face_xy_to_geo(face, px, py):
    """(face, plane x, plane y) → degrees."""
    face = np.asarray(face, np.int64)
    pts = _FACE_CENTERS[face] + px[..., None] * _FACE_X[face] + py[..., None] * _FACE_Y[face]
    pts = pts / np.linalg.norm(pts, axis=-1, keepdims=True)
    return unit_xyz_to_latlon(pts[..., 0], pts[..., 1], pts[..., 2])


def _xy_to_axial(px, py, res: int):
    """Plane → fractional axial hex coords (pointy-top) at a resolution."""
    size, theta = _res_basis(res)
    c, s = np.cos(-theta), np.sin(-theta)
    rx = px * c - py * s
    ry = px * s + py * c
    q = (np.sqrt(3.0) / 3.0 * rx - 1.0 / 3.0 * ry) / size
    r = (2.0 / 3.0 * ry) / size
    return q, r


def _axial_to_xy(q, r, res: int):
    size, theta = _res_basis(res)
    rx = size * np.sqrt(3.0) * (q + r / 2.0)
    ry = size * 1.5 * r
    c, s = np.cos(theta), np.sin(theta)
    return rx * c - ry * s, rx * s + ry * c


def hex_round(q, r):
    """Fractional axial → nearest hex (cube rounding, vectorized)."""
    s = -q - r
    rq, rr, rs = np.round(q), np.round(r), np.round(s)
    dq, dr, ds = np.abs(rq - q), np.abs(rr - r), np.abs(rs - s)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    rq = np.where(fix_q, -rr - rs, rq)
    rr = np.where(fix_r, -rq - rs, rr)
    return rq.astype(np.int64), rr.astype(np.int64)


# 64-bit layout: [4 bits mode=5][4 bits res][6 bits face][25 bits q+OFF][25 bits r+OFF]
_OFF = 1 << 24
_MODE = np.int64(5)


def pack(face, q, r, res: int) -> np.ndarray:
    return (
        (_MODE << np.int64(60))
        | (np.int64(res) << np.int64(56))
        | (np.asarray(face, np.int64) << np.int64(50))
        | ((np.asarray(q, np.int64) + _OFF) << np.int64(25))
        | (np.asarray(r, np.int64) + _OFF)
    )


def unpack(cell):
    cell = np.asarray(cell, np.int64)
    res = (cell >> np.int64(56)) & 0xF
    face = (cell >> np.int64(50)) & 0x3F
    q = ((cell >> np.int64(25)) & 0x1FFFFFF) - _OFF
    r = (cell & 0x1FFFFFF) - _OFF
    return face, q, r, res


def geo_to_cell(lat, lon, res: int = 9) -> np.ndarray:
    """Degrees → hex cell id at resolution ``res`` (the geoToH3 analogue)."""
    face, px, py = geo_to_face_xy(np.asarray(lat, np.float64), np.asarray(lon, np.float64))
    q, r = hex_round(*_xy_to_axial(px, py, res))
    return pack(face, q, r, res)


def cell_to_geo(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → center (lat, lon) degrees (the h3ToGeo analogue)."""
    face, q, r, res = unpack(cell)
    res_val = int(res[0]) if np.ndim(res) else int(res)
    px, py = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), res_val)
    return face_xy_to_geo(face, px, py)


def parent_cell(cell, parent_res: int) -> np.ndarray:
    """Aperture-7 parent (re-index of the child center — robust at seams)."""
    lat, lon = cell_to_geo(cell)
    return geo_to_cell(lat, lon, parent_res)


def k_ring_offsets(k: int) -> np.ndarray:
    """Axial (dq, dr) offsets of the filled k-ring (hexagonal disc)."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return np.array(out, dtype=np.int64)


def k_ring_cells(cell, k: int) -> np.ndarray:
    """All cells within k hex steps, shape (n, ring_size).

    Ring members are produced by offsetting in axial space and
    re-indexing through geo space, so members that fall on a different
    icosahedron face get that face's id — the same id points there
    would be assigned (seam-consistent; see module docstring).
    """
    face, q, r, res = unpack(cell)
    res_val = int(res[0]) if np.ndim(res) else int(res)
    offs = k_ring_offsets(k)
    qq = q[:, None] + offs[None, :, 0]
    rr = r[:, None] + offs[None, :, 1]
    px, py = _axial_to_xy(qq.astype(np.float64), rr.astype(np.float64), res_val)
    same_face = np.broadcast_to(face[:, None], qq.shape)
    lat, lon = face_xy_to_geo(same_face.ravel(), px.ravel(), py.ravel())
    return geo_to_cell(lat, lon, res_val).reshape(qq.shape)


def hex_edge_m(res: int) -> float:
    """Approximate hex circumradius in meters at a resolution."""
    size, _ = _res_basis(res)
    return size * EARTH_RADIUS_M  # plane units ≈ radians near face center


def hex_min_width_m(res: int) -> float:
    """Conservative minimum hex width (2·apothem), with gnomonic shrink margin."""
    return hex_edge_m(res) * np.sqrt(3.0) * 0.8


def covered_m(res: int, ring: int) -> float:
    """Radius in meters of the geodesic disc, around any point of a cell,
    that the cell's ``ring``-ring (``k_ring_cells``) is guaranteed to
    cover at resolution ``res``.

    Gnomonic radial compression dgeo/dplane = cos²θ is smallest at the
    face corners (θmax ≈ 37.4° on the icosahedron → cos² ≈ 0.631), so geo
    distance ≥ 0.6 × plane distance everywhere on a face. ``ring`` rings
    reach ``ring`` × the hex width in plane units from the center cell;
    two circumradii bound the offset of a point inside that cell (plane ≥
    geo for the subtracted term, also conservative)."""
    edge = hex_edge_m(res)
    width = edge * float(np.sqrt(3.0))
    return float(max(0.0, ring * 0.6 * width - 2 * edge))
