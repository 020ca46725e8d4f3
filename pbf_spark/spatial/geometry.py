"""Vectorized spherical/planar geometry primitives.

All from public formulas (haversine; even-odd ray casting). The numpy
functions run inside Arrow-batched pandas UDFs and the brute-force
checks — never per-row Python. ``haversine_sql`` is the one Catalyst
form of the great-circle distance the operators evaluate in the JVM.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8  # mean earth radius (IUGG)


def haversine_m(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters (degrees in, vectorized)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Spark SQL fragment for ``haversine_m`` over four SQL expressions
    (columns, array elements, lambda variables) in degrees; usable in
    ``F.expr`` and inside higher-order-function lambdas.

    Same term order as the numpy form — ``radians`` before the
    difference, the same ``[0, 1]`` clip — so it agrees with numpy to a
    few ulps (JVM vs libm ``sin``/``asin``), and the clip keeps
    antipodal pairs finite instead of NaN."""
    return (
        f"2.0D * {EARTH_RADIUS_M}D * asin(sqrt(least(greatest("
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2.0D), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1})) / 2.0D), 2), 0.0D), 1.0D)))"
    )


def latlon_to_unit_xyz(lat: np.ndarray, lon: np.ndarray):
    """Degrees → unit sphere vectors."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    cp = np.cos(phi)
    return cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)


def unit_xyz_to_latlon(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Unit sphere vectors → degrees."""
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def points_in_ring(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast point-in-polygon, vectorized over points.

    ``ring``: (m, 2) array of (lat, lon) vertices, closed or open (the
    wrap edge is implied). Planar in lon/lat space — exact for the
    city-scale polygons this engine joins (documented contract; the
    DuckDB oracle uses the identical rule so the join is verifiable).
    Points exactly on a horizontal-crossing boundary follow the
    half-open rule (consistent, no double counting across shared edges).
    """
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] > 1 and (ring[0] == ring[-1]).all():
        ring = ring[:-1]
    ry, rx = ring[:, 0], ring[:, 1]  # y = lat, x = lon
    y = np.asarray(lat, dtype=np.float64)[:, None]
    x = np.asarray(lon, dtype=np.float64)[:, None]
    y1, x1 = ry[None, :], rx[None, :]
    y2, x2 = np.roll(ry, -1)[None, :], np.roll(rx, -1)[None, :]
    crosses = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    hit = crosses & (x < x_at_y)
    return hit.sum(axis=1) % 2 == 1


class EdgeIndex:
    """Lat-binned edge index over one polygon (outer ring + optional holes).

    All rings' edges are concatenated into flat segment arrays; an edge is
    registered in every latitude bin its y-interval touches (CSR layout),
    so point-in-polygon and cell-bbox-overlap queries test only the edges
    stabbing their latitude — O(k) candidates instead of O(E) — and never
    materialize a dense (cells x edges) matrix. Even-odd parity over the
    concatenated edges handles holes for free: inside the outer ring but
    inside a hole ⇒ even crossings ⇒ outside.
    """

    def __init__(self, rings, bins: int | None = None):
        segs = []
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            if r.shape[0] > 1 and (r[0] == r[-1]).all():
                r = r[:-1]
            y1, x1 = r[:, 0], r[:, 1]
            y2, x2 = np.roll(y1, -1), np.roll(x1, -1)
            segs.append(np.stack([y1, x1, y2, x2], axis=1))
        e = np.concatenate(segs, axis=0)
        self.y1, self.x1, self.y2, self.x2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        self.n_edges = e.shape[0]
        self.ey_lo = np.minimum(self.y1, self.y2)
        self.ey_hi = np.maximum(self.y1, self.y2)
        self.ex_lo = np.minimum(self.x1, self.x2)
        self.ex_hi = np.maximum(self.x1, self.x2)
        self.bins = int(bins or min(max(self.n_edges // 4, 64), 65536))
        self._g0 = float(self.ey_lo.min())
        self._g1 = float(self.ey_hi.max())
        self._h = max((self._g1 - self._g0) / self.bins, 1e-12)
        b_lo = np.clip(((self.ey_lo - self._g0) / self._h).astype(np.int64), 0, self.bins - 1)
        b_hi = np.clip(((self.ey_hi - self._g0) / self._h).astype(np.int64), 0, self.bins - 1)
        span = b_hi - b_lo + 1
        edge_ids = np.repeat(np.arange(self.n_edges), span)
        edge_bins = np.repeat(b_lo, span) + (
            np.arange(edge_ids.size) - np.repeat(np.cumsum(span) - span, span)
        )
        order = np.argsort(edge_bins, kind="stable")
        self._edge_ids = edge_ids[order]
        off = np.zeros(self.bins + 1, dtype=np.int64)
        np.cumsum(np.bincount(edge_bins, minlength=self.bins), out=off[1:])
        self._off = off

    def _bin(self, lat: np.ndarray) -> np.ndarray:
        return np.clip(((lat - self._g0) / self._h).astype(np.int64), 0, self.bins - 1)

    def inside(self, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
        """Even-odd ray cast over all rings' edges (half-open rule,
        identical arithmetic to points_in_ring)."""
        y = np.asarray(lat, dtype=np.float64)
        x = np.asarray(lon, dtype=np.float64)
        inside = np.zeros(y.size, dtype=bool)
        inb = (y >= self._g0) & (y <= self._g1)
        if not inb.any():
            return inside
        pi = np.nonzero(inb)[0]
        if pi.size * self.n_edges <= 2_000_000 or self.n_edges < 32:
            py = y[pi][:, None]
            px = x[pi][:, None]
            crosses = (self.y1[None, :] > py) != (self.y2[None, :] > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at_y = self.x1[None, :] + (py - self.y1[None, :]) * (
                    self.x2[None, :] - self.x1[None, :]
                ) / (self.y2[None, :] - self.y1[None, :])
            inside[pi] = (crosses & (px < x_at_y)).sum(axis=1) % 2 == 1
            return inside
        off = self._off
        pb = self._bin(y[pi])
        counts = off[pb + 1] - off[pb]
        total = int(counts.sum())
        if total == 0:
            return inside
        pt_rep = np.repeat(np.arange(pi.size), counts)
        pos = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
        eidx = self._edge_ids[np.repeat(off[pb], counts) + pos]
        py, px = y[pi][pt_rep], x[pi][pt_rep]
        cy1, cx1 = self.y1[eidx], self.x1[eidx]
        cy2, cx2 = self.y2[eidx], self.x2[eidx]
        crosses = (cy1 > py) != (cy2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at_y = cx1 + (py - cy1) * (cx2 - cx1) / (cy2 - cy1)
        hit = crosses & (px < x_at_y)
        parity = np.bincount(pt_rep[hit], minlength=pi.size)
        inside[pi] = parity % 2 == 1
        return inside

    def bbox_overlaps_any(
        self,
        lat_lo: np.ndarray,
        lat_hi: np.ndarray,
        lon_lo: np.ndarray,
        lon_hi: np.ndarray,
        chunk_candidates: int = 4_000_000,
    ) -> np.ndarray:
        """Per query bbox: does ANY edge bbox overlap it?

        Candidates come from the lat bins the query's lat range touches;
        evaluation is chunked so peak memory is O(chunk_candidates)
        regardless of cells x edges (the round-2 dense-matrix hazard).
        """
        lat_lo = np.asarray(lat_lo, dtype=np.float64)
        lat_hi = np.asarray(lat_hi, dtype=np.float64)
        lon_lo = np.asarray(lon_lo, dtype=np.float64)
        lon_hi = np.asarray(lon_hi, dtype=np.float64)
        out = np.zeros(lat_lo.size, dtype=bool)
        live = (lat_hi >= self._g0) & (lat_lo <= self._g1)
        if not live.any():
            return out
        qi = np.nonzero(live)[0]
        off = self._off
        p_lo = self._bin(lat_lo[qi])
        p_hi = self._bin(lat_hi[qi])
        counts = off[p_hi + 1] - off[p_lo]
        csum = np.cumsum(counts)
        start = 0
        while start < qi.size:
            base = csum[start - 1] if start > 0 else 0
            stop = int(np.searchsorted(csum, base + chunk_candidates)) + 1
            stop = min(max(stop, start + 1), qi.size)
            sl = slice(start, stop)
            c = counts[sl]
            total = int(c.sum())
            if total:
                q_rep = np.repeat(np.arange(stop - start), c)
                pos = np.arange(total) - np.repeat(np.cumsum(c) - c, c)
                eidx = self._edge_ids[np.repeat(off[p_lo[sl]], c) + pos]
                gq = qi[sl][q_rep]
                hit = (
                    (self.ey_lo[eidx] <= lat_hi[gq])
                    & (self.ey_hi[eidx] >= lat_lo[gq])
                    & (self.ex_lo[eidx] <= lon_hi[gq])
                    & (self.ex_hi[eidx] >= lon_lo[gq])
                )
                if hit.any():
                    got = np.bincount(q_rep[hit], minlength=stop - start) > 0
                    out[qi[sl]] |= got
            start = stop
        return out


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    """(lat_min, lat_max, lon_min, lon_max)."""
    ring = np.asarray(ring, dtype=np.float64)
    return (
        float(ring[:, 0].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].min()),
        float(ring[:, 1].max()),
    )
