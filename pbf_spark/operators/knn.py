"""kNN and distance-within joins on hex-cell candidate joins (SURVEY.md
§2B B6, P8).

Both joins equi-join query cells to point cells, then refine every
candidate with the exact haversine distance and keep what the query asks
for. The cell sets are supersets of what the query needs, so results
never depend on the resolution, only the candidate volume does.

* ``knn_join`` sizes its join from one exact per-cell point-count
  histogram (``_histogram``): the finest of ``KNN_RES`` whose non-empty
  cells hold on average at least k points. Each query is given the cells
  that provably hold its k nearest points (``_near_cells_udf``), and the
  candidates are ranked by the mandated deterministic total order
  ``(distance, id)``.
* ``range_join`` picks the finest resolution whose ``MAX_RING`` rings
  cover the radius (``hexgrid.covered_m``), gives each query its k-ring
  (``_ring_cells_udf``) and keeps the candidates within the radius.

Python runs only where the hexgrid math does: the histogram, the cell of
each point and the query's cell set (Arrow UDFs). The distance refine is
the Catalyst ``geometry.haversine_sql`` expression, evaluated in the JVM
inside the join's codegen stage (range_join's filter folds into the
prefilter join condition), never a Python stage per candidate.

Scale shape: candidate generation is query-cells × points equi-join on
the cell. The point side is shuffled once on the cell, or broadcast when
queries are small. The window ranking partitions by query_id, never a
global sort. The kNN histogram holds at most n/k cells at the chosen
resolution; it is collected through Arrow and shipped in the query
UDF's closure, and each query scans it once (O(queries × cells) in
numpy).
"""

from __future__ import annotations

from itertools import count
from math import isfinite

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..spatial import hexgrid
from ..spatial.geometry import haversine_m, haversine_sql
from .spatial import hex_cell_udf

DIST_M = "dist_m"
RES = 9  # range_join's finest resolution
MAX_RING = 8  # range_join's ring budget: the finest resolution it fits wins
KNN_RES = range(5, 12)  # knn_join's histogram resolutions: cell circumradius 9.9 km to 30 m
# metres added to the cell circumradius: covers the haversine's float
# error, which peaks near antipodal pairs at ~0.1 m (asin near 1)
_MARGIN_M = 1.0
_UDF_CELLS = 1 << 21  # query × cell distances per numpy block in _near_cells_udf
_DIST = haversine_sql("_q_lat", "_q_lon", "_p_lat", "_p_lon")


def _ring_cells_udf(res: int, k: int):
    """k-ring cell arrays, seam-padded and de-duplicated.

    Ring members are produced by axial offsets re-indexed through geo
    space (hexgrid.k_ring_cells); members landing on a DIFFERENT
    icosahedron face sample the neighbor face's misaligned lattice at
    cell spacing, which can leave sub-cell gaps. Padding every cross-face
    member with its own 1-ring closes those gaps (misalignment is < 1
    cell by construction — the reindex maps each axial offset to the
    cell actually containing that geo point). Arrays are made distinct so
    a point can never join a query twice (duplicate candidates would
    consume window ranks)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(cell: pd.Series) -> pd.Series:
        cells = cell.to_numpy(np.int64)
        rings = hexgrid.k_ring_cells(cells, k)
        qface = (cells >> 50) & 0x3F
        faces = (rings >> 50) & 0x3F
        cross = faces != qface[:, None]
        if not cross.any():
            srt = np.sort(rings, axis=1)
            if not (srt[:, 1:] == srt[:, :-1]).any():
                return pd.Series(list(rings))
            return pd.Series([np.unique(r) for r in rings])
        rows, cols = np.nonzero(cross)
        pads = hexgrid.k_ring_cells(rings[rows, cols], 1)
        out = []
        for i in range(cells.size):
            sel = rows == i
            if sel.any():
                out.append(np.unique(np.concatenate([rings[i], pads[sel].ravel()])))
            else:
                out.append(np.unique(rings[i]))
        return pd.Series(out)

    # evaluated once, like spatial._cell_udf: Catalyst would copy it into
    # the size(_cells) > 0 filter it infers from the explode
    return _udf.asNondeterministic()


def _points(points: DataFrame) -> DataFrame:
    return points.select(
        F.col("id").alias("_p_id"), F.col("lat").alias("_p_lat"), F.col("lon").alias("_p_lon")
    )


def _queries(queries: DataFrame) -> DataFrame:
    return queries.select("query_id", F.col("lat").alias("_q_lat"), F.col("lon").alias("_q_lon"))


def _candidates(points: DataFrame, queries: DataFrame, res: int, cells) -> DataFrame:
    """Every (query, point) pair whose point's ``res`` cell is one of
    the query's ``cells(lat, lon)`` (a Column of cell arrays), with its
    exact ``dist_m``. → (query_id, _p_id, dist_m, ...)"""
    pts = _points(points).withColumn("_p_cell", hex_cell_udf(res)(F.col("_p_lat"), F.col("_p_lon")))
    return (
        _queries(queries)
        .withColumn("_cells", cells(F.col("_q_lat"), F.col("_q_lon")))
        .withColumn("_cell", F.explode("_cells"))
        .drop("_cells")
        .join(pts, F.col("_cell") == F.col("_p_cell"))
        .withColumn(DIST_M, F.expr(_DIST))
    )


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col(DIST_M).asc(), F.col("_p_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _cell_counts(batches):
    """mapInArrow body: per-batch point counts per cell at every
    ``KNN_RES`` resolution; points without coordinates have no cell."""
    for batch in batches:
        ok = pc.and_(pc.is_valid(batch.column("lat")), pc.is_valid(batch.column("lon")))
        lat = batch.column("lat").filter(ok).to_numpy()
        lon = batch.column("lon").filter(ok).to_numpy()
        if lat.size == 0:
            continue
        for res, cells in zip(KNN_RES, hexgrid.geo_to_cells(lat, lon, KNN_RES)):
            cell, n = np.unique(cells, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.full(cell.size, res, np.int32)), pa.array(cell), pa.array(n)],
                names=["res", "cell", "n"],
            )


def _histogram(points: DataFrame, k: int) -> tuple[int, np.ndarray, np.ndarray]:
    """(res, cells, counts): the exact number of points in every
    non-empty hex cell at the finest ``KNN_RES`` resolution whose
    non-empty cells hold on average at least ``k`` points (so at most
    n/k cells), or at the coarsest when none does (fewer than k points).
    Finer cells shrink the candidate disc around each query; coarser
    ones shrink the histogram that every query scans. At ≥ k points a
    cell, the few cells nearest a query already hold its k neighbours.

    One job: per-batch counts (``_cell_counts``), summed per (res, cell)
    and collected through Arrow. Choosing after the collect is cheaper than
    dropping the other resolutions in Spark first: a window over ``res``
    adds an exchange that cost more than the rows it saves."""
    table = (
        points.select("lat", "lon")
        .mapInArrow(_cell_counts, "res int, cell long, n long")
        .groupBy("res", "cell")
        .agg(F.sum("n").alias("n"))
        .toArrow()
    )
    res_col, cell, n = (table.column(c).to_numpy() for c in ("res", "cell", "n"))
    total = n[res_col == KNN_RES[0]].sum()
    res = max((r for r in KNN_RES if 0 < (res_col == r).sum() * k <= total), default=KNN_RES[0])
    pick = res_col == res
    return res, cell[pick], n[pick]


def _near_cells_udf(res: int, cells: np.ndarray, counts: np.ndarray, k: int):
    """Per query, the cells of the histogram that hold its k nearest
    points (all points when there are fewer than k): those with
    ``d - e <= rho``, where ``d`` is the haversine distance from the
    query to the cell centre, ``e`` bounds the distance from a cell's
    centre to any of its points, and ``rho`` is the smallest ``d + e``
    at which the cells nearest the query hold at least k points.

    Exact: a point lies within ``e`` of its cell centre, so the cells up
    to ``rho`` put k points within ``rho`` of the query, and every point
    within ``rho`` lies in a cell with ``d - e <= rho``. ``e`` is the
    cell's plane circumradius ``hexgrid.hex_edge_m`` (on the gnomonic
    face plane a point of the cell lies within it of the centre, and the
    geodesic distance never exceeds the plane distance) plus
    ``_MARGIN_M`` for float rounding in both haversines."""
    clat, clon = hexgrid.cell_to_geo(cells) if cells.size else (np.empty(0), np.empty(0))
    e = hexgrid.hex_edge_m(res) + _MARGIN_M
    need = min(k, int(counts.sum()))
    m = min(need, cells.size)  # a non-empty cell holds ≥ 1 point: m cells are enough
    step = max(1, _UDF_CELLS // max(1, cells.size))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        ok = (lat.notna() & lon.notna()).to_numpy()
        out = [cells[:0]] * len(lat)
        if m == 0:
            return pd.Series(out)
        rows = np.flatnonzero(ok)
        qlat, qlon = lat.to_numpy(np.float64), lon.to_numpy(np.float64)
        for lo in range(0, rows.size, step):
            r = rows[lo : lo + step]
            d = haversine_m(qlat[r, None], qlon[r, None], clat[None, :], clon[None, :])
            near = np.argpartition(d, m - 1, axis=1)[:, :m]
            near = np.take_along_axis(near, np.argsort(np.take_along_axis(d, near, axis=1)), axis=1)
            at = np.argmax(np.cumsum(counts[near], axis=1) >= need, axis=1)
            rho = d[np.arange(r.size), near[np.arange(r.size), at]] + e
            for i, keep in zip(r, d - e <= rho[:, None]):
                out[i] = cells[keep]
        return pd.Series(out)

    # evaluated once, like _ring_cells_udf
    return _udf.asNondeterministic()


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    start_ring: int = 4,
) -> DataFrame:
    """→ (query_id, id, dist_m, rank) with rank 1..k per query (fewer
    when there are fewer than k points with coordinates).

    ``points`` needs (id, lat, lon); ``queries`` needs
    (query_id, lat, lon). Deterministic: ties broken by entity id.

    One histogram job (``_histogram``) picks the resolution and counts
    the points per cell. Each query's cell set (``_near_cells_udf``)
    provably holds its k nearest points, ties at the kth distance
    included, so one cell equi-join, the Catalyst haversine refine and
    the ``(dist, id)`` window rank exactly; there is no fallback pass.
    The result is lazy and holds no storage; a query or point without
    coordinates has no neighbours.

    ``start_ring`` has no effect: perfbench's spatial workload still
    passes it by keyword, and it goes when that call drops it (ROADMAP
    item 3).
    """
    if k < 1:
        raise ValueError(f"knn_join k must be at least 1, got {k}")
    res, cells, counts = _histogram(points, k)
    cand = _candidates(points, queries, res, _near_cells_udf(res, cells, counts, k))
    return _top_k(cand, k).select("query_id", F.col("_p_id").alias("id"), DIST_M, "rank")


def range_join(points: DataFrame, queries: DataFrame, radius_m: float) -> DataFrame:
    """Distance-within (DWithin) join: every (query_id, point) pair with
    haversine distance ≤ ``radius_m``. → (query_id, id, dist_m).

    Filter-refine on the same candidate join as knn_join: the finest
    resolution (from ``RES`` down) whose ``MAX_RING``-ring covers the
    radius (``hexgrid.covered_m``) is picked, at the fewest rings that
    cover it — smallest cells → fewest false-positive candidates.
    Candidates come from ONE equi-join on cell ids (broadcast-able when
    the query side is small; no cross join, no range join), then the
    exact haversine refine applies. At 100 TB the point side is scanned
    once and shuffles only on the cell key.
    """
    if not isfinite(radius_m):  # the ring search below would never end
        raise ValueError(f"range_join radius_m must be finite, got {radius_m}")
    res = next((r for r in range(RES, 1, -1) if hexgrid.covered_m(r, MAX_RING) >= radius_m), 2)
    ring = next(r for r in count(1) if hexgrid.covered_m(res, r) >= radius_m)

    def rings(lat, lon):  # one expression: one Python stage runs cell → ring
        return _ring_cells_udf(res, ring)(hex_cell_udf(res)(lat, lon))

    cand = _candidates(points, queries, res, rings).where(F.col(DIST_M) <= F.lit(float(radius_m)))
    return cand.select("query_id", F.col("_p_id").alias("id"), DIST_M)
