"""kNN and distance-within joins on a hex k-ring prefilter (SURVEY.md
§2B B6, P8).

Both joins come from one candidate pass, ``_candidates``: each query's
hex cell is widened to its k-ring, the ring cells are equi-joined to the
points' cells, and the exact haversine distance refines every candidate.
The prefilter is a superset of the pairs within ``hexgrid.covered_m``
of the query (the provable coverage margin), so results never depend on
the resolution or ring, only the candidate volume does.

* ``knn_join`` runs the pass once at res 9 and ranks by the mandated
  deterministic total order ``(distance, id)``. A query is done when it
  has ≥ k candidates and its kth distance is inside the covered disc;
  the rest (rare on dense data) go through an exact brute-force pass
  against all points, which keeps the operator total.
* ``range_join`` picks the finest resolution whose ``MAX_RING`` rings
  cover the radius and keeps the candidates within it.

Python runs only where the hexgrid math does: the cell of each point
and the query's ring cells (pandas UDFs). The distance refine is the
Catalyst ``geometry.haversine_sql`` expression — evaluated in the JVM
inside the join's codegen stage (range_join's filter folds into the
prefilter join condition), never a Python stage per candidate.

Scale shape: candidate generation is ring-cells × points equi-join on the
cell — the point side is shuffled once on cell (or broadcast when queries
are small); the window ranking partitions by query_id, never a global
sort.
"""

from __future__ import annotations

from itertools import count
from math import isfinite

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..spatial import hexgrid
from ..spatial.geometry import haversine_sql
from ..util import checkpoint_and_release
from .spatial import hex_cell_udf

DIST_M = "dist_m"
RES = 9  # knn_join's hex resolution, and range_join's finest
MAX_RING = 8  # range_join's ring budget: the finest resolution it fits wins
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

    return _udf


def _points(points: DataFrame) -> DataFrame:
    return points.select(
        F.col("id").alias("_p_id"), F.col("lat").alias("_p_lat"), F.col("lon").alias("_p_lon")
    )


def _queries(queries: DataFrame) -> DataFrame:
    return queries.select("query_id", F.col("lat").alias("_q_lat"), F.col("lon").alias("_q_lon"))


def _candidates(points: DataFrame, queries: DataFrame, res: int, ring: int) -> DataFrame:
    """Every (query, point) pair whose point lies in the query cell's
    ``ring``-ring at ``res``, with its exact ``dist_m``: a superset of the
    points within ``hexgrid.covered_m(res, ring)`` of the query.
    → (query_id, _p_id, dist_m, ...)"""
    pts = _points(points).withColumn("_p_cell", hex_cell_udf(res)(F.col("_p_lat"), F.col("_p_lon")))
    return (
        _queries(queries)
        .withColumn("_q_cell", hex_cell_udf(res)(F.col("_q_lat"), F.col("_q_lon")))
        .withColumn("_cells", _ring_cells_udf(res, ring)(F.col("_q_cell")))
        .withColumn("_cell", F.explode("_cells"))
        .drop("_cells")
        .join(pts, F.col("_cell") == F.col("_p_cell"))
        .withColumn(DIST_M, F.expr(_DIST))
    )


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col(DIST_M).asc(), F.col("_p_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    start_ring: int = 4,
) -> DataFrame:
    """→ (query_id, id, dist_m, rank) with rank 1..k per query.

    ``points`` needs (id, lat, lon); ``queries`` needs
    (query_id, lat, lon). Deterministic: ties broken by entity id.

    One candidate pass at ``start_ring`` res-9 rings, ranked per query.
    A query whose kth candidate lies within ``hexgrid.covered_m`` is
    exact as ranked; every other query, including one with no candidate
    at all, is ranked by a broadcast cross join against all points. The
    result does not depend on ``start_ring``; only the share of queries
    that take the brute-force pass does.

    The done test is a window over the ranked rows, on the partitioning
    the ranking already has. The ranked rows are cached (the result and
    the anti join that picks the brute-force queries both read them) and
    released once the result is localCheckpointed; the query side is
    read twice, by the candidate pass and that anti join.
    """
    cols = ["query_id", F.col("_p_id").alias("id"), DIST_M, "rank"]
    per_query = Window.partitionBy("query_id")
    covered = F.lit(hexgrid.covered_m(RES, start_ring))
    ranked = (
        _top_k(_candidates(points, queries, RES, start_ring), k)
        .select(*cols)
        .withColumn(
            "_done",
            (F.count("*").over(per_query) >= k) & (F.max(DIST_M).over(per_query) <= covered),
        )
        .cache()
    )
    done = ranked.where("_done").drop("_done")
    rest = _queries(queries).join(F.broadcast(done.select("query_id")), "query_id", "left_anti")
    brute = F.broadcast(rest).crossJoin(_points(points)).withColumn(DIST_M, F.expr(_DIST))
    out = done.unionByName(_top_k(brute, k).select(*cols))
    return checkpoint_and_release(out, ranked)


def range_join(points: DataFrame, queries: DataFrame, radius_m: float) -> DataFrame:
    """Distance-within (DWithin) join: every (query_id, point) pair with
    haversine distance ≤ ``radius_m``. → (query_id, id, dist_m).

    Filter-refine on the same candidate pass as knn_join: the finest
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
    cand = _candidates(points, queries, res, ring).where(F.col(DIST_M) <= F.lit(float(radius_m)))
    return cand.select("query_id", F.col("_p_id").alias("id"), DIST_M)
