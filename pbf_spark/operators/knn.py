"""kNN join via hex k-ring expansion (SURVEY.md §2B B6).

Per query point: expand hexgrid k-rings (res 9) until ≥ k candidates
are found *and* the kth candidate's exact haversine distance is provably
inside the covered disc; refine with exact distance; rank by the
mandated deterministic total order ``(distance, id)``. Queries that
still miss after three rounds fall back to an exact brute-force pass
(rare; keeps the operator total).

Python runs only where the hexgrid math does: the cell of each point
and the query's ring cells (pandas UDFs). The distance refine is the
Catalyst ``geometry.haversine_sql`` expression — evaluated in the JVM
inside the join's codegen stage (range_join's filter folds into the
prefilter join condition), never a Python stage per candidate.

Scale shape: candidate generation is ring-cells × points equi-join on the
cell — the point side is shuffled once per round on cell (or broadcast
when queries are small); the window ranking partitions by query_id, never
a global sort.
"""

from __future__ import annotations

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
RES = 9  # knn_join's hex resolution
MAX_ROUNDS = 3  # ring-doubling rounds before the brute-force fallback
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


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    start_ring: int = 2,
) -> DataFrame:
    """→ (query_id, id, dist_m, rank) with rank 1..k per query.

    ``points`` needs (id, lat, lon); ``queries`` needs
    (query_id, lat, lon). Deterministic: ties broken by entity id.

    The result is localCheckpointed and the operator's internal caches
    (cell-indexed points, per-round remaining queries) are released
    before returning — the expansion loop is inherently iterative, so
    without this the caches would outlive the call.

    Scale note: each expansion round issues one driver action
    (``remaining.isEmpty()``) to decide whether to widen the ring, so
    the driver round-trips are bounded by ``MAX_ROUNDS`` (plus one
    brute-force fallback job for stragglers) — constant in the data
    size; only the per-round candidate join scales with the data.
    """
    pts = points.select(
        F.col("id").alias("_p_id"),
        F.col("lat").alias("_p_lat"),
        F.col("lon").alias("_p_lon"),
    ).withColumn("_p_cell", hex_cell_udf(RES)(F.col("_p_lat"), F.col("_p_lon")))
    pts = pts.cache()
    cached = [pts]

    # cache round-1's query frame too: the expansion loop references it
    # from several actions (candidate join per round, done-id semi/anti
    # joins, the final union materialization), and without the cache
    # each one re-executes the caller's ENTIRE query-side pipeline —
    # for queries derived from a repartitioned fact scan that is a full
    # exchange of the fact table per action
    remaining = queries.select(
        "query_id", F.col("lat").alias("_q_lat"), F.col("lon").alias("_q_lon")
    ).withColumn("_q_cell", hex_cell_udf(RES)(F.col("_q_lat"), F.col("_q_lon"))).cache()
    cached.append(remaining)

    # guaranteed covered disc radius around any point of the query cell
    # after a k-ring of radius r. Provable margin: gnomonic radial
    # compression dgeo/dplane = cos^2(theta) is minimized at the face
    # corners (theta_max ~ 37.4 deg for the icosahedron → cos^2 ~ 0.631),
    # so geo distance ≥ 0.6 × plane distance everywhere on a face; r rings
    # cover r × min-width in plane units from any point of the center
    # cell; the 2-circumradius subtraction bounds the in-cell offset
    # (plane ≥ geo for the subtracted term, also conservative).
    nominal_width = hexgrid.hex_edge_m(RES) * float(np.sqrt(3.0))

    def covered_m(r: int) -> float:
        return max(0.0, r * 0.6 * nominal_width - 2 * hexgrid.hex_edge_m(RES))

    results = []
    ring = start_ring
    for _ in range(MAX_ROUNDS):
        cand = (
            remaining.withColumn("_cells", _ring_cells_udf(RES, ring)(F.col("_q_cell")))
            .withColumn("_cell", F.explode("_cells"))
            .drop("_cells")
            .join(pts, F.col("_cell") == F.col("_p_cell"))
            .withColumn(DIST_M, F.expr(_DIST))
        )
        w = Window.partitionBy("query_id").orderBy(F.col(DIST_M).asc(), F.col("_p_id").asc())
        # cache: ≤ k rows per query, but its subtree is the round's whole
        # candidate join — consumed by stats, the done-id semi join and
        # the final union (3+ executions otherwise)
        ranked = cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).cache()
        cached.append(ranked)
        stats = ranked.groupBy("query_id").agg(
            F.count("*").alias("_n"), F.max(DIST_M).alias("_kth")
        )
        done_ids = stats.where(
            (F.col("_n") >= k) & (F.col("_kth") <= F.lit(covered_m(ring)))
        ).select("query_id")
        results.append(
            ranked.join(F.broadcast(done_ids), "query_id", "left_semi").select(
                "query_id", F.col("_p_id").alias("id"), DIST_M, "rank"
            )
        )
        remaining = remaining.join(F.broadcast(done_ids), "query_id", "left_anti").cache()
        cached.append(remaining)
        if remaining.isEmpty():
            remaining = None
            break
        ring *= 2

    if remaining is not None and not remaining.isEmpty():
        # exact fallback: cross join the stragglers (few) against all points
        brute = F.broadcast(remaining).crossJoin(pts).withColumn(DIST_M, F.expr(_DIST))
        w = Window.partitionBy("query_id").orderBy(F.col(DIST_M).asc(), F.col("_p_id").asc())
        results.append(
            brute.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("_p_id").alias("id"), DIST_M, "rank")
        )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return checkpoint_and_release(out, *cached)


def range_join(
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    max_ring: int = 4,
) -> DataFrame:
    """Distance-within (DWithin) join: every (query_id, point) pair with
    haversine distance ≤ ``radius_m``. → (query_id, id, dist_m).

    Filter-refine with the SAME provable coverage margin as knn_join:
    the query's hex cell k-ring at radius r covers a geodesic disc of
    ``r*0.6*width - 2*edge`` meters (gnomonic compression bound), so the
    FINEST resolution whose required ring count is ≤ ``max_ring`` is
    picked automatically (smallest cells that still cover the radius
    within the ring budget → fewest false-positive candidates) —
    candidates come from ONE equi-join on cell
    ids (broadcast-able when the query side is small; no cross join,
    no range join), then the exact haversine refine applies. At 100 TB
    the point side is scanned once and shuffles only on the cell key.
    """
    from math import ceil, sqrt

    def rings_needed(res_try: int) -> int:
        edge = hexgrid.hex_edge_m(res_try)
        width = edge * sqrt(3.0)
        return max(1, ceil((radius_m + 2.0 * edge) / (0.6 * width)))

    res = 2
    for res_try in range(9, 1, -1):  # finest first → smallest cells that fit
        if rings_needed(res_try) <= max_ring:
            res = res_try
            break
    ring = rings_needed(res)

    pts = points.select(
        F.col("id").alias("_p_id"),
        F.col("lat").alias("_p_lat"),
        F.col("lon").alias("_p_lon"),
    ).withColumn("_p_cell", hex_cell_udf(res)(F.col("_p_lat"), F.col("_p_lon")))
    q = queries.select(
        "query_id", F.col("lat").alias("_q_lat"), F.col("lon").alias("_q_lon")
    ).withColumn("_q_cell", hex_cell_udf(res)(F.col("_q_lat"), F.col("_q_lon")))
    cand = (
        q.withColumn("_cells", _ring_cells_udf(res, ring)(F.col("_q_cell")))
        .withColumn("_cell", F.explode(F.array_distinct("_cells")))
        .drop("_cells")
        .join(pts, F.col("_cell") == F.col("_p_cell"))
        .withColumn(DIST_M, F.expr(_DIST))
        .where(F.col(DIST_M) <= F.lit(float(radius_m)))
    )
    return cand.select("query_id", F.col("_p_id").alias("id"), DIST_M)
