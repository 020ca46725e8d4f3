"""Way-geometry assembly: refs → node-coordinate join → ordered arrays.

The classic OSM big-big join the reference never needs (its model stops
at refs — model/entities.go:77-83) but any spatial engine over OSM does:
a way's geometry is the ordered coordinates of its referenced nodes.

100-TB shape: this is THE shuffle-heavy operator of OSM processing —
|way_refs| ≈ 10x |ways| rows joined against billions of nodes. The plan
here is the scalable one: posexplode (keeps ref order as an index), ONE
shuffle join on node id (AQE handles skew; bucket both sides by id to
make it co-located), then a partial-aggregated groupBy reassembling
arrays with ``array_sort`` on (pos, lat, lon) structs — no window, no
driver collect, no Python. Files written with LocationsOnWays
(decode_blobs(way_locations=True)) skip this join entirely — that is
exactly why the optional feature exists, and why the encoder supports
emitting it (sources/pbf_sink.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..spatial.geometry import haversine_sql


def assemble_way_geometries(
    ways: DataFrame,
    nodes: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """→ (id, way_lats, way_lons, n_missing) with coordinates in ref order.

    ``ways``: rows with (id, refs array<long>); ``nodes``: rows with
    (id, lat, lon). ``how='inner'`` drops ways referencing only missing
    nodes; ways with SOME missing nodes keep the found coordinates (gap
    closed up, ``n_missing`` says how many refs had no node — extracts
    of a planet file routinely clip way endpoints).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
    )
    return assemble_way_geometries_from_refs(refs, nodes, how)


def assemble_way_geometries_from_refs(
    refs: DataFrame,
    nodes: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Same as :func:`assemble_way_geometries` but over a PRE-EXPLODED
    refs table (way_id, pos, ref) — the storage layout that makes the
    big join co-located at cluster scale: write both ``refs`` and
    ``nodes`` bucketed (+sorted) by the node-id key and the bucket-aware
    scans feed the sort-merge join with NO Exchange on either fact side
    (contract: tests/test_bucketing.py); the only remaining shuffle is
    the unavoidable reassembly groupBy on way_id."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    n = nodes.select(
        F.col("id").alias("ref"), F.col("lat").alias("_nlat"), F.col("lon").alias("_nlon")
    )
    joined = refs.join(n, "ref", "left")
    assembled = (
        joined.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_nlat").isNotNull(),
                        F.struct("pos", F.col("_nlat").alias("lat"), F.col("_nlon").alias("lon")),
                    )
                )
            ).alias("_pts"),
            F.sum(F.when(F.col("_nlat").isNull(), 1).otherwise(0)).alias("n_missing"),
        )
        .select(
            F.col("way_id").alias("id"),
            F.expr("transform(_pts, p -> p.lat)").alias("way_lats"),
            F.expr("transform(_pts, p -> p.lon)").alias("way_lons"),
            "n_missing",
        )
    )
    if how == "inner":
        assembled = assembled.where(F.size("way_lats") > 0)
    return assembled


def way_length_expr(lat_col: str = "way_lats", lon_col: str = "way_lons") -> str:
    """Geodesic polyline length (meters) over parallel coordinate
    arrays, entirely in Catalyst: ``geometry.haversine_sql`` per
    consecutive pair inside one ``aggregate`` — no UDF, but the
    higher-order function is a ``CodegenFallback``, so the fold runs
    interpreted inside its codegen stage."""
    la, lo = lat_col, lon_col
    seg = haversine_sql(f"{la}[i]", f"{lo}[i]", f"{la}[i+1]", f"{lo}[i+1]")
    # CASE guards the size<2 case: Spark's sequence(0, -1) yields a
    # DESCENDING [0,-1], not an empty array
    return f"""
    CASE WHEN {la} IS NULL OR size({la}) < 2 THEN CAST(0.0 AS DOUBLE)
    ELSE aggregate(sequence(0, size({la}) - 2), CAST(0.0 AS DOUBLE), (acc, i) -> acc + {seg})
    END
    """


def with_way_lengths(
    df: DataFrame, lat_col: str = "way_lats", lon_col: str = "way_lons"
) -> DataFrame:
    """Add ``length_m``: geodesic length of each way's coordinate arrays
    (from LocationsOnWays decode or assemble_way_geometries)."""
    return df.withColumn("length_m", F.expr(way_length_expr(lat_col, lon_col)))


SIMPLIFIED_FIELDS = T.StructType(
    [
        T.StructField("way_lats", T.ArrayType(T.DoubleType()), True),
        T.StructField("way_lons", T.ArrayType(T.DoubleType()), True),
    ]
)


def _dp_mask(lats: np.ndarray, lons: np.ndarray, tol_m: float) -> np.ndarray:
    """Douglas-Peucker keep-mask, iterative (explicit stack, no
    recursion limit). Distances on the equirectangular projection about
    the way's mean latitude — consistent with polygons.ring_metrics,
    exact enough for simplification tolerances (meters over a way's
    extent) and fully vectorized per segment."""
    n = lats.size
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    m_lat = 111194.9266  # meters per degree latitude (mean-earth radius)
    kx = m_lat * np.cos(np.radians(lats.mean()))
    xs, ys = lons * kx, lats * m_lat
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        dx, dy = xs[j] - xs[i], ys[j] - ys[i]
        seg2 = dx * dx + dy * dy
        px, py = xs[i + 1 : j] - xs[i], ys[i + 1 : j] - ys[i]
        if seg2 == 0.0:  # closed/degenerate anchor pair: plain distance
            d2 = px * px + py * py
        else:  # perpendicular distance to the infinite anchor line
            cross = px * dy - py * dx
            d2 = cross * cross / seg2
        k = int(np.argmax(d2))
        if d2[k] > tol_m * tol_m:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def simplify_ways(
    df: DataFrame,
    tolerance_m: float,
    lat_col: str = "way_lats",
    lon_col: str = "way_lons",
) -> DataFrame:
    """Douglas-Peucker simplification of way geometry arrays (from
    LocationsOnWays decode or assemble_way_geometries): replaces the
    coordinate arrays with the minimal subsequence whose deviation from
    the original stays under ``tolerance_m`` meters; endpoints always
    survive, so topology at way junctions is preserved.

    100-TB shape: a narrow per-row array transform — Arrow-batched
    pandas UDF, no shuffle, no driver state; composes before tiling /
    rendering sinks to cut geometry bytes (a z12 render doesn't need
    sub-meter vertices). Deterministic for a given input (argmax ties
    break to the lowest index).
    """

    @pandas_udf(SIMPLIFIED_FIELDS)
    def _simplify(lats: pd.Series, lons: pd.Series) -> pd.DataFrame:
        out_la, out_lo = [], []
        for la, lo in zip(lats, lons):
            if la is None or len(la) < 3:
                out_la.append(la)
                out_lo.append(lo)
                continue
            a = np.asarray(la, dtype=np.float64)
            o = np.asarray(lo, dtype=np.float64)
            m = _dp_mask(a, o, tolerance_m)
            out_la.append(a[m])
            out_lo.append(o[m])
        return pd.DataFrame({"way_lats": out_la, "way_lons": out_lo})

    return (
        df.withColumn("_simp", _simplify(F.col(lat_col), F.col(lon_col)))
        .withColumn(lat_col, F.col("_simp.way_lats"))
        .withColumn(lon_col, F.col("_simp.way_lons"))
        .drop("_simp")
    )
