"""Per-ring polygon metrics: area, perimeter, centroid — pure Catalyst.

Consumes the same ``(polygon_id, rings)`` schema the PIP join and the
relation assembler produce (operators/spatial.py, operators/relations.py)
and computes, per ring, planar-projected area and centroid plus geodesic
perimeter — entirely in Catalyst (``transform`` / ``aggregate`` lambda
expressions; no UDF, no Python). Those higher-order functions are
``CodegenFallback``s: they run interpreted inside their codegen stage.

Projection contract (kept deliberately simple so an ANSI-SQL oracle can
replicate it bit-for-bit): each ring is projected equirectangularly
about its OWN mean latitude —  x = R·radians(lon)·cos(radians(φ̄)),
y = R·radians(lat), R = 6371008.8 m (IUGG mean radius, the same
constant as spatial/geometry.haversine_m) — then the shoelace formula
gives signed area and centroid. For rings spanning ≤ a few degrees
(admin boundaries, city polygons) this is within ~1e-4 relative of the
geodesic area; the perimeter is true haversine
(spatial/geometry.haversine_sql). All metrics are
invariant to ring rotation, starting vertex, and winding direction, so
results don't depend on stitch order (relations.py's rings carry a
closing vertex — it is dropped before projection).

100-TB shape: one narrow projection+fold pass per ring — no shuffle at
all beyond the ``explode`` (ring count ≈ polygon count; the fold over
vertices happens inside the row). Composes with assemble_multipolygons
as the measurement stage of an ingest pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spatial.geometry import EARTH_RADIUS_M as R, haversine_sql


def ring_metrics(
    polys: DataFrame, rings_col: str = "rings", id_col: str = "polygon_id"
) -> DataFrame:
    """→ one row per ring: (``id_col``, n_vertices, area_km2,
    perimeter_km, centroid_lat, centroid_lon).

    Degenerate rings (zero signed area) fall back to the vertex mean
    for the centroid instead of dividing by zero.
    """
    zero = "CAST(0.0 AS DOUBLE)"
    # haversine between consecutive ring vertices i and (i+1) mod n
    nxt = "_pts[(i+1) % _n]"
    seg = haversine_sql("_pts[i].lat", "_pts[i].lon", f"{nxt}.lat", f"{nxt}.lon")
    return (
        polys.select(id_col, F.explode(rings_col).alias("_ring"))
        .withColumn(
            "_pts",
            F.expr(
                "CASE WHEN size(_ring) > 1"
                " AND _ring[0].lat = element_at(_ring, -1).lat"
                " AND _ring[0].lon = element_at(_ring, -1).lon"
                " THEN slice(_ring, 1, size(_ring) - 1) ELSE _ring END"
            ),
        )
        .withColumn("_n", F.expr("size(_pts)"))
        .withColumn(
            "_phi0", F.expr(f"aggregate(_pts, {zero}, (a, p) -> a + p.lat) / _n")
        )
        .withColumn("_k", F.expr(f"cos(radians(_phi0)) * {R}"))
        .withColumn("_xs", F.expr("transform(_pts, p -> radians(p.lon) * _k)"))
        .withColumn("_ys", F.expr(f"transform(_pts, p -> radians(p.lat) * {R})"))
        .withColumn(
            "_cr",
            F.expr(
                "transform(sequence(0, _n - 1), i ->"
                " _xs[i] * _ys[(i+1) % _n] - _xs[(i+1) % _n] * _ys[i])"
            ),
        )
        .withColumn("_a2", F.expr(f"aggregate(_cr, {zero}, (a, x) -> a + x)"))
        .select(
            id_col,
            F.col("_n").alias("n_vertices"),
            F.expr("round(abs(_a2) / 2.0 / 1e6, 6)").alias("area_km2"),
            F.expr(
                f"round(aggregate(sequence(0, _n - 1), {zero},"
                f" (acc, i) -> acc + {seg}) / 1000.0, 6)"
            ).alias("perimeter_km"),
            F.expr(
                "round(CASE WHEN _a2 = 0.0"
                f" THEN aggregate(_pts, {zero}, (a, p) -> a + p.lat) / _n"
                " ELSE degrees((aggregate(sequence(0, _n - 1), "
                + zero
                + ", (a, i) -> a + (_ys[i] + _ys[(i+1) % _n]) * _cr[i])"
                f" / (3.0 * _a2)) / {R}) END, 6)"
            ).alias("centroid_lat"),
            F.expr(
                "round(CASE WHEN _a2 = 0.0"
                f" THEN aggregate(_pts, {zero}, (a, p) -> a + p.lon) / _n"
                " ELSE degrees((aggregate(sequence(0, _n - 1), "
                + zero
                + ", (a, i) -> a + (_xs[i] + _xs[(i+1) % _n]) * _cr[i])"
                " / (3.0 * _a2)) / _k) END, 6)"
            ).alias("centroid_lon"),
        )
    )
