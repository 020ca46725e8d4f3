"""Spatial operators: cell assignment + point-in-polygon join (B3/B4/B5).

Filter-refine spatial join, the classic distributed pattern:

1. polygons → adaptive multi-level S2 covering (coarse cells interior,
   fine at the boundary — spatial/covering.py), computed DISTRIBUTED via
   mapInArrow and **broadcast** — no shuffle of the big point side
   beyond the cell equi-join, no driver-side polygon collect;
2. candidate pairs by ancestor-cell equality: points explode to their
   (≤3) ancestor ids — pure bit math — and hash-join the covering once;
3. exact even-odd ray-cast refinement as a pure Catalyst expression
   over the broadcast edge arrays (interpreted: ``aggregate`` is a
   higher-order function, outside whole-stage codegen — but candidate
   rows never cross into Python); candidates from strictly-interior
   covering cells skip the refine entirely (provably inside).

At 100 TB the point side never moves: the only wide op is the final
aggregation the caller adds. Cell assignment itself is one numpy pass
per Arrow batch inside a pandas UDF; the polygon index (covering cells +
edges + attrs) is built once into checkpoints the index object owns —
never the plan-keyed SQL cache — and is reusable across batches
(PolygonIndex).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..spatial import covering, geometry, hexgrid, s2


def _cell_udf(cell_fn, level: int):
    """Null-safe batched numpy ``cell_fn(lat, lon, level)`` as a pandas
    UDF, evaluated once per row."""

    @pandas_udf(T.LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = np.zeros(len(lat), dtype=np.int64)
        ok = lat.notna().to_numpy() & lon.notna().to_numpy()
        if ok.any():
            out[ok] = cell_fn(lat.to_numpy()[ok], lon.to_numpy()[ok], level)
        return pd.Series(np.where(ok, out, None), dtype="Int64")

    # nondeterministic flag = "evaluate exactly once": Catalyst otherwise
    # copies the UDF into the isnotnull filter it infers from a join key
    # and pushes below the projection, so a second Python stage runs it
    return _udf.asNondeterministic()


def s2_cell_udf(level: int = 13):
    return _cell_udf(s2.lat_lon_to_cell_id, level)


def hex_cell_udf(res: int = 9):
    return _cell_udf(hexgrid.geo_to_cell, res)


def with_cells(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    s2_level: int = 13,
    hex_res: int = 9,
) -> DataFrame:
    """Add ``s2_cell`` (level ``s2_level``) and ``hex_cell`` (res ``hex_res``).

    Both via batched numpy pandas UDFs — measured ~20x faster than a
    Spark higher-order-function SQL expression, which Spark interprets
    per row; the DuckDB oracle's expression form (s2_expr.py) produces
    bit-identical cells. Both UDFs are marked nondeterministic solely to
    stop Catalyst from evaluating them twice.
    """
    return df.withColumn(
        "s2_cell", s2_cell_udf(s2_level)(F.col(lat_col), F.col(lon_col))
    ).withColumn("hex_cell", hex_cell_udf(hex_res)(F.col(lat_col), F.col(lon_col)))


# ---------------------------------------------------------------------------
# polygon covering + PIP join
# ---------------------------------------------------------------------------


_COVER_SCHEMA = (
    "polygon_id string, cover_cell long, cover_level int, interior boolean"
)


def polygon_covering_df(
    polygons: DataFrame, levels: tuple[int, ...] = covering.DEFAULT_LEVELS
) -> DataFrame:
    """Distributed adaptive covering: one numpy BFS per polygon inside
    mapInArrow (coarse interior cells + fine boundary cells — see
    spatial/covering.py). The polygon layer never has to fit the driver;
    only the resulting covering (bounded by the per-polygon cell budget)
    is broadcast by the PIP join. ``polygons`` carries ``rings`` (see
    build_polygon_index)."""

    out_schema = pa.schema(
        [
            ("polygon_id", pa.string()),
            ("cover_cell", pa.int64()),
            ("cover_level", pa.int32()),
            ("interior", pa.bool_()),
        ]
    )

    # mapInArrow, not mapInPandas: Spark's arrow→pandas converter builds
    # np.array over array<array<struct>> rows and rejects polygons whose
    # rings have differing vertex counts (inhomogeneous shape) — i.e.
    # every real polygon-with-holes
    def gen(batches):
        for batch in batches:
            pids = batch.column("polygon_id").to_pylist()
            geoms = batch.column("rings").to_pylist()
            for pid, raw in zip(pids, geoms):
                rings = [
                    np.array([[p["lat"], p["lon"]] for p in r], dtype=np.float64)
                    for r in raw
                ]
                ids, lvls, inner = covering.polygon_covering(rings, levels)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([pid] * len(ids), pa.string()),
                        pa.array(ids, pa.int64()),
                        pa.array(lvls, pa.int32()),
                        pa.array(inner, pa.bool_()),
                    ],
                    schema=out_schema,
                )

    return polygons.select("polygon_id", "rings").mapInArrow(gen, _COVER_SCHEMA)


class PolygonIndex:
    """Reusable broadcast polygon index: multi-level covering + edge
    arrays + pass-through attributes, all built DISTRIBUTED (no
    polygon collect; the layer can exceed driver memory) into
    localCheckpoints the index owns — reused across any number of point
    batches, exactly how a streaming/batched pipeline amortizes the
    dimension side at scale. The storage lives as long as this object
    (and the joins built from it); it is not in the plan-keyed SQL
    cache, so a later build over the same polygons recomputes."""

    def __init__(self, cover_df: DataFrame, edges_df: DataFrame, attrs_df: DataFrame | None, levels: list[int]):
        self.cover_df = cover_df
        self.edges_df = edges_df
        self.attrs_df = attrs_df
        self.levels = levels


# rings → ONE closed-edge array, entirely in Catalyst (no driver
# collect): per ring, n drops the repeated closing vertex if present and
# edge i wraps via pmod; even-odd parity over the concatenation is
# exactly polygon-minus-holes semantics
_EDGES_EXPR = """
flatten(transform(rings, r ->
  CASE WHEN size(r) > 1 AND r[0].lat = element_at(r, -1).lat
                        AND r[0].lon = element_at(r, -1).lon
       THEN transform(sequence(0, size(r) - 2),
            i -> struct(r[i].lat AS y1, r[i].lon AS x1,
                        r[pmod(i + 1, size(r) - 1)].lat AS y2,
                        r[pmod(i + 1, size(r) - 1)].lon AS x2))
       ELSE transform(sequence(0, size(r) - 1),
            i -> struct(r[i].lat AS y1, r[i].lon AS x1,
                        r[pmod(i + 1, size(r))].lat AS y2,
                        r[pmod(i + 1, size(r))].lon AS x2))
  END))
"""


def build_polygon_index(
    spark: SparkSession, polygons: DataFrame, level: int | None = 13,
    keep_polygon_cols: tuple[str, ...] = ("category",),
) -> PolygonIndex:
    """``level=None`` → data-driven: the ladder runs to AUTO_LEVELS and
    each polygon descends one rung at a time while its covering, cut at
    the next rung, still fits the cell budget (covering.polygon_covering)
    — small polygons earn level-16 boundary cells, large or long-edged
    ones stop coarser and keep coarse interior rungs. Results are
    level-independent; this is purely the perf knob round 3 measured
    being mis-set by hand.

    ``polygons`` carries either ``ring`` (one ring per polygon) or
    ``rings`` (outer ring plus holes)."""
    if "rings" not in polygons.columns:
        polygons = polygons.withColumn("rings", F.array("ring"))
    if level is None:
        levels = covering.AUTO_LEVELS
    else:
        levels = tuple(lv for lv in covering.DEFAULT_LEVELS if lv < level) + (level,)
    cover_df = polygon_covering_df(polygons, levels).localCheckpoint()
    edges_df = polygons.select("polygon_id", F.expr(_EDGES_EXPR).alias("_edges")).localCheckpoint()
    attrs_df = (
        polygons.select("polygon_id", *keep_polygon_cols).localCheckpoint()
        if keep_polygon_cols
        else None
    )
    present = sorted(
        r[0] for r in cover_df.select("cover_level").distinct().collect()
    )
    return PolygonIndex(cover_df, edges_df, attrs_df, present)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame | PolygonIndex,
    level: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    keep_polygon_cols: tuple[str, ...] = ("category",),
) -> DataFrame:
    """Exact PIP join: each point row × each polygon containing it.

    ``polygons`` is either the polygon DataFrame (broadcast-scale
    dimension; index built on the fly at ``level``, 13 when None) or a
    prebuilt PolygonIndex (``build_polygon_index(level=None)`` gives the
    data-driven covering).

    The points are celled at the index's finest covering level, the
    only prefilter level the index can answer; results do not depend on
    it. A ``level`` coarser than that level raises ValueError: those
    cells cannot be matched to their finer covering cells.
    """
    spark: SparkSession = points.sparkSession
    if isinstance(polygons, PolygonIndex):
        index = polygons
    else:
        index = build_polygon_index(spark, polygons, 13 if level is None else level, keep_polygon_cols)
    finest = max(index.levels, default=0)
    if level is not None and level < finest:
        raise ValueError(
            f"prefilter level {level} is coarser than the index's finest covering level {finest}"
        )
    level = finest
    cover_df = index.cover_df

    # refine stays JVM-side: the even-odd ray cast is an (interpreted)
    # aggregate over the polygon's (broadcast) edge array — candidate rows
    # never cross into Python (same arithmetic as geometry.points_in_ring
    # and the SQL oracle: half-open rule, strict <)
    edges_df = index.edges_df
    inside = F.expr(
        f"""
        aggregate(_edges, 0, (acc, e) -> acc + IF(
            ((e.y1 > {lat_col}) != (e.y2 > {lat_col}))
            AND {lon_col} < e.x1 + ({lat_col} - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1),
            1, 0)) % 2 = 1
        """
    )

    pts = points.withColumn("_pip_cell", s2_cell_udf(level)(F.col(lat_col), F.col(lon_col)))
    # multi-level prefilter in ONE broadcast hash join + ONE scan of the
    # fact side: each point explodes to its ancestor id at every covering
    # level present (<= 3 bit-math longs; ids are level-unique), and the
    # whole covering joins on that key. Coverings mark strictly-interior
    # cells, whose candidates skip the ray cast (they'd pass it anyway —
    # an interior cell contains no boundary point — so results are
    # identical; it just removes the refine cost for the bulk of a large
    # polygon's points).
    anc = F.array(
        *[
            F.expr(covering.ancestor_at_level_expr("_pip_cell", level, lv))
            for lv in index.levels
        ]
    )
    cand = pts.withColumn("_anc", F.explode(anc)).join(
        F.broadcast(cover_df), F.col("_anc") == F.col("cover_cell")
    ).drop("_pip_cell", "_anc", "cover_cell", "cover_level")
    # single pipeline (a union of interior/boundary branches would
    # re-scan the fact side once per branch): every candidate probes the
    # broadcast edge table, and `interior OR raycast` short-circuits so
    # interior-cell rows never evaluate the edge aggregate
    result = (
        cand.join(F.broadcast(edges_df), "polygon_id")
        .where(F.col("interior") | inside)
        .drop("_edges", "interior")
    )
    if keep_polygon_cols and index.attrs_df is not None:
        result = result.join(F.broadcast(index.attrs_df), "polygon_id")
    return result
