"""Raster tile materialization per S2 cell + raster↔vector (B7).

A tile = an S2 cell at ``tile_level``; its raster = a 2^b × 2^b grid of
point-density bins. The bin index is **pure int64 bit math on the S2
Hilbert ij coordinates** (level ``tile_level + b``), so tile assignment is
bit-exact and independent of partitioning/parallelism — the determinism
the north rule requires across cluster sizes.

Plan shape: one narrow pandas UDF (cell at fine level) → two-level hash
aggregate (``groupBy(tile, bin).count()`` gets map-side partial agg) →
``applyInPandas`` per tile to densify. The only shuffle is keyed by
(tile, bin), which is fine-grained enough that urban-density skew spreads
over ~4^b keys per hot tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..spatial import s2
from .spatial import s2_cell_udf


TILE_SCHEMA = T.StructType(
    [
        T.StructField("tile_cell", T.LongType(), False),
        T.StructField("n_points", T.LongType(), False),
        T.StructField("raster", T.ArrayType(T.LongType(), False), False),
    ]
)


def materialize_tiles(
    points: DataFrame,
    tile_level: int = 10,
    raster_bits: int = 5,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """→ (tile_cell, n_points, raster[4^raster_bits]) density tiles."""
    fine_level = tile_level + raster_bits
    side = 1 << raster_bits
    n_bins = side * side

    fine = points.withColumn("_fine", s2_cell_udf(fine_level)(F.col(lat_col), F.col(lon_col)))
    # tile id and bin index by bit math on the fine cell id:
    # parent = drop 2*raster_bits position bits; bin = those dropped bits
    # (Hilbert sub-position — locality-preserving within the tile)
    shift_fine = 2 * (s2.MAX_LEVEL - fine_level) + 1
    binned = (
        fine.withColumn("_pos_bits", F.shiftrightunsigned(F.col("_fine"), shift_fine))
        .withColumn("bin", (F.col("_pos_bits").bitwiseAND(F.lit(n_bins - 1))).cast("int"))
        .withColumn(
            "tile_cell",
            # rebuild parent cell id: face|pos<<shift|lsb at tile_level
            (
                F.shiftleft(
                    F.shiftrightunsigned(F.col("_fine"), shift_fine + 2 * raster_bits),
                    2 * (s2.MAX_LEVEL - tile_level) + 1,
                )
                + F.lit(1 << (2 * (s2.MAX_LEVEL - tile_level)))
            ).cast("long"),
        )
    )
    counts = binned.groupBy("tile_cell", "bin").agg(F.count("*").alias("n"))

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = pdf["tile_cell"].iloc[0]
        raster = np.zeros(n_bins, dtype=np.int64)
        raster[pdf["bin"].to_numpy()] = pdf["n"].to_numpy()
        return pd.DataFrame(
            {"tile_cell": [tile], "n_points": [int(raster.sum())], "raster": [raster.tolist()]}
        )

    return counts.groupBy("tile_cell").applyInPandas(densify, TILE_SCHEMA)


def tile_pyramid(
    points: DataFrame,
    base_level: int = 9,
    levels: tuple[int, ...] = (9, 7, 5),
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Multi-resolution tile counts (the zoom pyramid) in ONE pass:
    → (level, tile_cell, n_points).

    The point side is scanned once — each point's base-level cell
    explodes to its ancestor id at every pyramid level (pure bit math,
    like the PIP prefilter), and a single partial-aggregated groupBy
    produces every zoom level. The naive per-level re-aggregation would
    re-shuffle the fact table once per level; this shuffles once total,
    and rolling coarse levels up from the base keeps counts consistent
    across the pyramid by construction.
    """
    from ..spatial.covering import ancestor_at_level_expr

    if max(levels) > base_level:
        raise ValueError(f"pyramid levels {levels} must be <= base_level {base_level}")
    base = points.withColumn(
        "_base", s2_cell_udf(base_level)(F.col(lat_col), F.col(lon_col))
    )
    anc = F.array(
        *[
            F.struct(
                F.lit(lv).alias("level"),
                F.expr(
                    "_base" if lv == base_level else ancestor_at_level_expr("_base", base_level, lv)
                ).alias("tile_cell"),
            )
            for lv in levels
        ]
    )
    return (
        base.select(F.explode(anc).alias("_lc"))
        .groupBy(F.col("_lc.level").alias("level"), F.col("_lc.tile_cell").alias("tile_cell"))
        .agg(F.count("*").alias("n_points"))
    )


def raster_to_vector(tiles: DataFrame, tile_level: int = 10, raster_bits: int = 5) -> DataFrame:
    """Inverse: non-empty bins → (tile_cell, bin, n, lat, lon) bin-center points."""
    fine_level = tile_level + raster_bits

    exploded = (
        tiles.select("tile_cell", F.posexplode("raster").alias("bin", "n"))
        .where(F.col("n") > 0)
        .withColumn(
            "_fine",
            (
                F.shiftleft(
                    F.shiftrightunsigned(F.col("tile_cell"), 2 * (s2.MAX_LEVEL - tile_level) + 1),
                    2 * raster_bits,
                )
                + F.col("bin")
            ).cast("long"),
        )
        .withColumn(
            "_fine",
            (
                F.shiftleft(F.col("_fine"), 2 * (s2.MAX_LEVEL - fine_level) + 1)
                + F.lit(1 << (2 * (s2.MAX_LEVEL - fine_level)))
            ).cast("long"),
        )
    )

    @pandas_udf(T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]))
    def center(cell: pd.Series) -> pd.DataFrame:
        lat, lon = s2.cell_id_to_center(cell.to_numpy(np.int64), fine_level)
        return pd.DataFrame({"lat": lat, "lon": lon})

    return (
        exploded.withColumn("_c", center(F.col("_fine")))
        .select("tile_cell", "bin", "n", F.col("_c.lat").alias("lat"), F.col("_c.lon").alias("lon"))
    )
