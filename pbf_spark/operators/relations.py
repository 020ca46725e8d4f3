"""Role-aware multipolygon assembly from OSM relations (§2 parity-plus).

The reference decodes relation members with outer/inner roles
(model/entities.go:101-129) and this engine's PIP join consumes
multi-ring polygons — this operator builds the bridge: relation
members (type='way', roles outer/inner, '' defaulting to outer per the
OSM old-style-multipolygon convention) + way geometries → stitched
closed rings → the ``(polygon_id, rings)`` schema
``build_polygon_index`` / ``point_in_polygon_join`` consume
(operators/spatial.py _EDGES_EXPR).

100-TB shape — the heavy data never leaves the JVM:

1. Ring membership is decided on NODE IDS, not coordinates: each member
   way contributes only (way_id, refs[0], refs[-1], role) — a handful
   of longs per way. Stitching (shared-endpoint chaining) runs in
   ``applyInPandas`` grouped by relation id over those tiny ID tuples;
   exact integer matching, no float-equality hazards, and the Python
   stage's input is O(|members|) rows regardless of way sizes.
2. Coordinates flow through two Catalyst-only stages: the big
   ways×nodes join is ``assemble_way_geometries`` (posexplode + one
   shuffle on node id, bucketable — ways.py), and ring concatenation
   is ``array_sort`` + indexed ``transform``/``slice``/``flatten``
   over the per-ring way arrays (no UDF; ``transform`` is a
   ``CodegenFallback``, interpreted inside its codegen stage).
3. Unclosed chains (clipped extracts) are counted per relation
   (``n_unclosed_rings``) and EXCLUDED from the output rings — an
   unclosed chain would otherwise be implicitly closed by the even-odd
   edge wrap and corrupt containment. Members referencing ways absent
   from the ways table are counted in ``n_missing_ways``. Rings whose
   member ways lost NODES (the chain closed on ids but the geometry has
   holes — clipped extracts again) are demoted the same way and counted
   in ``n_node_missing_rings`` (round-5 ADVICE: they were silently
   emitted as closed polygons before).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STITCH_SCHEMA = (
    "rel_id long, ring_idx int, seq int, way_id long, reversed boolean, closed boolean"
)


def _stitch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Chain one relation's member ways into rings by shared endpoint
    node ids. Deterministic: chains start at the smallest unused member
    index; at each step the matching candidate with the smallest member
    index wins (forward match preferred over reversed on a tie)."""
    rows: list[tuple] = []
    rel_id = int(pdf["rel_id"].iloc[0])
    ring_idx = 0
    for role in ("outer", "inner"):
        grp = pdf[(pdf["role"] == role) & pdf["first_ref"].notna()].sort_values("midx")
        unused: dict[int, tuple[int, int, int]] = {
            int(r.midx): (int(r.way_id), int(r.first_ref), int(r.last_ref))
            for r in grp.itertuples()
        }
        while unused:
            mx0 = min(unused)
            wid, start, end = unused.pop(mx0)
            chain = [(wid, False)]
            while end != start:
                cand = None
                for mx in sorted(unused):
                    w, f, l = unused[mx]
                    if f == end:
                        cand = (mx, w, False, l)
                        break
                    if l == end:
                        cand = (mx, w, True, f)
                        break
                if cand is None:
                    break
                mx, w, rev, end = cand
                unused.pop(mx)
                chain.append((w, rev))
            closed = end == start
            for seq, (w, rev) in enumerate(chain):
                rows.append((rel_id, ring_idx, seq, w, rev, closed))
            ring_idx += 1
    return pd.DataFrame(
        rows, columns=["rel_id", "ring_idx", "seq", "way_id", "reversed", "closed"]
    )


# per-ring concatenation: way 0 contributes all its points, every later
# way drops its first point (the endpoint shared with the previous way);
# the final point repeats the ring start, which the PIP edge builder's
# closed-ring CASE drops (_EDGES_EXPR)
_RING_PTS_EXPR = """
flatten(transform(_segs, (s, i) ->
  CASE WHEN i = 0
       THEN transform(arrays_zip(s.lats, s.lons), p -> struct(p.lats AS lat, p.lons AS lon))
       ELSE slice(transform(arrays_zip(s.lats, s.lons), p -> struct(p.lats AS lat, p.lons AS lon)),
                  2, size(s.lats) - 1)
  END))
"""


def assemble_multipolygons(
    relations: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    id_prefix: str = "rel_",
) -> DataFrame:
    """→ (polygon_id, rings, n_rings, n_unclosed_rings, n_missing_ways,
    n_node_missing_rings).

    ``relations``: rows with (id, members array<struct<ref,type,role>>)
    — pass decoded entities filtered to ``entity_type='relation'`` (and
    typically to ``type=multipolygon|boundary`` tags; any relation with
    stitchable way members works). ``ways``: (id, refs array<long>);
    ``nodes``: (id, lat, lon). Relations whose members yield no closed
    ring produce no output row. ``rings`` is ordered outer rings first,
    then inner, in stitch order — even-odd containment is order- and
    orientation-invariant, so downstream results don't depend on it.
    """
    from .ways import assemble_way_geometries

    members = (
        relations.select(
            F.col("id").alias("rel_id"), F.posexplode("members").alias("midx", "m")
        )
        .where(F.col("m.type") == "way")
        .select(
            "rel_id",
            "midx",
            F.col("m.ref").alias("way_id"),
            F.when(F.col("m.role") == "inner", F.lit("inner"))
            .otherwise(F.lit("outer"))
            .alias("role"),
        )
    )
    ends = ways.select(
        F.col("id").alias("way_id"),
        F.col("refs").getItem(0).alias("first_ref"),
        F.element_at("refs", -1).alias("last_ref"),
    )
    m2 = members.join(ends, "way_id", "left")

    stitched = m2.groupBy("rel_id").applyInPandas(_stitch, _STITCH_SCHEMA)

    # geometries only for ways that made it into a closed ring.
    # how='left' + the demotion below (round-5 ADVICE): a ring whose
    # member ways lost nodes — or whole ways — on a clipped extract is
    # geometrically corrupt even though its node-ID chain closed; it
    # must NOT be emitted as a polygon ring.
    member_ways = ways.join(
        members.select(F.col("way_id").alias("id")).distinct(), "id", "left_semi"
    )
    geoms = assemble_way_geometries(member_ways, nodes, how="left")

    ring_ways = (
        stitched.where("closed")
        .join(geoms.withColumnRenamed("id", "way_id"), "way_id", "left")
        .select(
            "rel_id",
            "ring_idx",
            "seq",
            F.when(F.col("reversed"), F.reverse("way_lats"))
            .otherwise(F.col("way_lats"))
            .alias("lats"),
            F.when(F.col("reversed"), F.reverse("way_lons"))
            .otherwise(F.col("way_lons"))
            .alias("lons"),
            (
                F.col("way_lats").isNull() | (F.coalesce("n_missing", F.lit(1)) > 0)
            ).alias("_degraded"),
        )
    )
    ring_groups = ring_ways.groupBy("rel_id", "ring_idx").agg(
        F.array_sort(F.collect_list(F.struct("seq", "lats", "lons"))).alias("_segs"),
        F.max("_degraded").alias("_bad"),
    )
    demoted = (
        ring_groups.where("_bad")
        .groupBy("rel_id")
        .agg(F.count("*").alias("n_node_missing_rings"))
    )
    rings = ring_groups.where(~F.col("_bad")).select(
        "rel_id", "ring_idx", F.expr(_RING_PTS_EXPR).alias("_pts")
    )
    per_rel = (
        rings.groupBy("rel_id")
        .agg(F.array_sort(F.collect_list(F.struct("ring_idx", "_pts"))).alias("_rs"))
        .select(
            "rel_id",
            F.expr("transform(_rs, r -> r._pts)").alias("rings"),
            F.size("_rs").alias("n_rings"),
        )
    )

    accounting = (
        m2.join(
            stitched.select("rel_id", "ring_idx", "way_id", "closed").distinct(),
            ["rel_id", "way_id"],
            "left",
        )
        .groupBy("rel_id")
        .agg(
            F.countDistinct(
                F.when(~F.col("closed"), F.col("ring_idx"))
            ).alias("n_unclosed_rings"),
            F.sum(F.when(F.col("first_ref").isNull(), 1).otherwise(0)).alias(
                "n_missing_ways"
            ),
        )
    )
    return (
        per_rel.join(accounting, "rel_id", "left")
        .join(demoted, "rel_id", "left")
        .select(
            F.concat(F.lit(id_prefix), F.col("rel_id").cast("string")).alias("polygon_id"),
            "rings",
            "n_rings",
            F.coalesce("n_unclosed_rings", F.lit(0)).alias("n_unclosed_rings"),
            F.coalesce("n_missing_ways", F.lit(0)).alias("n_missing_ways"),
            F.coalesce("n_node_missing_rings", F.lit(0)).alias("n_node_missing_rings"),
        )
    )


def multipolygon_relations(entities: DataFrame) -> DataFrame:
    """Filter decoded entities to relations tagged type=multipolygon or
    type=boundary (the two relation types that define areas)."""
    return entities.where(
        (F.col("entity_type") == "relation")
        & F.exists(
            "tags",
            lambda t: (t["key"] == "type")
            & t["value"].isin("multipolygon", "boundary"),
        )
    )
