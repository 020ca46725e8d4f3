"""Driver-contract query catalog: Spark implementation + DuckDB oracle SQL.

Every operator from SURVEY.md §2 that is SQL-expressible appears here
twice — once as an idiomatic DataFrame pipeline, once as ANSI SQL the
DuckDB oracle runs on the same parquet — with **identical output column
names and matching arithmetic** (same operation order, shared literal
constants, rounding before hashing). Non-SQL-expressible ops (S2 cell
math, tiles, simhash) ship without an oracle string → the driver records
the weaker rows-only check.

Spatial queries derive deterministic point coordinates from the events
table via exact integer arithmetic (multiply-mod), so Spark and DuckDB
compute bit-identical doubles.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants (single source for both engines)
# ---------------------------------------------------------------------------

BBOX = {"bottom": 51.28554, "top": 51.69344, "left": -0.511482, "right": 0.335437}
LAT_MUL, LAT_MOD = 2654435761, 1000003
LON_MUL, LON_MOD = 40503, 999983

# concave test polygon (star-ish) inside the bbox
POLYGON = [
    (51.36, -0.30),
    (51.45, -0.22),
    (51.60, -0.33),
    (51.52, -0.15),
    (51.63, 0.05),
    (51.50, 0.02),
    (51.42, 0.16),
    (51.44, -0.05),
]

STOP_EN = ("the", "a", "of", "and", "to", "in", "is")
STOP_SQL = ", ".join(f"'{w}'" for w in STOP_EN)


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def _parallel(df: DataFrame, key: str) -> DataFrame:
    """Spread an unsplittable scan across the cluster before expensive
    per-row work. The driver tables are single-row-group parquet files —
    a row group cannot be split, so every downstream expression (cell
    UDFs, md5 pipelines, ray casts) otherwise runs in ONE task no matter
    the core count. One cheap keyed exchange of the raw rows fixes that
    (hash on a unique key: even spread, deterministic, and no
    round-robin sort-before-repartition cost). Partition count follows
    the session's parallelism, so it scales with the cluster instead of
    being tuned to one machine."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(key))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table with the scan parallelized (see _parallel): the
    text operators all do per-row tokenize/md5 work that is orders of
    magnitude heavier than the 300-char rows being exchanged."""
    (docs,) = _tables(spark, sf_dir, "documents")
    return _parallel(docs, "doc_id")


# ---------------------------------------------------------------------------
# relational suite (classic analytics surface — Catalyst built-ins only)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _tables(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = _tables(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, supplier, li = _tables(spark, sf_dir, "region", "nation", "supplier", "lineitem")
    return (
        li.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _tables(spark, sf_dir, "customer", "orders")
    totals = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spent"), F.count("*").alias("n_orders"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("total_spent"), F.asc("c_custkey"))
    return (
        totals.withColumn("rank_in_nation", F.row_number().over(w))
        .where(F.col("rank_in_nation") <= 3)
        .select("c_nationkey", "c_custkey", "total_spent", "n_orders", "rank_in_nation")
        .orderBy("c_nationkey", "rank_in_nation")
    )


TOP_CUSTOMERS_SQL = """
WITH totals AS (
  SELECT o_custkey, round(sum(o_totalprice), 4) AS total_spent, count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_nationkey, c_custkey, total_spent, n_orders,
       row_number() OVER (PARTITION BY c_nationkey ORDER BY total_spent DESC, c_custkey ASC) AS rank_in_nation
FROM totals JOIN customer ON o_custkey = c_custkey
QUALIFY rank_in_nation <= 3
ORDER BY c_nationkey, rank_in_nation
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _tables(spark, sf_dir, "events")
    # countDistinct's partial phase is the heavy part and runs pre-shuffle
    ev = _parallel(ev, "event_id")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type").alias("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""

# ---------------------------------------------------------------------------
# spatial engine queries over events-derived deterministic points
# ---------------------------------------------------------------------------

_LAT_EXPR = (
    f"{BBOX['bottom']} + CAST((event_id * {LAT_MUL}) % {LAT_MOD} AS DOUBLE)"
    f" / {LAT_MOD}.0 * ({BBOX['top']} - {BBOX['bottom']})"
)
_LON_EXPR = (
    f"{BBOX['left']} + CAST((event_id * {LON_MUL}) % {LON_MOD} AS DOUBLE)"
    f" / {LON_MOD}.0 * ({BBOX['right']} - ({BBOX['left']}))"
)


def event_points(spark: SparkSession, sf_dir: str, parallel: bool = True) -> DataFrame:
    (ev,) = _tables(spark, sf_dir, "events")
    # every spatial query funnels through this projection and then does
    # heavy per-point work (cell UDFs, ancestor explode, ray cast) —
    # parallelize the single-row-group scan first. ``parallel=False`` is
    # for tiny highly-filtered derivations (e.g. the kNN query points)
    # where the exchange would cost more than it parallelizes.
    if parallel:
        ev = _parallel(ev, "event_id")
    return ev.select(
        F.col("event_id").alias("id"),
        F.expr(_LAT_EXPR).alias("lat"),
        F.expr(_LON_EXPR).alias("lon"),
    )


_POINTS_SQL = f"""
  SELECT event_id AS id, {_LAT_EXPR} AS lat, {_LON_EXPR} AS lon FROM events
"""


def pip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join of event points against the fixed concave polygon — the
    engine's broadcast-prefilter + ray-cast path, oracle-checked against
    a pure-SQL ray cast."""
    from .operators.spatial import point_in_polygon_join

    from .util import small_df

    pts = event_points(spark, sf_dir)
    poly = small_df(
        spark,
        [("star", [{"lat": la, "lon": lo} for la, lo in POLYGON], "test")],
        "polygon_id string, ring array<struct<lat:double,lon:double>>, category string",
    )
    return (
        point_in_polygon_join(pts, poly, keep_polygon_cols=())
        .select(F.col("id").alias("id"), F.col("polygon_id").alias("polygon_id"))
        .orderBy("id")
    )


def _pip_sql(rings: list[list[tuple[float, float]]], pid: str) -> str:
    """Pure-SQL even-odd ray cast over the concatenated edges of all
    rings (outer + holes) — the exact semantics of the engine's refine."""
    edges = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            y1, x1 = ring[i]
            y2, x2 = ring[(i + 1) % n]
            edges.append(f"({y1}, {x1}, {y2}, {x2})")
    edges_sql = ", ".join(edges)
    return f"""
WITH pts AS ({_POINTS_SQL}),
edges(y1, x1, y2, x2) AS (VALUES {edges_sql}),
hits AS (
  SELECT pts.id,
         sum(CASE WHEN ((y1 > lat) != (y2 > lat))
                   AND lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
             THEN 1 ELSE 0 END) AS crossings
  FROM pts CROSS JOIN edges
  GROUP BY pts.id
)
SELECT id, '{pid}' AS polygon_id FROM hits WHERE crossings % 2 = 1 ORDER BY id
"""


PIP_SQL = _pip_sql([POLYGON], "star")

# hole strictly inside the star's central body (verified: dense samples
# of the hole boundary are all interior to the outer ring): events
# inside it must NOT match (even-odd), and covering cells inside it must
# never be `interior`
POLYGON_HOLE = [
    (51.47, -0.17),
    (51.51, -0.17),
    (51.51, -0.10),
    (51.47, -0.10),
]

PIP_HOLES_SQL = _pip_sql([POLYGON, POLYGON_HOLE], "star_holed")

# full multipolygon shape: star + a second disjoint outer square in the
# bbox's east + the hole — several outer rings need no role labels under
# even-odd (reference relation model: model/entities.go:101-129)
POLYGON_OUTER2 = [
    (51.34, 0.20),
    (51.34, 0.30),
    (51.42, 0.30),
    (51.42, 0.20),
]

PIP_MULTI_SQL = _pip_sql([POLYGON, POLYGON_OUTER2, POLYGON_HOLE], "star_multi")


def pip_events_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against a true multipolygon — two disjoint outer rings
    plus a hole — through the same covering-prefilter + ray-cast path."""
    from .operators.spatial import point_in_polygon_join

    from .util import small_df

    pts = event_points(spark, sf_dir)
    poly = small_df(
        spark,
        [
            (
                "star_multi",
                [
                    [{"lat": la, "lon": lo} for la, lo in POLYGON],
                    [{"lat": la, "lon": lo} for la, lo in POLYGON_OUTER2],
                    [{"lat": la, "lon": lo} for la, lo in POLYGON_HOLE],
                ],
                "test",
            )
        ],
        "polygon_id string, rings array<array<struct<lat:double,lon:double>>>, category string",
    )
    return (
        point_in_polygon_join(pts, poly, keep_polygon_cols=())
        .select(F.col("id").alias("id"), F.col("polygon_id").alias("polygon_id"))
        .orderBy("id")
    )


def pip_events_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against the star polygon WITH a hole (multi-ring
    even-odd semantics): same broadcast-prefilter + ray-cast path, the
    covering is hole-aware (cells inside the hole are never marked
    interior). Models the reference's multipolygon relations
    (model/entities.go:101-129 outer/inner roles)."""
    from .operators.spatial import point_in_polygon_join

    from .util import small_df

    pts = event_points(spark, sf_dir)
    poly = small_df(
        spark,
        [
            (
                "star_holed",
                [
                    [{"lat": la, "lon": lo} for la, lo in POLYGON],
                    [{"lat": la, "lon": lo} for la, lo in POLYGON_HOLE],
                ],
                "test",
            )
        ],
        "polygon_id string, rings array<array<struct<lat:double,lon:double>>>, category string",
    )
    return (
        point_in_polygon_join(pts, poly, keep_polygon_cols=())
        .select(F.col("id").alias("id"), F.col("polygon_id").alias("polygon_id"))
        .orderBy("id")
    )

def _relation_fixture_polys(spark: SparkSession) -> DataFrame:
    """The star/square/hole multipolygon rebuilt from OSM relation
    members: a three-way outer chain with a reversed segment, a role=''
    single closed way, a two-way inner hole needing a reversal, an
    unclosed chain that must be dropped, and a missing-way member —
    shared by the PIP and ring-metrics relation queries."""
    from .operators.relations import assemble_multipolygons
    from .util import small_df

    unclosed = [(51.40, -0.45), (51.45, -0.45), (51.45, -0.40)]
    nodes = []
    for base, ring in (
        (100, POLYGON),
        (200, POLYGON_OUTER2),
        (300, POLYGON_HOLE),
        (400, unclosed),
    ):
        nodes += [(base + i, la, lo) for i, (la, lo) in enumerate(ring)]
    nodes_df = small_df(spark, nodes, "id long, lat double, lon double")
    ways_df = small_df(
        spark,
        [
            (1, [100, 101, 102]),
            (2, [105, 104, 103, 102]),       # stored reversed
            (3, [105, 106, 107, 100]),
            (4, [200, 201, 202, 203, 200]),  # single closed way
            (5, [300, 301, 302]),
            (6, [300, 303, 302]),            # needs reversal
            (7, [400, 401]),
            (8, [401, 402]),                 # unclosed
        ],
        "id long, refs array<long>",
    )
    members = [
        (1, "way", "outer"),
        (2, "way", ""),
        (3, "way", "outer"),
        (4, "way", ""),
        (7, "way", "outer"),
        (8, "way", "outer"),
        (99, "way", "outer"),
        (100, "node", "admin_centre"),
        (5, "way", "inner"),
        (6, "way", "inner"),
    ]
    rel_df = small_df(
        spark,
        [(9, members)],
        "id long, members array<struct<ref:long,type:string,role:string>>",
    )
    # localCheckpoint: build_polygon_index scans the polygon frame twice
    # (covering + edges) — without this the whole stitch pipeline
    # (applyInPandas + 4 joins) executes twice per call
    return (
        assemble_multipolygons(rel_df, ways_df, nodes_df)
        .select("polygon_id", "rings")
        .localCheckpoint()
    )


def pip_relation_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against a multipolygon ASSEMBLED FROM AN OSM RELATION
    (operators/relations.py — fixture in :func:`_relation_fixture_polys`)
    fed through the same covering-prefilter + ray-cast path. The oracle
    ray-casts the expected rings directly, so any stitching error (role
    mix-up, missed reversal, leaked unclosed ring) changes the
    contained-point set and breaks the hash."""
    from .operators.spatial import point_in_polygon_join

    polys = _relation_fixture_polys(spark)
    pts = event_points(spark, sf_dir)
    return (
        point_in_polygon_join(pts, polys, keep_polygon_cols=())
        .select(F.col("id").alias("id"), F.col("polygon_id").alias("polygon_id"))
        .orderBy("id")
    )


def relation_ring_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area / perimeter / centroid of every ring of the
    relation-assembled multipolygon (operators/polygons.ring_metrics) —
    verifies the stitching AND the pure-Catalyst shoelace/haversine
    folds: the oracle computes the identical projection over the
    expected rings, so a leaked unclosed ring, a duplicated vertex, or
    a wrong fold breaks count or hash. Metrics are rotation- and
    winding-invariant, so stitch order doesn't matter."""
    from .operators.polygons import ring_metrics

    del sf_dir  # fixture-driven: the relation fixture is the input
    return ring_metrics(_relation_fixture_polys(spark)).orderBy("area_km2")


PIP_RELATION_SQL = _pip_sql([POLYGON, POLYGON_OUTER2, POLYGON_HOLE], "rel_9")


def _ring_metrics_sql(rings: list[list[tuple[float, float]]], pid: str) -> str:
    """SQL twin of operators/polygons.ring_metrics over literal rings:
    the identical per-ring equirectangular projection (mean-latitude
    reference, R = 6371008.8), shoelace area/centroid, and haversine
    perimeter — term order matches the Spark folds, so rounded values
    agree to the last digit."""
    rows = ",\n  ".join(
        "('{}', [{}], [{}])".format(
            pid,
            ", ".join(str(la) for la, _ in ring),
            ", ".join(str(lo) for _, lo in ring),
        )
        for ring in rings
    )
    R = "6371008.8"
    hav = f"""2 * {R} * asin(sqrt(least(greatest(
        pow(sin((radians(lats[i % n + 1]) - radians(lats[i])) / 2), 2)
        + cos(radians(lats[i])) * cos(radians(lats[i % n + 1]))
          * pow(sin((radians(lons[i % n + 1]) - radians(lons[i])) / 2), 2), 0.0), 1.0)))"""
    return f"""
WITH ring(polygon_id, lats, lons) AS (VALUES
  {rows}),
p AS (
  SELECT polygon_id, lats, lons, len(lats) AS n,
         list_sum(lats) / len(lats) AS phi0
  FROM ring
), pr AS (
  SELECT *, cos(radians(phi0)) * {R} AS k FROM p
), v AS (
  SELECT *,
    [radians(lons[i]) * k for i in generate_series(1, n)] AS xs,
    [radians(lats[i]) * {R} for i in generate_series(1, n)] AS ys
  FROM pr
), c AS (
  SELECT *,
    [xs[i] * ys[i % n + 1] - xs[i % n + 1] * ys[i]
     for i in generate_series(1, n)] AS cr
  FROM v
), a AS (SELECT *, list_sum(cr) AS a2 FROM c)
SELECT polygon_id, CAST(n AS INT) AS n_vertices,
  round(abs(a2) / 2 / 1e6, 6) AS area_km2,
  round(list_sum([{hav} for i in generate_series(1, n)]) / 1000.0, 6) AS perimeter_km,
  round(CASE WHEN a2 = 0 THEN list_sum(lats) / n
        ELSE degrees((list_sum([(ys[i] + ys[i % n + 1]) * cr[i]
                                for i in generate_series(1, n)]) / (3 * a2)) / {R})
        END, 6) AS centroid_lat,
  round(CASE WHEN a2 = 0 THEN list_sum(lons) / n
        ELSE degrees((list_sum([(xs[i] + xs[i % n + 1]) * cr[i]
                                for i in generate_series(1, n)]) / (3 * a2)) / k)
        END, 6) AS centroid_lon
FROM a ORDER BY area_km2
"""


RING_METRICS_SQL = _ring_metrics_sql([POLYGON, POLYGON_OUTER2, POLYGON_HOLE], "rel_9")


_HAVERSINE_SQL = (
    "2 * 6371008.8 * asin(sqrt(least(greatest("
    "pow(sin((radians(p.lat) - radians(q.lat)) / 2), 2) + "
    "cos(radians(q.lat)) * cos(radians(p.lat)) * "
    "pow(sin((radians(p.lon) - radians(q.lon)) / 2), 2), 0.0), 1.0)))"
)


def knn_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN of 20 query points (every 500th event) over all event points
    via one hex k-ring candidate pass plus the brute-force fallback;
    oracle is an exhaustive SQL scan."""
    from .operators.knn import knn_join

    pts = event_points(spark, sf_dir)
    # query side: 20 rows survive the filter — build them from the plain
    # scan (parallel=False): knn_join reads it twice (the candidate pass
    # and the anti join that picks its brute-force queries), and neither
    # read should re-execute the fact-side exchange
    queries = (
        event_points(spark, sf_dir, parallel=False)
        .where(F.col("id") % 500 == 0)
        .where(F.col("id") < 10000)
        .select(F.col("id").alias("query_id"), "lat", "lon")
    )
    out = knn_join(pts, queries, k=5)
    return out.select(
        "query_id", F.col("id").alias("id"), F.round(F.col("dist_m"), 3).alias("dist_m"), "rank"
    ).orderBy("query_id", "rank")


KNN_SQL = f"""
WITH pts AS ({_POINTS_SQL}),
q AS (SELECT id AS query_id, lat, lon FROM pts WHERE id % 500 = 0 AND id < 10000),
d AS (
  SELECT q.query_id, p.id, {_HAVERSINE_SQL} AS dist
  FROM q CROSS JOIN pts p
)
SELECT query_id, id, round(dist, 3) AS dist_m,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS INT) AS rank
FROM d
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


def s2_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 level-10 occupancy histogram. The cell id is computed by the
    numpy S2 implementation Spark-side and by the equivalent pure-SQL
    expression (spatial/s2_expr.py) in DuckDB — a full value-level oracle
    check of the from-scratch S2 math (both validated bit-identical)."""
    from .operators.spatial import s2_cell_udf

    pts = event_points(spark, sf_dir).withColumn(
        "s2_cell", s2_cell_udf(10)(F.col("lat"), F.col("lon"))
    )
    return (
        pts.groupBy("s2_cell")
        .agg(F.count("*").alias("n_points"), F.min("id").alias("min_id"))
        .orderBy(F.desc("n_points"), "s2_cell")
        .limit(50)
    )


def _s2_counts_sql() -> str:
    from .spatial.s2_expr import s2_cell_sql_duckdb

    src = s2_cell_sql_duckdb("lat", "lon", 10).format(src=f"({_POINTS_SQL})")
    return f"""
SELECT s2_cell, count(*) AS n_points, min(id) AS min_id
FROM {src}
GROUP BY s2_cell ORDER BY n_points DESC, s2_cell LIMIT 50
"""


def hex_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex res-7 occupancy. The cell id is computed by the numpy hexgrid
    Spark-side and by the equivalent pure-SQL expression
    (spatial/hexgrid_expr.py) in DuckDB — a full value-level oracle check
    of the from-scratch aperture-7 icosahedral index."""
    from .operators.spatial import hex_cell_udf

    pts = event_points(spark, sf_dir).withColumn(
        "hex_cell", hex_cell_udf(7)(F.col("lat"), F.col("lon"))
    )
    return (
        pts.groupBy("hex_cell")
        .agg(F.count("*").alias("n_points"))
        .orderBy(F.desc("n_points"), "hex_cell")
        .limit(50)
    )


def _hex_counts_sql() -> str:
    from .spatial.hexgrid_expr import hex_cell_sql_duckdb

    src = hex_cell_sql_duckdb("lat", "lon", 7).format(src=f"({_POINTS_SQL})")
    return f"""
SELECT hex_cell, count(*) AS n_points
FROM {src}
GROUP BY hex_cell ORDER BY n_points DESC, hex_cell LIMIT 50
"""


def tile_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tiles over event points; tile ids and occupancy are bit math
    on the SQL S2 expression, so DuckDB reproduces them exactly (the test
    points live on face 2 → ids positive → arithmetic >> is safe)."""
    from .operators.tiles import materialize_tiles

    t = materialize_tiles(event_points(spark, sf_dir), tile_level=9, raster_bits=4)
    return t.select(
        "tile_cell",
        "n_points",
        F.expr("size(filter(raster, x -> x > 0))").alias("occupied_bins"),
    ).orderBy(F.desc("n_points"), "tile_cell").limit(50)


def _tile_density_sql() -> str:
    from .spatial.s2_expr import s2_cell_sql_duckdb

    # fine cell at level 9+4=13; tile/bin via the same bit math as tiles.py
    src = s2_cell_sql_duckdb("lat", "lon", 13, out="_fine").format(src=f"({_POINTS_SQL})")
    shift_fine = 2 * (30 - 13) + 1
    tile_shift = 2 * (30 - 9) + 1
    lsb = 1 << (2 * (30 - 9))
    return f"""
WITH binned AS (
  SELECT (( _fine >> {shift_fine + 8}) << {tile_shift}) + {lsb} AS tile_cell,
         CAST((_fine >> {shift_fine}) & 255 AS INT) AS bin
  FROM {src}
)
SELECT tile_cell, count(*) AS n_points,
       CAST(count(DISTINCT bin) AS INT) AS occupied_bins
FROM binned GROUP BY tile_cell
ORDER BY n_points DESC, tile_cell LIMIT 50
"""


# ---------------------------------------------------------------------------
# training-data ops over documents / embeddings
# ---------------------------------------------------------------------------


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_stats

    docs = _documents(spark, sf_dir)
    return token_stats(docs).orderBy("doc_id")


TOKEN_STATS_SQL = """
SELECT doc_id,
       len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
       length(text) AS n_chars_measured,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS subword_est,
       round(length(text) / CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE), 4) AS avg_token_len
FROM documents ORDER BY doc_id
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import quality_score

    docs = _documents(spark, sf_dir)
    return quality_score(docs).orderBy("doc_id")


QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, w -> w IN ({STOP_SQL}))) AS stopword_hits,
         length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct_chars
  FROM t
)
SELECT doc_id, n_tokens, stopword_hits, punct_chars,
       round(least(n_tokens / 200.0, 1.0) * 0.4
             + least(stopword_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) * 5.0, 1.0) * 0.4
             + (1.0 - least(punct_chars / CAST(greatest(n_tokens, 1) AS DOUBLE), 1.0)) * 0.2,
             6) AS quality
FROM m ORDER BY doc_id
"""


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_id

    docs = _documents(spark, sf_dir)
    return lang_id(docs).orderBy("doc_id")


def _langid_sql() -> str:
    from .operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    hits = ",\n         ".join(
        f"len(list_filter(toks, w -> w IN ({', '.join(repr(w) for w in STOPWORDS[lang])}))) AS hits_{lang}"
        for lang in langs
    )
    # same strict-greater fold as the Spark side
    case = "'und'"
    best = "0"
    for lang in langs:
        case = f"CASE WHEN hits_{lang} > {best} THEN '{lang}' ELSE {case} END"
        best = f"greatest(hits_{lang}, {best})"
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
), h AS (
  SELECT doc_id,
         {hits}
  FROM t
)
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, {case} AS lang_pred
FROM h ORDER BY doc_id
"""


LANGID_SQL = _langid_sql()


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    docs = _documents(spark, sf_dir)
    return exact_dedup(docs).orderBy("fingerprint")


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS rep_id, count(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY fingerprint
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import fingerprint

    docs = _documents(spark, sf_dir)
    return fingerprint(docs).orderBy("doc_id")


FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents ORDER BY doc_id
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signature

    docs = _documents(spark, sf_dir)
    return minhash_signature(docs, n_hashes=4).orderBy("doc_id")


MINHASH_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id,
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          for i in generate_series(1, greatest(len(w) - 2, 0))] AS shingles
  FROM t
)
SELECT doc_id,
       list_min([substr(md5(s || '#' || '0'), 1, 16) for s in shingles]) AS mh_0,
       list_min([substr(md5(s || '#' || '0'), 17, 16) for s in shingles]) AS mh_1,
       list_min([substr(md5(s || '#' || '1'), 1, 16) for s in shingles]) AS mh_2,
       list_min([substr(md5(s || '#' || '1'), 17, 16) for s in shingles]) AS mh_3
FROM sh ORDER BY doc_id
"""


def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    docs = _documents(spark, sf_dir)
    return minhash_lsh_pairs(docs, n_hashes=8, bands=4, threshold=0.5).orderBy("id_a", "id_b")


# shared CTE chain: shingle → minhash → banded buckets → verified pairs
# (used by the pair query and, under WITH RECURSIVE, the cluster query)
_LSH_BODY = """t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id,
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          for i in generate_series(1, greatest(len(w) - 2, 0))] AS shingles
  FROM t
), sig AS (
  SELECT doc_id,
         [list_min([substr(md5(s || '#' || CAST(h // 2 AS VARCHAR)),
                           1 + 16 * (h % 2), 16) for s in shingles])
          for h in generate_series(0, 7)] AS mh
  FROM sh
), bands AS (
  SELECT doc_id, g.band, mh[2 * g.band + 1] || '|' || mh[2 * g.band + 2] AS key
  FROM sig, generate_series(0, 3) AS g(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), dsh AS (
  SELECT doc_id, list_distinct(shingles) AS s FROM sh
), pairs AS (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / greatest(len(list_distinct(list_cat(sa.s, sb.s))), 1), 6) AS jaccard
  FROM cand c
  JOIN dsh sa ON sa.doc_id = c.id_a
  JOIN dsh sb ON sb.doc_id = c.id_b
  WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
              / greatest(len(list_distinct(list_cat(sa.s, sb.s))), 1), 6) >= 0.5
)"""

LSH_PAIRS_SQL = f"""
WITH {_LSH_BODY}
SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
"""

# connected components of the near-dup pair graph by recursive min-label
# walk: a label spreads along an edge only onto a LARGER node id, so the
# component minimum (smaller than every other member) reaches every node
# while the enumeration stays bounded; min() per node then IS the
# component id — the same labeling operators/graph.connected_components
# converges to.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_LSH_BODY},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.id WHERE w.lbl < e.d
),
lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_rep
FROM lab ORDER BY doc_id
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER assignment: LSH pairs → distributed
    connected components (operators/graph.py) → one row per document
    with its cluster id (min doc id in the near-dup component), cluster
    size, and the keep-one representative flag. The oracle recomputes
    the same pair graph and labels it with a recursive min-label CTE."""
    from .operators.dedup import near_dup_clusters

    docs = _documents(spark, sf_dir)
    return near_dup_clusters(docs, n_hashes=8, bands=4, threshold=0.5).orderBy("doc_id")


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.simsearch import cosine_topk

    (emb,) = _tables(spark, sf_dir, "embeddings")
    emb = _parallel(emb, "vec_id")  # per-row dot products dwarf the exchange
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(emb, queries, k=5).orderBy("q_id", "rank")


ANN_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
d AS (
  SELECT q.q_id, e.vec_id,
         round(
           list_sum([x[1] * x[2] for x in list_zip(
               [CAST(v AS DOUBLE) for v in e.embedding],
               [CAST(v AS DOUBLE) for v in q.q_vec])])
           / (sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in e.embedding]))
              * sqrt(list_sum([CAST(v AS DOUBLE) * CAST(v AS DOUBLE) for v in q.q_vec]))),
           6) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT q_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM d QUALIFY rank <= 5
ORDER BY q_id, rank
"""


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash

    docs = _documents(spark, sf_dir)
    return simhash(docs).orderBy("doc_id")


def _simhash_sql() -> str:
    """DuckDB twin of operators.dedup.simhash: identical md5-hi/lo bit
    construction, per-bit majority vote, signed-64 reassembly."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (({'hi' if b >= 32 else 'lo'} >> {b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    assemble = "\n       + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2**b if b < 63 else -(2**63)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
  FROM documents
), h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM t
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       {assemble} AS simhash
FROM v ORDER BY doc_id
"""


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-within join (DWithin): all event points within 3 km of 8
    fixed centers, via the hex-cell prefilter + exact haversine refine;
    oracle is the exhaustive cross-join filter (refine arithmetic is
    identical, so the prefilter must only be a correct superset)."""
    from .operators.knn import range_join

    from .util import small_df

    pts = event_points(spark, sf_dir)
    centers = small_df(
        spark,
        [(i, la, lo) for i, (la, lo) in enumerate(POLYGON)],
        "query_id int, lat double, lon double",
    )
    out = range_join(pts, centers, radius_m=3000.0)
    return out.select(
        "query_id", "id", F.round(F.col("dist_m"), 3).alias("dist_m")
    ).orderBy("query_id", "id")


def _range_join_sql() -> str:
    values = ", ".join(f"({i}, {la}, {lo})" for i, (la, lo) in enumerate(POLYGON))
    return f"""
WITH pts AS ({_POINTS_SQL}),
q(query_id, lat, lon) AS (VALUES {values}),
d AS (
  SELECT q.query_id, p.id, {_HAVERSINE_SQL} AS dist
  FROM q CROSS JOIN pts p
)
SELECT query_id, id, round(dist, 3) AS dist_m
FROM d WHERE dist <= 3000.0
ORDER BY query_id, id
"""


# ---------------------------------------------------------------------------
# temporal operators over events (sessionization / as-of join) + pyramid
# ---------------------------------------------------------------------------


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via window functions — the
    batch twin of the streaming applyInPandasWithState sessionizer.
    One shuffle on user_id; scales with keys, not history."""
    from .operators.temporal import sessionize

    (ev,) = _tables(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800).orderBy("user_id", "session_id")


EVENT_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) + 1 AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM numbered GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest strictly
    earlier view — union + ignorenulls-last window, ONE shuffle on the
    key (no per-key range explosion; DuckDB twin uses the same window
    construction, so semantics are pinned row-exactly)."""
    from .operators.temporal import asof_join

    (ev,) = _tables(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    out = asof_join(purchases, views)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_event_id").alias("view_event_id"),
        F.col("asof_ts").alias("view_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("gap_us"),
    ).orderBy("event_id")


ASOF_JOIN_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, 0 AS side FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS side FROM events WHERE event_type = 'view'
), seq AS (
  SELECT user_id, ts, event_id, side,
         last_value(CASE WHEN side = 1 THEN event_id END IGNORE NULLS)
           OVER w AS view_event_id,
         last_value(CASE WHEN side = 1 THEN ts END IGNORE NULLS)
           OVER w AS view_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, view_event_id, view_ts,
       epoch_us(ts) - epoch_us(view_ts) AS gap_us
FROM seq
WHERE side = 0 AND view_ts IS NOT NULL
ORDER BY event_id
"""


def tile_pyramid_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom pyramid (levels 9/7/5) over event points in ONE fact-table
    pass: the base cell explodes to bit-math ancestors, a single
    partial-aggregated groupBy yields every level (the naive plan
    re-shuffles the points once per zoom level)."""
    from .operators.tiles import tile_pyramid

    t = tile_pyramid(event_points(spark, sf_dir), base_level=9, levels=(9, 7, 5))
    return t.orderBy("level", F.desc("n_points"), "tile_cell").limit(150)


def _tile_pyramid_sql() -> str:
    from .spatial.covering import ancestor_at_level_expr
    from .spatial.s2_expr import s2_cell_sql_duckdb

    src = s2_cell_sql_duckdb("lat", "lon", 9, out="_base").format(src=f"({_POINTS_SQL})")
    arms = []
    for lv in (9, 7, 5):
        cell = "_base" if lv == 9 else ancestor_at_level_expr("_base", 9, lv)
        arms.append(f"SELECT {lv} AS level, {cell} AS tile_cell FROM base")
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH base AS (SELECT _base FROM {src}),
pyramid AS ({union})
SELECT level, tile_cell, count(*) AS n_points
FROM pyramid GROUP BY level, tile_cell
ORDER BY level, n_points DESC, tile_cell LIMIT 150
"""


def latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version snapshot (P16) oracle twin: the newest event per
    (user_id, event_type) via operators/history.latest_by_key — the
    exact window primitive latest_versions runs over (entity_type, id)
    on OSM history/replication streams. One hash exchange on the key.
    (A partial-aggregating max_by form was measured 0.4-0.5 s SLOWER
    here — per-row struct building costs more than the window's
    parallel sort — so the window form stays; see OPTIMIZATION_r06.md.)"""
    from .operators.history import latest_by_key

    (ev,) = _tables(spark, sf_dir, "events")
    latest = latest_by_key(
        ev,
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    return latest.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.round("value", 4).alias("value"),
    ).orderBy("user_id", "event_type")


LATEST_EVENTS_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, round(value, 4) AS value
FROM ranked WHERE rn = 1
ORDER BY user_id, event_type
"""


def bbox_pruned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered storage + bbox-pruned scan (P17): cluster the
    deterministic event points along a Morton curve into a throwaway
    parquet table (directory partition = coarse Morton prefix, rows
    sorted by the full key), then answer a bbox query through the
    pruned read path — directory pruning at plan time, z-range parquet
    pushdown at scan time, exact lat/lon refine last. The oracle is the
    plain bbox filter; identical rows prove the pruning lost nothing.

    The Z-order table is the call's scratch: it goes to a fresh
    directory under the session's storage root (spark.sql.warehouse.dir
    — tmpfs locally via session.py, shared storage on a cluster), the
    result is computed into a checkpoint the returned frame owns
    (util.checkpoint_and_release), and the directory is deleted before
    returning, so concurrent calls never share a path."""
    from .operators import cluster as cl
    from .util import checkpoint_and_release

    pts = event_points(spark, sf_dir)
    path = f"{spark.conf.get('spark.sql.warehouse.dir')}/zorder_pts-{uuid.uuid4().hex}"
    try:
        cl.write_clustered(pts, path, zoom=16, prefix_zoom=11, target_partitions=8)
        got = cl.read_bbox(
            spark,
            path,
            lat_min=51.40,
            lat_max=51.55,
            lon_min=-0.25,
            lon_max=0.05,
            zoom=16,
            prefix_zoom=11,
        )
        return checkpoint_and_release(got.select("id").orderBy("id"))
    finally:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


BBOX_PRUNED_SQL = f"""
WITH points AS ({_POINTS_SQL})
SELECT id FROM points
WHERE lat BETWEEN 51.40 AND 51.55 AND lon BETWEEN -0.25 AND 0.05
ORDER BY id
"""


def doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sample.hash_split):
    md5-bucket assignment — stable under repartitioning and cluster
    size, leak-free per key, pure codegen (no shuffle, no RNG state).
    The oracle replays the identical md5 bucket in DuckDB."""
    from .operators.sample import hash_split

    docs = _documents(spark, sf_dir)
    return (
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


DOC_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_supplier_nation_revenue": q5_supplier_nation_revenue,
    "top_customers_window": top_customers_window,
    "events_hourly": events_hourly,
    "pip_events": pip_events,
    "pip_events_holes": pip_events_holes,
    "pip_events_multipolygon": pip_events_multipolygon,
    "pip_relation_polygons": pip_relation_polygons,
    "knn_events": knn_events,
    "s2_cell_counts": s2_cell_counts,
    "hex_cell_counts": hex_cell_counts,
    "tile_density": tile_density,
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_langid": doc_langid,
    "dedup_exact": dedup_exact,
    "doc_fingerprint": doc_fingerprint,
    "minhash_signatures": minhash_signatures,
    "ann_cosine_topk": ann_cosine_topk,
    "doc_simhash": doc_simhash,
    "lsh_near_dup_pairs": lsh_near_dup_pairs,
    "event_sessions": event_sessions,
    "asof_join_events": asof_join_events,
    "tile_pyramid": tile_pyramid_events,
    "range_join_events": range_join_events,
    "relation_ring_metrics": relation_ring_metrics,
    "dedup_clusters": dedup_clusters,
    "latest_events": latest_events,
    "bbox_pruned_events": bbox_pruned_events,
    "doc_split": doc_split,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_supplier_nation_revenue": Q5_SQL,
    "top_customers_window": TOP_CUSTOMERS_SQL,
    "events_hourly": EVENTS_HOURLY_SQL,
    "pip_events": PIP_SQL,
    "pip_events_holes": PIP_HOLES_SQL,
    "pip_events_multipolygon": PIP_MULTI_SQL,
    "pip_relation_polygons": PIP_RELATION_SQL,
    "knn_events": KNN_SQL,
    "doc_token_stats": TOKEN_STATS_SQL,
    "doc_quality": QUALITY_SQL,
    "doc_langid": LANGID_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "minhash_signatures": MINHASH_SQL,
    "ann_cosine_topk": ANN_SQL,
    "lsh_near_dup_pairs": LSH_PAIRS_SQL,
    "s2_cell_counts": _s2_counts_sql(),
    "tile_density": _tile_density_sql(),
    "doc_simhash": _simhash_sql(),
    "hex_cell_counts": _hex_counts_sql(),
    "event_sessions": EVENT_SESSIONS_SQL,
    "asof_join_events": ASOF_JOIN_SQL,
    "tile_pyramid": _tile_pyramid_sql(),
    "range_join_events": _range_join_sql(),
    "relation_ring_metrics": RING_METRICS_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "latest_events": LATEST_EVENTS_SQL,
    "bbox_pruned_events": BBOX_PRUNED_SQL,
    "doc_split": DOC_SPLIT_SQL,
}
