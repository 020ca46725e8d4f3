"""The benchmark's workloads: inputs, one closed-loop round, checks.

Each workload runs one client: the next call starts when the previous
one returns. ``round()`` makes the public calls of one job through
``ctx.call`` (which times them) and returns a list of failed-check
messages; checks run outside the timed calls.
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pbf_spark.fixtures.generate import LONDON_BBOX

LONDON_NODES = 2_729_006  # nodes of the full london shape
# fixture shapes: (nodes, ways, relations, polygons)
SHAPES = {
    "ingest": {"full": (16_000, 2_600, 80, 8), "tiny": (3_000, 500, 20, 8)},
    "spatial": {"full": (12_000, 2_000, 40, 32), "tiny": (3_000, 500, 20, 8)},
}
QUERY_SF = 0.001
# declared queries the spatial_queries workload runs: the two plan
# interventions (the AQE shuffled-hash-join threshold on q5, _parallel
# scans of events and documents) over the tiling and text operators
DECLARED_QUERIES = ["q5_supplier_nation_revenue", "tile_density", "doc_token_stats"]
FILES_PER_TRIGGER = 1  # one document (one blob) per micro-batch: 5 checkpoint cycles
KNN_K = 10
RANGE_M = 500.0
KNN_START_RING = 4
CHECK_SAMPLE = 20  # kNN queries checked id by id against brute force
EARTH_R = 6371008.8


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def _london_density_bbox(n_nodes: int) -> tuple[dict, float]:
    """A bbox centred on the london one, shrunk so ``n_nodes`` have the
    node density of the full london shape; returns (bbox, linear scale)."""
    scale = min(1.0, math.sqrt(n_nodes / LONDON_NODES))
    b = LONDON_BBOX
    c_lat, c_lon = (b["top"] + b["bottom"]) / 2, (b["left"] + b["right"]) / 2
    h_lat, h_lon = scale * (b["top"] - b["bottom"]) / 2, scale * (b["right"] - b["left"]) / 2
    return {"top": c_lat + h_lat, "bottom": c_lat - h_lat, "left": c_lon - h_lon, "right": c_lon + h_lon}, scale


def _write_polygons(path: Path, seed: int, bbox: dict, n: int, scale: float) -> None:
    """Borough-like polygons (every 4th concave) sized to the bbox: the
    generator's recipe with its radii scaled like the bbox."""
    rng = np.random.default_rng([seed, 1])
    lat_span, lon_span = bbox["top"] - bbox["bottom"], bbox["right"] - bbox["left"]
    rows = []
    for i in range(n):
        c_lat = rng.uniform(bbox["bottom"] + 0.05 * lat_span, bbox["top"] - 0.05 * lat_span)
        c_lon = rng.uniform(bbox["left"] + 0.05 * lon_span, bbox["right"] - 0.05 * lon_span)
        n_vert = int(rng.integers(5, 12))
        angles = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
        radii = rng.uniform(0.01, 0.05, n_vert) * scale
        if i % 4 == 0:
            radii[::2] *= 0.35
        ring = [{"lat": float(c_lat + r * np.sin(a)), "lon": float(c_lon + 1.6 * r * np.cos(a))}
                for a, r in zip(angles, radii)]
        rows.append({"polygon_id": f"poly_{i:03d}", "ring": ring + ring[:1],
                     "category": ["borough", "park", "water"][i % 3]})
    ring_t = pa.list_(pa.struct([pa.field("lat", pa.float64(), False), pa.field("lon", pa.float64(), False)]))
    pq.write_table(pa.table({
        "polygon_id": [r["polygon_id"] for r in rows],
        "ring": pa.array([r["ring"] for r in rows], ring_t),
        "category": [r["category"] for r in rows],
    }), path)


def _write_query_points(fixture: Path, seed: int, n: int = 200) -> None:
    """kNN / range query points next to ``n`` evenly spaced nodes (the
    "neighbours of a feature" case), so every seed asks the same amount
    of work of the join; the generator's points are uniform over the
    bbox and land in empty areas a seed-dependent number of times."""
    from pbf_spark.operators.decode import decode_blob_payload

    rows = pq.read_table(fixture / "media_blobs" / "data").to_pylist()
    lat, lon = [], []
    for r in rows:
        if r["blob_type"] == "OSMData":
            for rb in decode_blob_payload(r["payload"], r["codec"], r["raw_size"], kinds=("node",)):
                lat.append(rb.column("lat").to_numpy())
                lon.append(rb.column("lon").to_numpy())
    lat, lon = np.concatenate(lat), np.concatenate(lon)
    pick = np.linspace(0, len(lat) - 1, n).astype(int)
    jitter = np.random.default_rng([seed, 2]).normal(0.0, 0.0005, (2, n))  # ~50 m
    pq.write_table(pa.table({
        "query_id": pa.array(range(n), pa.int64()),
        "lat": lat[pick] + jitter[0],
        "lon": lon[pick] + jitter[1],
    }), fixture / "query_points.parquet")


def osm_fixture(cache: Path, seed: int, shape: tuple[int, int, int, int]) -> tuple[Path, dict]:
    """Generated fixture for (seed, shape), cached. Nodes keep the
    london shape's density; documents are re-chunked to one document
    per file so a stream sees several micro-batches."""
    from pbf_spark.fixtures.generate import generate
    from pbf_spark.sources import iceberg_lite

    n_nodes, n_ways, n_rel, n_poly = shape
    bbox, scale = _london_density_bbox(n_nodes)
    out = cache / f"osm-{n_nodes}-{n_ways}-{n_rel}-{n_poly}-s{seed}"
    done = out / "perfbench.json"
    if done.exists():
        return out, json.loads(done.read_text())
    tmp = cache / f".{out.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    manifest = generate(
        tmp, n_nodes=n_nodes, n_ways=n_ways, n_relations=n_rel, seed=seed,
        spans_per_doc=1, write_pbf_file=False, n_polygons=n_poly, bbox=bbox,
    )
    gen_s = time.perf_counter() - t0
    _write_polygons(tmp / "polygons.parquet", seed, bbox, n_poly, scale)
    _write_query_points(tmp, seed)
    src = pq.read_table(tmp / "documents_interleaved" / "data")
    ddir = tmp / "docs_rechunked" / "data"
    ddir.mkdir(parents=True)
    files = []
    for i in range(src.num_rows):
        name = f"part-{i:05d}.parquet"
        pq.write_table(src.slice(i, 1), ddir / name)
        files.append({"path": f"data/{name}", "rows": 1, "bytes": (ddir / name).stat().st_size})
    iceberg_lite.commit(tmp / "docs_rechunked", files, schema_json=str(src.schema),
                        properties={"seed": seed, "rows_per_file": 1}, operation="overwrite")
    info = {"manifest": manifest, "generate_s": gen_s}
    (tmp / "perfbench.json").write_text(json.dumps(info))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, info


def query_tables(cache: Path, seed: int, sf: float) -> tuple[Path, dict]:
    import tables

    out = cache / f"tables-sf{sf}-s{seed}"
    done = out / "perfbench.json"
    if done.exists():
        return out, json.loads(done.read_text())
    tmp = cache / f".{out.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    counts = tables.write(tmp, seed, sf)
    info = {"counts": counts, "generate_s": time.perf_counter() - t0}
    (tmp / "perfbench.json").write_text(json.dumps(info))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, info


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def _entity_digest(df) -> tuple:
    """Order-insensitive digest of entity rows: per-type counts and a
    decimal sum of a 64-bit row hash (no overflow, any order)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        "entity_type", "id", "lat_nano", "lon_nano",
        F.to_json(F.col("tags")), F.to_json(F.col("refs")), F.to_json(F.col("members")),
    ).cast("decimal(38,0)")
    rows = df.groupBy("entity_type").agg(F.count("*").alias("n"), F.sum(h).alias("h")).collect()
    return tuple(sorted((r["entity_type"], r["n"], str(r["h"])) for r in rows))


# ---------------------------------------------------------------------------
# ingest_export: stream decode with lineage + checkpoint, the derived
# products (density tiles, way geometries), then the export round trip
# ---------------------------------------------------------------------------


class IngestExport:
    name = "ingest_export"

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir, self.info = osm_fixture(ctx.cache, ctx.seed, SHAPES["ingest"][ctx.scale])
        self.counts = self.info["manifest"]["counts"]
        self.n_entities = self.info["manifest"]["total_entities"]
        self.expect = None
        self.n = 0

    def prepare(self):
        from pbf_spark.sources import iceberg_lite

        self.blobs = iceberg_lite.read_table(self.ctx.spark, self.dir / "media_blobs")
        self.blobs.schema  # resolve the scan
        self.input_bytes = _dir_bytes(self.dir / "docs_rechunked") + _dir_bytes(self.dir / "media_blobs")

    def round(self) -> list[str]:
        from pyspark.sql import functions as F

        from pbf_spark import lineage
        from pbf_spark.operators import decode, tiles, ways
        from pbf_spark.sources import pbf_file, pbf_sink
        from pbf_spark.streaming.pipeline import stream_decode_documents

        ctx, spark = self.ctx, self.ctx.spark
        c = self.counts
        self.n += 1
        work = ctx.tmp / f"ingest-{self.n}"
        shutil.rmtree(work, ignore_errors=True)
        with ctx.call("ingest.stream", "streaming") as sp:
            q = stream_decode_documents(
                spark, self.dir / "docs_rechunked", self.blobs, work / "out", work / "ckpt",
                work / "lineage", run_id=f"r{self.n}", max_files_per_trigger=FILES_PER_TRIGGER,
            )
            sp["groups"].append(str(q.runId))  # the stream's jobs carry its runId as job group
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        ctx.note("ingest.stream.batches", len(prog))
        for p in prog:
            ctx.note("ingest.stream.addbatch_ms", p.durationMs.get("addBatch", 0))
            ctx.note("ingest.stream.checkpoint_ms",
                     p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0))
        ctx.note("ingest.output_bytes_per_input_byte", _dir_bytes(work / "out") / self.input_bytes)

        entities = spark.read.parquet(str(work / "out"))
        nodes = entities.where("entity_type = 'node'").select("id", "lat", "lon")
        with ctx.call("tiles", "operators.tiles"):
            t = tiles.materialize_tiles(nodes, tile_level=10, raster_bits=5).agg(
                F.count("*").alias("n"), F.sum("n_points").alias("pts")).first()
        with ctx.call("ways", "operators.ways"):
            w = ways.assemble_way_geometries(entities.where("entity_type = 'way'"), nodes).agg(
                F.count("*").alias("n"), F.sum("n_missing").alias("miss"),
                F.sum(F.size("way_lats")).alias("pts")).first()
        pbf = work / "export.osm.pbf"
        with ctx.call("export.write", "sources.pbf_sink"):
            res = pbf_sink.write_pbf(entities, pbf)
        with ctx.call("export.readback", "sources.pbf_file"):
            back = _entity_digest(decode.decode_blobs(pbf_file.read_blob_table(spark, pbf)))
        ctx.note("export.bytes_per_entity", pbf.stat().st_size / max(res["n_entities"], 1))

        fails = []
        got = {r["entity_type"]: r["count"] for r in entities.groupBy("entity_type").count().collect()}
        if ctx.mutate(got) != c:
            fails.append(f"ingest counts {got} != manifest {c}")
        lin = lineage.read_lineage(spark, work / "lineage").agg(
            F.sum("n_rows"), F.sum("n_nodes"), F.sum("n_ways"), F.sum("n_relations")).first()
        if list(lin) != [self.n_entities, c["node"], c["way"], c["relation"]]:
            fails.append(f"lineage totals {list(lin)} != manifest {c}")
        if t["pts"] != c["node"] or (w["n"], w["miss"]) != (c["way"], 0):
            fails.append(f"tile points {t['pts']}, ways {tuple(w)} != {c['node']}, ({c['way']}, 0)")
        if self.expect is None:
            # first round: the export digest against the ingested rows and
            # assembled points against refs; later rounds must match it
            n_refs = entities.agg(F.sum(F.size("refs"))).first()[0]
            if w["pts"] != n_refs:
                fails.append(f"assembled way points {w['pts']} != refs {n_refs}")
            if back != _entity_digest(entities):
                fails.append("export round trip digest differs from the ingested rows")
            self.expect = (back, tuple(t), tuple(w))
        elif (back, tuple(t), tuple(w)) != self.expect:
            fails.append("round results differ from the checked first round")
        if res["n_entities"] != self.n_entities:
            fails.append(f"exported {res['n_entities']} entities != {self.n_entities}")
        self.last_out = work / "out"
        return fails

    def traced_extras(self) -> None:
        """Single-thread wire timings, and the encode step alone."""
        from pyspark.sql import functions as F

        from pbf_spark.operators import decode
        from pbf_spark.sources import pbf_sink
        from pbf_spark.wire import frame, osmformat

        ctx = self.ctx
        rows = pq.read_table(self.dir / "media_blobs" / "data").to_pylist()
        data = [(r["codec"], r["payload"], r["raw_size"]) for r in rows if r["blob_type"] == "OSMData"]
        for _ in range(5):
            t_inf = t_parse = t_dec = raw_mb = 0.0
            ents = 0
            for codec, payload, raw_size in data:
                t0 = time.perf_counter()
                raw = frame.decompress_payload(codec, payload, raw_size)
                t1 = time.perf_counter()
                block = osmformat.parse_primitive_block(raw)
                t2 = time.perf_counter()
                decode.decode_blob_payload(payload, codec, raw_size)
                t3 = time.perf_counter()
                t_inf, t_parse, t_dec = t_inf + t1 - t0, t_parse + t2 - t1, t_dec + t3 - t2
                raw_mb += len(raw) / 1e6
                ents += len(block.nodes) + len(block.ways) + len(block.relations)
            ctx.note("wire.inflate_mb_per_s", raw_mb / t_inf)
            ctx.note("wire.parse_entities_per_s", ents / t_parse)
            ctx.note("decode.arrow_entities_per_s", ents / t_dec)

        entities = ctx.spark.read.parquet(str(self.last_out))
        with ctx.call("export.encode", "sources.pbf_sink", timed=False) as sp:
            pbf_sink.encode_blocks(entities).write.format("noop").mode("overwrite").save()
        ctx.note("export.encode_s", sp["end"] - sp["start"])
        # encode_blocks partitions by entity_type: at most 3 tasks get rows
        busy = entities.repartition("entity_type").select(F.spark_partition_id()).distinct().count()
        ctx.note("export.encode_busy_tasks", busy)

    def summary(self, calls: dict[str, list[float]]) -> dict:
        med = {k: statistics.median(v) for k, v in calls.items()
               if k in ("ingest.stream", "tiles", "ways", "export.write", "export.readback")}
        c = self.counts
        return {
            # entities streamed + points tiled + ways assembled + entities exported and read back
            "items": self.n_entities + c["node"] + c["way"] + 2 * self.n_entities,
            "med": med,
            "named": {
                "ingest.entities_per_s": self.n_entities / med["ingest.stream"],
                "tiles.points_per_s": c["node"] / med["tiles"],
                "ways.ways_per_s": c["way"] / med["ways"],
                "export.entities_per_s": self.n_entities / (med["export.write"] + med["export.readback"]),
                "export.readback_s": med["export.readback"],
            },
        }


# ---------------------------------------------------------------------------
# spatial: pruned node decode, then the filter-refine join operators
# ---------------------------------------------------------------------------


def _haversine(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def _inside(lat, lon, ring):
    """Even-odd ray cast, half-open rule (the engine's refine)."""
    y = np.array([p["lat"] for p in ring])
    x = np.array([p["lon"] for p in ring])
    inside = np.zeros(len(lat), bool)
    for y1, x1, y2, x2 in zip(y[:-1], x[:-1], y[1:], x[1:]):
        if y1 == y2:
            continue
        inside ^= ((y1 > lat) != (y2 > lat)) & (lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1))
    return inside


class Spatial:
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir, self.info = osm_fixture(ctx.cache, ctx.seed, SHAPES["spatial"][ctx.scale])
        self.n_nodes = self.info["manifest"]["counts"]["node"]
        self.expect = None

    def prepare(self):
        from pbf_spark.sources import iceberg_lite

        spark = self.ctx.spark
        self.docs = iceberg_lite.read_table(spark, self.dir / "docs_rechunked")
        self.blobs = iceberg_lite.read_table(spark, self.dir / "media_blobs")
        self.polys = spark.read.parquet(str(self.dir / "polygons.parquet"))
        self.queries = spark.read.parquet(str(self.dir / "query_points.parquet"))
        self.n_queries = pq.read_metadata(self.dir / "query_points.parquet").num_rows

    def _brute_force(self, nodes) -> dict:
        """numpy ground truth from the decoded node coordinates: hits per
        polygon and per range query, and the kNN ids of a fixed sample."""
        pdf = nodes.toPandas().sort_values("id")
        ids, lat, lon = pdf["id"].to_numpy(), pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
        qp = pq.read_table(self.dir / "query_points.parquet").to_pandas().sort_values("query_id")
        knn_ids, rng = {}, {}
        for i, r in enumerate(qp.itertuples()):
            d = _haversine(r.lat, r.lon, lat, lon)
            rng[int(r.query_id)] = int((d <= RANGE_M).sum())
            if i % (len(qp) // CHECK_SAMPLE) == 0:
                knn_ids[int(r.query_id)] = [int(x) for x in ids[np.lexsort((ids, d))[:KNN_K]]]
        pip = {p["polygon_id"]: int(_inside(lat, lon, p["ring"]).sum())
               for p in pq.read_table(self.dir / "polygons.parquet").to_pylist()}
        return {"knn": knn_ids, "range": {q: n for q, n in rng.items() if n},
                "pip": {p: n for p, n in pip.items() if n}}

    def round(self) -> list[str]:
        from pyspark.sql import functions as F

        from pbf_spark.operators import decode, knn, spatial

        ctx, spark = self.ctx, self.ctx.spark
        with ctx.call("spatial.decode", "operators.decode"):
            nodes = (
                decode.decode_documents(self.docs, self.blobs, columns=frozenset())
                .where("entity_type='node'").select("id", "lat", "lon").cache()
            )
            nodes.count()
        with ctx.call("pip.index", "operators.spatial") as sp:
            index = spatial.build_polygon_index(spark, self.polys, level=None)
        ctx.note("pip.index_build_s", sp["end"] - sp["start"])
        with ctx.call("pip.join", "operators.spatial"):
            pip = dict(spatial.point_in_polygon_join(nodes, index, level=max(index.levels))
                       .groupBy("polygon_id").count().collect())
        with ctx.call("knn", "operators.knn"):
            # start_ring as the declared knn_events query passes it
            knn_df = knn.knn_join(nodes, self.queries, k=KNN_K, start_ring=KNN_START_RING)
            n_knn = knn_df.count()
        with ctx.call("range", "operators.knn"):
            rng = dict(knn.range_join(nodes, self.queries, RANGE_M).groupBy("query_id").count().collect())
        ctx.add("pip.hits", sum(pip.values()))
        ctx.add("range.hits", sum(rng.values()))

        fails = []
        if n_knn != KNN_K * self.n_queries:
            fails.append(f"knn rows {n_knn} != {KNN_K} x {self.n_queries}")
        if self.expect is None:
            # first round: against numpy brute force; later rounds must
            # reproduce the checked results exactly
            truth = self._brute_force(nodes)
            got_knn = {}
            sample = knn_df.where(F.col("query_id").isin(list(truth["knn"]))).orderBy("query_id", "rank")
            for r in sample.collect():
                got_knn.setdefault(r["query_id"], []).append(r["id"])
            if ctx.mutate(got_knn) != truth["knn"]:
                fails.append("knn ids differ from brute force on the sample")
            if rng != truth["range"]:
                fails.append("range hits per query differ from brute force")
            if pip != truth["pip"]:
                fails.append("pip hits per polygon differ from brute force")
            self.expect = (pip, rng)
        elif (pip, rng) != self.expect:
            fails.append("round results differ from the checked first round")
        knn_df.unpersist()
        nodes.unpersist()
        spark.catalog.clearCache()
        return fails

    def summary(self, calls: dict[str, list[float]]) -> dict:
        med = {k: statistics.median(v) for k, v in calls.items()
               if k in ("spatial.decode", "pip.index", "pip.join", "knn", "range")}
        n, q = self.n_nodes, self.n_queries
        return {
            # nodes decoded + points joined to polygons + kNN and range queries
            "items": n + n + 2 * q,
            "med": med,
            "named": {
                "pip.points_per_s": n / (med["pip.index"] + med["pip.join"]),
                "knn.queries_per_s": q / med["knn"],
                "range.queries_per_s": q / med["range"],
            },
        }


# ---------------------------------------------------------------------------
# declared queries (pbf_spark.queries) on seeded TPC-H-like tables
# ---------------------------------------------------------------------------


def canon(pdf) -> tuple:
    """Row count, sorted column names and an order-insensitive value hash
    (floats to 6 places): how query results are compared with oracle_sql().
    Same rule as tools/parity_check.py, kept here so the benchmark does not
    change when tools/ does."""
    import pandas as pd

    cols = sorted(pdf.columns)
    d = pdf[cols].copy()
    for c in cols:
        s = d[c]
        if s.dtype == object and len(s) and isinstance(s.iloc[0], (list, tuple, np.ndarray)):
            d[c] = s.map(lambda v: ",".join(map(str, v)))
        elif str(s.dtype).startswith(("float", "Float")):
            d[c] = s.map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        elif "datetime" in str(s.dtype):
            d[c] = s.astype("datetime64[us]").astype(str)
        else:
            d[c] = s.astype(str)
    rows = sorted("\x01".join(r) for r in d.itertuples(index=False, name=None))
    return len(pdf), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()


class DeclaredQueries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir, self.info = query_tables(ctx.cache, ctx.seed, QUERY_SF)
        self.checked = False

    def prepare(self):
        from pbf_spark import queries

        self.fns = {n: queries.QUERIES[n] for n in DECLARED_QUERIES}
        self.oracles = {n: queries.ORACLES[n] for n in DECLARED_QUERIES}

    def _oracle(self, name: str):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in self.info["counts"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir / t}.parquet')")
            return con.execute(self.oracles[name]).fetchdf()
        finally:
            con.close()

    def round(self) -> list[str]:
        ctx, spark = self.ctx, self.ctx.spark
        fails = []
        for name, fn in self.fns.items():
            if not self.checked:
                # first (warm-up) pass: results against the DuckDB oracle
                with ctx.call(f"queries.{name}", "queries"):
                    pdf = fn(spark, str(self.dir)).toPandas()
                got, want = canon(ctx.mutate(pdf)), canon(self._oracle(name))
                if got != want:
                    fails.append(f"{name}: spark {got[:2]} != oracle {want[:2]}")
                continue
            with ctx.call(f"queries.{name}", "queries"):
                fn(spark, str(self.dir)).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        self.checked = True
        return fails

    def summary(self, calls: dict[str, list[float]]) -> dict:
        med = {k: statistics.median(v) for k, v in calls.items() if k.startswith("queries.")}
        named = {"queries.total_s": sum(med.values()), "queries.geomean_s": geomean(med.values())}
        named.update({f"{k}_s": v for k, v in med.items()})
        return {"items": len(med), "med": med, "named": named}


class SpatialQueries:
    """The query side: spatial operators, then declared queries."""

    name = "spatial_queries"

    def __init__(self, ctx):
        self.parts = [Spatial(ctx), DeclaredQueries(ctx)]
        self.info = {"generate_s": sum(p.info["generate_s"] for p in self.parts)}

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def round(self) -> list[str]:
        return [f for p in self.parts for f in p.round()]

    def traced_extras(self) -> None:
        pass

    def summary(self, calls: dict[str, list[float]]) -> dict:
        parts = [p.summary(calls) for p in self.parts]
        return {
            "items": sum(p["items"] for p in parts),
            "med": {k: v for p in parts for k, v in p["med"].items()},
            "named": {k: v for p in parts for k, v in p["named"].items()},
        }


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


WORKLOADS = {w.name: w for w in (IngestExport, SpatialQueries)}
