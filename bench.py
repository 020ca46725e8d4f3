"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries are forced end-to-end with a noop-format write (count() alone
would let Catalyst prune the expensive columns). Also times the engine's
own decode+spatial pipeline on a cached deterministic fixture
(greater-london-scale entity counts), reporting entities/sec — the
north-metric numerator. Scaling efficiency across executor counts is
measured separately by tools/scaling_multi.py (BASELINE.md protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

BENCH_FIXTURE = REPO / "bench_out" / "london-bench"
# the greater-london golden workload shape (BASELINE.md correctness
# contract: 2,729,006 / 459,055 / 12,833 = 3,200,894 entities) — big
# enough that per-stage fixed costs are noise; generated once, cached
BENCH_COUNTS = dict(n_nodes=2_729_006, n_ways=459_055, n_relations=12_833)


def ensure_bench_fixture() -> dict:
    from pbf_spark.fixtures.generate import generate

    manifest_path = BENCH_FIXTURE / "fixture_manifest.json"
    if manifest_path.exists():
        m = json.loads(manifest_path.read_text())
        if m["counts"] == {
            "node": BENCH_COUNTS["n_nodes"],
            "way": BENCH_COUNTS["n_ways"],
            "relation": BENCH_COUNTS["n_relations"],
        }:
            return m
    return generate(BENCH_FIXTURE, spans_per_doc=4, write_pbf_file=False, n_polygons=192, **BENCH_COUNTS)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# stall guard: this host has episodic memory-stall storms that inflate
# wall times 3-10x for seconds to minutes — best-of-2 does NOT survive a
# storm spanning both runs (round 3 published a 47 s number for a 6.9 s
# job; round 4 published 34.5 s while the warm number was 3.55 s). The
# round-4 convergence-only gate (two fastest runs within STALL_TOL)
# failed inside a sustained storm: two storm-slowed runs agree with each
# other. The guard is now HOST-STATE-AWARE: a warm-memcpy bandwidth
# probe (the one signal that tracks storms here — first-touch bandwidth
# is uselessly noisy, warm memcpy reads ~16-18 GB/s healthy vs ~9 in a
# storm) brackets every timed run; a run whose surrounding probes read
# below PROBE_FLOOR x the session-best probe is REJECTED outright, and
# convergence is only evaluated over accepted runs. Every phase's JSON
# row carries its probe (GB/s) so round-over-round comparisons can be
# normalized; phases that never got two converging healthy runs are
# flagged unstable and report their best observed time.
# ---------------------------------------------------------------------------

STALL_TOL = float(os.environ.get("SPARK_GRAFT_STALL_TOL", "0.25"))
PROBE_FLOOR = float(os.environ.get("SPARK_GRAFT_PROBE_FLOOR", "0.70"))
_STALL_RETRIES = 0
_UNSTABLE_PHASES: list[str] = []
_PHASE_PROBES: dict[str, float] = {}
_SESSION_BEST_PROBE = 0.0
_PROBE_BUF = None


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _memcpy_probe() -> float:
    """Warm-memcpy bandwidth in GB/s (0.25 GB pre-faulted buffers, min
    of 2 copies — ~30 ms healthy). Buffers are allocated once so the
    probe never measures first-touch page faults."""
    global _PROBE_BUF, _SESSION_BEST_PROBE
    import numpy as np

    if _PROBE_BUF is None:
        a = np.ones(1 << 28, np.uint8)
        b = np.empty_like(a)
        np.copyto(b, a)  # fault both
        _PROBE_BUF = (a, b)
    a, b = _PROBE_BUF
    t = min(_timed(lambda: np.copyto(b, a)) for _ in range(2))
    gbps = 0.25 / t
    _SESSION_BEST_PROBE = max(_SESSION_BEST_PROBE, gbps)
    return gbps


def best_of(fn, runs: int = 2, max_attempts: int = 5, label: str = "") -> float:
    """min over timed runs taken in a HEALTHY host window: each run is
    bracketed by memcpy probes and rejected if the worse probe reads
    below PROBE_FLOOR x the session-best; accepted runs must still
    converge (two fastest within STALL_TOL). The phase's best probe is
    recorded in _PHASE_PROBES for the JSON output."""
    global _STALL_RETRIES
    fn()  # warmup (session/codegen/python-daemon costs)
    accepted: list[float] = []
    all_times: list[float] = []
    phase_probe = 0.0
    while len(all_times) < max_attempts:
        p0 = _memcpy_probe()
        t = _timed(fn)
        p1 = _memcpy_probe()
        run_probe = min(p0, p1)  # worst host state observed around the run
        phase_probe = max(phase_probe, run_probe)
        all_times.append(t)
        if run_probe >= PROBE_FLOOR * _SESSION_BEST_PROBE:
            accepted.append(t)
        else:
            _STALL_RETRIES += 1
            print(
                f"[stall-guard] {label or 'phase'}: probe {run_probe:.1f} GB/s vs "
                f"session best {_SESSION_BEST_PROBE:.1f} — degraded window, "
                f"rejecting {t:.2f} s run",
                file=sys.stderr,
            )
            continue
        if len(accepted) >= runs:
            lo, hi = sorted(accepted)[:2]
            if hi <= lo * (1.0 + STALL_TOL):
                _PHASE_PROBES[label or "phase"] = round(phase_probe, 2)
                return lo
            _STALL_RETRIES += 1
            print(
                f"[stall-guard] {label or 'phase'}: two best healthy runs "
                f"{lo:.2f}/{hi:.2f} s disagree > {STALL_TOL:.0%}; re-running",
                file=sys.stderr,
            )
    _UNSTABLE_PHASES.append(label or "phase")
    _PHASE_PROBES[label or "phase"] = round(phase_probe, 2)
    return min(accepted or all_times)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(Path(sf_dir).name.removeprefix("sf") or 0.1)

    manifest = ensure_bench_fixture()

    # seed the session-best probe BEFORE any phase so the first phase's
    # acceptance test has a reference (if the whole session sits in a
    # storm the relative gate can't see it — but every phase row carries
    # its absolute GB/s, so a reader can)
    for _ in range(3):
        _memcpy_probe()

    from pbf_spark.session import get_spark

    spark = get_spark(app_name="pbf_spark-bench", master=f"local[{cpus}]")

    import __spark_entry__ as em

    # warm + best-of-2 (same as the engine benches): the first execution
    # pays session/codegen/python-daemon warmup — round-1 reported q1 at
    # 8.3 s that was ~7 s of warmup — and this host shows multi-second IO
    # stalls, so single-shot cold numbers aren't comparable round-over-round
    qtimes: dict[str, float] = {}
    for name, fn in em.queries().items():
        qtimes[name] = round(best_of(lambda fn=fn: force(fn(spark, sf_dir)), label=name), 3)
        # knn/pip cache helper frames internally; don't let residue skew
        # the next measurement
        spark.catalog.clearCache()

    # engine pipeline benches on the cached fixture
    from pyspark.sql import functions as F

    from pbf_spark.operators import decode, spatial, tiles
    from pbf_spark.sources import iceberg_lite

    docs = iceberg_lite.read_table(spark, BENCH_FIXTURE / "documents_interleaved")
    blobs = iceberg_lite.read_table(spark, BENCH_FIXTURE / "media_blobs")

    t_decode = best_of(lambda: force(decode.decode_documents(docs, blobs)), label="engine_decode")
    qtimes["engine_decode"] = round(t_decode, 3)

    # geometry-only decode (UDF-level column pruning) feeding the joins
    nodes = (
        decode.decode_documents(docs, blobs, columns=frozenset())
        .where("entity_type='node'")
        .select("id", "lat", "lon")
        .cache()
    )
    n_nodes = nodes.count()  # materialize so joins time only themselves
    polys = spark.read.parquet(str(BENCH_FIXTURE / "polygons.parquet"))
    # build-once dimension artifact. level=None → data-driven per-polygon
    # finest prefilter level (cell-budget rule over the full AUTO
    # ladder): the interleaved convergence-gated sweep (BASELINE.md, "PIP
    # prefilter level") measured the data-driven pick matching the best
    # manual config on BOTH the 192-polygon city workload and a
    # country-scale ring (where a mis-set fine ladder is a 9x
    # catastrophe).
    index = spatial.build_polygon_index(spark, polys, level=None)
    pip_level = max(index.levels)
    n_join_rows = spatial.point_in_polygon_join(nodes, index, level=pip_level).count()
    t_join = best_of(lambda: spatial.point_in_polygon_join(nodes, index, level=pip_level).count(), label="engine_pip_join")
    qtimes["engine_pip_join"] = round(t_join, 3)

    t_tiles = best_of(lambda: force(tiles.materialize_tiles(nodes, tile_level=10, raster_bits=5)), label="engine_tiles")
    qtimes["engine_tiles"] = round(t_tiles, 3)

    # way-geometry assembly: THE shuffle-heavy OSM operator (459k ways ×
    # 2.73M nodes on this fixture). Shuffled baseline vs the co-located
    # variant with both sides bucketed by the node-id key (the plan is
    # proven Exchange-free on the join in tests/test_bucketing.py; here
    # we measure what that buys at fixture scale). Bucketed-table write
    # time is amortized storage-layout cost, not join cost — excluded.
    from pbf_spark.operators import ways as ways_ops

    ways_df = (
        decode.decode_documents(docs, blobs, columns=frozenset({"refs"}), kinds=("way",), slim=True)
        .select("id", "refs")
        .cache()
    )
    n_ways = ways_df.count()
    t_ways = best_of(
        lambda: force(ways_ops.assemble_way_geometries(ways_df, nodes)),
        label="engine_way_assembly",
    )
    qtimes["engine_way_assembly"] = round(t_ways, 3)

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    import shutil

    for name in ("bench_refs", "bench_nodes"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"/dev/shm/pbf-spark-warehouse/{name}", ignore_errors=True)
    ways_df.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
    ).write.bucketBy(32, "ref").sortBy("ref").mode("overwrite").saveAsTable("bench_refs")
    nodes.write.bucketBy(32, "id").sortBy("id").mode("overwrite").saveAsTable("bench_nodes")
    b_refs, b_nodes = spark.table("bench_refs"), spark.table("bench_nodes")
    t_ways_b = best_of(
        lambda: force(ways_ops.assemble_way_geometries_from_refs(b_refs, b_nodes)),
        label="engine_way_assembly_bucketed",
    )
    qtimes["engine_way_assembly_bucketed"] = round(t_ways_b, 3)
    spark.catalog.clearCache()

    # dedup/ANN throughput at real scale (the driver documents/embeddings
    # tables are 500 rows — correctness-only); synthetic corpora are pure
    # codegen expressions with planted duplicates (fixtures/synth.py)
    from pbf_spark.fixtures.synth import synth_docs, synth_embeddings
    from pbf_spark.operators import dedup as dedup_ops
    from pbf_spark.operators import simsearch

    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))
    n_vecs = int(os.environ.get("SPARK_GRAFT_BENCH_VECS", "100000"))

    docs1m = synth_docs(spark, n_docs).cache()
    docs1m.count()
    _lsh_res: dict = {}

    def _run_lsh() -> None:
        _lsh_res["n"] = dedup_ops.minhash_lsh_pairs(
            docs1m, n_hashes=8, bands=4, threshold=0.5
        ).count()

    t_lsh = best_of(_run_lsh, label="engine_lsh_dedup_1m")
    n_lsh_pairs = _lsh_res["n"]
    qtimes["engine_lsh_dedup_1m"] = round(t_lsh, 3)
    spark.catalog.clearCache()

    emb100k = synth_embeddings(spark, n_vecs).cache()
    emb100k.count()
    q100 = emb100k.where(F.col("vec_id") % max(n_vecs // 100, 1) == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).cache()
    n_q = q100.count()
    ann = lambda: simsearch.lsh_topk(
        emb100k, q100, k=5, dim=64, n_planes=12, bands=2, multiprobe=1, max_bucket=4000
    )
    t_ann = best_of(lambda: ann().count(), label="engine_ann_100k")
    approx = {(r["q_id"], r["vec_id"]) for r in ann().collect()}
    exact = {
        (r["q_id"], r["vec_id"])
        for r in simsearch.cosine_topk(emb100k, q100, k=5).collect()
    }
    ann_recall = round(len(exact & approx) / max(len(exact), 1), 4)
    qtimes["engine_ann_100k"] = round(t_ann, 3)
    spark.catalog.clearCache()

    # ANN at 1M vectors — the 100-TB scale path evidenced at 10x the r2
    # corpus: banded sign-LSH + multiprobe + hot-bucket refinement, with
    # recall measured against the exact top-k on a sampled query set and
    # the hot-bucket census (the only broadcast artifact) reported
    n_vecs_1m = int(os.environ.get("SPARK_GRAFT_BENCH_VECS_1M", "1000000"))
    ann1m_stats: dict = {}
    if n_vecs_1m > 0:
        emb1m = synth_embeddings(spark, n_vecs_1m).cache()
        emb1m.count()
        q50 = emb1m.where(F.col("vec_id") % max(n_vecs_1m // 50, 1) == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ).cache()
        n_q1m = q50.count()
        ann1m = lambda: simsearch.lsh_topk(
            emb1m, q50, k=5, dim=64, n_planes=12, bands=2, multiprobe=1, max_bucket=4000
        )
        t_ann1m = best_of(lambda: ann1m().count(), label="engine_ann_1m")
        approx1m = {(r["q_id"], r["vec_id"]) for r in ann1m().collect()}
        exact1m = {
            (r["q_id"], r["vec_id"])
            for r in simsearch.cosine_topk(emb1m, q50, k=5).collect()
        }
        recall1m = round(len(exact1m & approx1m) / max(len(exact1m), 1), 4)
        # bucket census: how big is the hot-bucket broadcast at 1M rows?
        # (same construction lsh_topk uses internally: reserve bits
        # masked off the coarse key)
        planes = simsearch._band_planes(bands=2, n_planes=12, dim=64, seed=42, extra=6)
        bucketed = emb1m.select(
            F.explode(simsearch._band_bucket_udf(planes, 12)(F.col("embedding"))).alias("_pk")
        ).withColumn("_bucket", F.expr(f"_pk & {simsearch._COARSE_MASK}"))
        census = bucketed.groupBy("_bucket").count()
        n_buckets = census.count()
        n_hot = census.where(F.col("count") > 4000).count()
        qtimes["engine_ann_1m"] = round(t_ann1m, 3)
        ann1m_stats = {
            "ann1m_vectors": n_vecs_1m,
            "ann1m_queries": n_q1m,
            "ann1m_qps": round(n_q1m / t_ann1m, 2),
            "ann1m_recall_at_5": recall1m,
            "ann1m_buckets": n_buckets,
            "ann1m_hot_buckets": n_hot,
        }
        spark.catalog.clearCache()

    # host calibration: two ENGINE-INDEPENDENT workloads so round-over-
    # round comparisons can normalize for this host's multi-hour
    # degraded phases (this session measured the same code 1.5-5x
    # slower than round 3 across the board): a pure-codegen Spark job
    # (constant plan, no pbf_spark code) and a warm numpy memcpy.
    import numpy as np

    # min/max, not sum: ANSI mode errors on bigint overflow and 2^28
    # full-range xxhash64 values overflow a long sum
    cal = lambda: spark.range(1 << 28).select(
        F.xxhash64("id").alias("h")
    ).agg(F.min("h"), F.max("h")).collect()
    t_cal = best_of(cal, label="host_calibration")
    memcpy_gbps = round(max(_memcpy_probe(), _memcpy_probe()), 2)

    total = round(sum(qtimes.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "sf": sf,
                "engine": {
                    "fixture_entities": manifest["total_entities"],
                    "decode_entities_per_sec": round(manifest["total_entities"] / t_decode),
                    "pip_join_rows": n_join_rows,
                    "pip_join_rows_per_sec": round(n_join_rows / t_join),
                    "way_assembly_ways": n_ways,
                    "way_assembly_ways_per_sec": round(n_ways / t_ways),
                    "way_assembly_bucketed_ways_per_sec": round(n_ways / t_ways_b),
                    "lsh_dedup_docs": n_docs,
                    "lsh_dedup_pairs": n_lsh_pairs,
                    "lsh_dedup_docs_per_sec": round(n_docs / t_lsh),
                    "ann_vectors": n_vecs,
                    "ann_queries": n_q,
                    "ann_qps": round(n_q / t_ann, 2),
                    "ann_recall_at_5": ann_recall,
                    "cpus": int(cpus),
                    "stall_retries": _STALL_RETRIES,
                    "unstable_phases": _UNSTABLE_PHASES,
                    "phase_probes_gbps": _PHASE_PROBES,
                    "session_best_probe_gbps": round(_SESSION_BEST_PROBE, 2),
                    "host_calibration_sec": round(t_cal, 3),
                    "host_memcpy_gbps": memcpy_gbps,
                    **ann1m_stats,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
