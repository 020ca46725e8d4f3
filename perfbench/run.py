"""pbf_spark benchmark: one workload, one closed-loop client, local[nproc].

    python3 perfbench/run.py --workload {ingest_export,spatial_queries}
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout (the directory holding ``pbf_spark/``).
Inputs are generated from ``--seed`` and cached under ``.perfbench/``;
all scratch space lives there too. One warm-up round runs untimed, then
rounds repeat until ``--seconds`` have been measured (at least one full
round). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

from harness import EventLog, RssSampler, Tracer, cpu_ticks, descendants, find_event_log, memcpy_gbps, self_times

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
TMP = WORK / "tmp" / f"run-{os.getpid()}"  # this run's scratch, removed at exit

END_TO_END = [
    ("items_per_s", "1/s"),
    ("call_geomean_ms", "ms"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]

_STAGE = ("task_run_s", "jvm_cpu_s", "python_s", "shuffle_write_mb", "spill_mb")
# stage-metric groups: name -> (calls, plan filter, extra metrics)
STAGE_GROUPS = {
    "ingest.decode_write": (["ingest.stream"], "not_lineage", ("peak_exec_mem_mb", "skew")),
    "ingest.lineage": (["ingest.stream"], "lineage", ("peak_exec_mem_mb", "skew")),
    "tiles": (["tiles"], None, ("skew",)),
    "ways": (["ways"], None, ("skew",)),
    "export.write": (["export.write"], None, ()),
    "export.readback": (["export.readback"], None, ()),
    "spatial.decode": (["spatial.decode"], None, ()),
    "pip": (["pip.index", "pip.join"], None, ()),
    "knn": (["knn"], None, ()),
    "range": (["range"], None, ()),
    "queries": (None, None, ()),  # every queries.* call
}
LAYERS = [
    "streaming", "sources.pbf_sink", "sources.pbf_file", "operators.decode",
    "operators.spatial", "operators.knn", "operators.tiles", "operators.ways", "queries", "bench",
]


def per_layer_catalog() -> list[tuple[str, str]]:
    from workloads import DECLARED_QUERIES

    cat = [
        ("host.memcpy_gbps", "GB/s"),
        ("host.steal_pct", "%"),
        ("setup.session_s", "s"),
        ("setup.prepare_s", "s"),
        ("fixture.generate_s", "s"),
        ("trace.overhead_pct", "%"),
        ("trace.reconcile_max_util", "ratio"),
        ("trace.spark_cover", "ratio"),
        ("trace.max_outside_ms", "ms"),
        ("trace.unattributed_jobs", "count"),
        ("wire.inflate_mb_per_s", "MB/s"),
        ("wire.parse_entities_per_s", "1/s"),
        ("decode.arrow_entities_per_s", "1/s"),
        ("ingest.entities_per_s", "1/s"),
        ("ingest.stream.batches", "count"),
        ("ingest.stream.addbatch_ms", "ms"),
        ("ingest.stream.checkpoint_ms", "ms"),
        ("ingest.output_bytes_per_input_byte", "ratio"),
        ("export.entities_per_s", "1/s"),
        ("export.encode_s", "s"),
        ("export.readback_s", "s"),
        ("export.encode_busy_tasks", "count"),
        ("export.bytes_per_entity", "B"),
        ("pip.points_per_s", "1/s"),
        ("pip.index_build_s", "s"),
        ("pip.candidates_per_hit", "ratio"),
        ("knn.queries_per_s", "1/s"),
        ("knn.jobs", "count"),
        ("range.queries_per_s", "1/s"),
        ("range.candidates_per_hit", "ratio"),
        ("tiles.points_per_s", "1/s"),
        ("ways.ways_per_s", "1/s"),
        ("queries.total_s", "s"),
        ("queries.geomean_s", "s"),
        ("queries.exchange_count", "count"),
    ]
    cat += [(f"queries.{q}_s", "s") for q in DECLARED_QUERIES]
    cat += [(f"self_s.{layer}", "s") for layer in LAYERS]
    for g, (_, _, extra) in STAGE_GROUPS.items():
        for m in _STAGE + extra:
            unit = "s" if m.endswith("_s") else "MB" if m.endswith("_mb") else "ratio"
            cat.append((f"stage.{g}.{m}", unit))
    return cat


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Ctx:
    def __init__(self, args, spark, tracer, cores: int):
        self.seed, self.scale, self.seconds = args.seed, args.scale, args.seconds
        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.fault = args.inject_fault
        self.cache = WORK / "cache"
        self.tmp = TMP / "rounds"
        self.measuring = False
        self.t_measure = None
        self.rounds_done = 0
        self.calls: dict[str, list[float]] = {}  # call name -> seconds
        self.notes: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.attempted = 0
        self.errors = 0

    @contextmanager
    def call(self, name: str, layer: str, timed: bool = True):
        """One public call into a layer: counted, timed, traced."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer) as sp:
                yield sp
        except Exception:
            self.errors += 1
            raise
        if timed and self.measuring:
            self.calls.setdefault(name, []).append(sp["end"] - sp["start"])
        log(f"{'  ' if self.measuring else 'w '}{name} {sp['end'] - sp['start']:.2f}s")

    def note(self, name: str, value: float) -> None:
        if self.measuring:
            self.notes.setdefault(name, []).append(float(value))

    def add(self, name: str, value: float) -> None:
        if self.measuring and self.tracer.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def out_of_time(self) -> bool:
        return (
            self.measuring and self.rounds_done >= 1
            and time.perf_counter() - self.t_measure >= self.seconds
        )

    def mutate(self, value):
        """Identity, or a deliberately wrong copy under --inject-fault
        (the self-test uses it to prove checks catch bad output)."""
        if not self.fault:
            return value
        if isinstance(value, dict):
            return {**value, "__fault__": 1}
        if hasattr(value, "iloc"):
            return value.iloc[1:]
        return value


# ---------------------------------------------------------------------------
# session and process lifecycle
# ---------------------------------------------------------------------------


def start_spark(cores: int, trace: bool, run_id: str):
    from pbf_spark.session import get_spark

    local = TMP / "spark"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import pbf_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    conf = {
        "spark.driver.memory": "1g",
        # no hsperfdata under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(TMP / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = WORK / "out" / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{run_id}", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session launches a new JVM instead of reusing this one
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in kids:  # reap our own children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# ---------------------------------------------------------------------------
# per-layer rollup (traced runs)
# ---------------------------------------------------------------------------


def layer_metrics(ctx: Ctx, log, spans: list[dict], named: dict) -> dict[str, float]:
    out = {name: 0.0 for name, _ in per_layer_catalog()}
    for k, v in ctx.notes.items():
        if k in out:
            out[k] = statistics.median(v)
    for k, v in named.items():
        if k in out:
            out[k] = v
    timed = [s for s in spans if s["name"] in ctx.calls or s["name"].startswith("queries.")]
    rounds = [s for s in spans if s["name"] == "round"]
    n_rounds = max(len(rounds), 1)
    for layer, secs in self_times(rounds + [s for s in spans if s["parent"] in {r["id"] for r in rounds}]).items():
        out[f"self_s.{layer}"] = secs / n_rounds
    if log is None:
        return out

    def groups(names):
        sel = [s for s in timed if (names is None and s["name"].startswith("queries.")) or
               (names is not None and s["name"] in names)]
        return [g for s in sel for g in s["groups"]], max(len({s["id"] for s in sel}), 1)

    def lineage_plan(text: str) -> bool:
        return "spark_partition_id()" in text.lower()

    for g, (names, plan, extra) in STAGE_GROUPS.items():
        gids, n = groups(names)
        jobs = log.select_jobs(gids)
        if plan is not None:
            jobs = [j for j in jobs if lineage_plan(log.job_plan(j)) == (plan == "lineage")]
        st = log.stats(jobs)
        for m in _STAGE + extra:
            out[f"stage.{g}.{m}"] = st[m] if m in ("peak_exec_mem_mb", "skew") else st[m] / n

    gids, n = groups(["knn"])
    out["knn.jobs"] = len(log.select_jobs(gids)) / n
    gids, _ = groups(["pip.join"])
    if ctx.counts.get("pip.hits"):
        out["pip.candidates_per_hit"] = log.join_output_rows(log.select_jobs(gids), "cover_cell") / ctx.counts["pip.hits"]
    gids, _ = groups(["range"])
    if ctx.counts.get("range.hits"):
        out["range.candidates_per_hit"] = log.join_output_rows(log.select_jobs(gids), "_p_cell") / ctx.counts["range.hits"]
    gids, n = groups(None)
    out["queries.exchange_count"] = log.exchange_count(log.select_jobs(gids)) / n

    # reconciliation of the event log with the spans (README, "Traced run")
    span_groups = {g for s in spans for g in s["groups"]}
    out["trace.unattributed_jobs"] = sum(
        1 for j in log.jobs.values()
        if j["group"] not in span_groups and any(r["start"] <= j["start"] <= r["end"] for r in rounds)
    )
    utils, covers, outside = [], [], [0.0]
    for s in spans:
        jobs = log.select_jobs(s["groups"])
        if not jobs:
            continue
        wall = s["end"] - s["start"]
        first = min(log.jobs[j]["start"] for j in jobs)
        last = max(log.jobs[j]["end"] for j in jobs)
        outside.append(max(0.0, s["start"] - first) + max(0.0, last - s["end"]))
        if s in timed:
            st = log.stats(jobs)
            utils.append(st["task_run_s"] / (ctx.cores * wall))
            covers.append(st["spark_busy_s"] / wall)
    out["trace.reconcile_max_util"] = max(utils, default=0.0)
    out["trace.spark_cover"] = statistics.median(covers) if covers else 0.0
    out["trace.max_outside_ms"] = 1e3 * max(outside)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

SETUPS = 2  # set-ups per run (each a new JVM, ~9 s); setup_s is their median
# reconciliation tolerances of a traced run
UTIL_TOL = 0.10  # a call's task time may exceed cores x its wall time by 10%
OUTSIDE_TOL_MS = 50.0  # a call's Spark jobs may run this far outside its span


def reconcile_failures(m: dict, have_log: bool) -> list[str]:
    if not have_log:
        return ["no Spark event log for the traced run"]
    fails = []
    if m["trace.unattributed_jobs"]:
        fails.append(f"{m['trace.unattributed_jobs']:.0f} Spark job(s) in traced rounds belong to no span")
    if m["trace.max_outside_ms"] > OUTSIDE_TOL_MS:
        fails.append(f"a call's Spark jobs ran {m['trace.max_outside_ms']:.0f} ms outside its span")
    if m["trace.reconcile_max_util"] > 1 + UTIL_TOL:
        fails.append(f"a call's task time exceeds cores x its wall time: {m['trace.reconcile_max_util']:.3f}")
    return fails


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-fault", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pbf_spark" / "__init__.py").is_file():
        print(f"perfbench: no pbf_spark package next to {HERE.name}/ — run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, geomean

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for stale in (WORK / "tmp").glob("run-*"):  # left by a killed run
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    (WORK / "cache").mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    host_gbps = memcpy_gbps()
    ctx = Ctx(args, None, Tracer(None, run_id, enabled=False), cores)
    spark, rss = None, None
    failures: list[str] = []
    crashed = False
    try:
        wl = WORKLOADS[args.workload](ctx)  # builds or loads the cached inputs
        log(f"inputs ready (generation {wl.info['generate_s']:.1f}s)")

        # set-up: session start + opening the inputs, SETUPS times, each
        # with a new JVM; the last session is the one measured
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = ctx.spark = start_spark(cores, bool(args.trace), run_id)
            t1 = time.perf_counter()
            wl.prepare()
            setups.append((t1 - t0, time.perf_counter() - t1))
            log(f"set-up {i + 1}: session {setups[-1][0]:.2f}s, prepare {setups[-1][1]:.2f}s")
            if i < SETUPS - 1:
                probe_app = spark.sparkContext.applicationId
                stop_spark(spark)
                spark = None
                for p in (WORK / "out" / "eventlog").glob(f"{probe_app}*"):
                    p.unlink()
        tracer = ctx.tracer = Tracer(spark.sparkContext, run_id, enabled=False)
        ctx.notes["setup.session_s"] = [statistics.median(s for s, _ in setups)]
        ctx.notes["setup.prepare_s"] = [statistics.median(p for _, p in setups)]
        ctx.notes["fixture.generate_s"] = [wl.info["generate_s"]]
        ctx.notes["host.memcpy_gbps"] = [host_gbps]

        # warm-up: one untimed round (the first pass runs ~2x slower)
        failures += wl.round()
        log("warm-up round done")

        # peak RSS covers the measured rounds only: the sampler resets
        # every process's high-water mark first, so the host probe, input
        # generation and the warm-up's checks do not count
        rss = RssSampler().start()
        ctx.measuring, ctx.t_measure = True, time.perf_counter()
        round_times = {True: [], False: []}
        round_steal = []  # share of the VM's busy CPU time stolen, per round
        while True:
            # traced runs alternate plain and span-recording rounds
            # (plain, traced, plain, ...) to measure the tracing overhead
            traced = bool(args.trace) and ctx.rounds_done % 2 == 1
            tracer.enabled = traced
            before = sum(map(sum, ctx.calls.values()))
            ticks0 = cpu_ticks()
            with tracer.span("round", "bench"):
                failures += wl.round()
                if traced and ctx.fault:  # an untagged job the reconciliation must catch
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    spark.range(1).count()
            round_times[traced].append(sum(map(sum, ctx.calls.values())) - before)
            ctx.rounds_done += 1
            busy, stolen = (b - a for a, b in zip(ticks0, cpu_ticks()))
            round_steal.append(100.0 * stolen / max(busy, 1))
            log(f"round {ctx.rounds_done}: {round_times[traced][-1]:.2f}s timed, "
                f"steal {round_steal[-1]:.1f}% of busy CPU")
            if ctx.out_of_time() and (not args.trace or ctx.rounds_done >= 3):
                break
        peak_rss = rss.stop()
        ctx.notes["host.steal_pct"] = [statistics.median(round_steal)]
        if args.trace:
            tracer.enabled = True
            wl.traced_extras()
            if round_times[False]:
                t_on, t_off = statistics.median(round_times[True]), statistics.median(round_times[False])
                ctx.notes["trace.overhead_pct"] = [100.0 * (t_on - t_off) / t_off]
    except Exception:
        traceback.print_exc()
        crashed = True
    finally:
        app_id = spark.sparkContext.applicationId if spark is not None else None
        if spark is not None:
            stop_spark(spark)
        if rss is not None and not rss.stopped:
            rss.stop()
        shutil.rmtree(TMP, ignore_errors=True)
        log("session stopped")

    if crashed or not ctx.calls:
        for f in failures:
            print(f"perfbench: FAILED CHECK {f}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(ctx.attempted, 1),
                          "failed": max(ctx.errors + len(failures), 1), "metrics": {}}))
        return 1

    summ = wl.summary(ctx.calls)
    e2e = {
        "items_per_s": summ["items"] / sum(summ["med"].values()),
        "call_geomean_ms": 1e3 * geomean(summ["med"].values()),
        "setup_s": statistics.median(s + p for s, p in setups),
        "peak_rss_mb": peak_rss,
    }
    print(f"perfbench: {args.workload} seed={args.seed} rounds={ctx.rounds_done} cores={cores} "
          f"host.memcpy_gbps={host_gbps:.2f} host.steal_pct={ctx.notes['host.steal_pct'][0]:.1f}",
          file=sys.stderr)
    for k, v in {**e2e, **summ["named"]}.items():
        print(f"perfbench:   {k} = {v:.6g}", file=sys.stderr)

    if args.trace:
        log_path = find_event_log(WORK / "out" / "eventlog", app_id)
        event_log = EventLog(log_path) if log_path else None
        metrics = layer_metrics(ctx, event_log, tracer.spans, summ["named"])
        out_dir = WORK / "out"
        tracer.write(out_dir / f"spans-{run_id}.jsonl")
        (out_dir / f"layers-{run_id}.json").write_text(json.dumps(metrics, indent=1))
        if log_path:
            log_path.unlink()
        failures += reconcile_failures(metrics, event_log is not None)
        units = dict(per_layer_catalog())
    else:
        metrics = e2e
        units = dict(END_TO_END)
    for f in failures:
        print(f"perfbench: FAILED CHECK {f}", file=sys.stderr)
    result = {
        "correct": not failures and not ctx.errors,
        "attempted": ctx.attempted,
        "failed": ctx.errors + len(failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
