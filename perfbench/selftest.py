"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py [--workload NAME]

For every workload in BENCHMARK.json, at ``--scale tiny`` (3,000-node
fixtures, query tables at sf 0.001):

- an untraced run prints every end-to-end metric, with its unit, and
  counts no failure;
- a traced run prints every per-layer metric, with its unit;
- a traced run whose checked output is deliberately corrupted and which
  runs a Spark job outside every span (``--inject-fault``) counts both
  as failed checks;
- run from a directory that holds only BENCHMARK.json and perfbench/
  (no pbf_spark), the command exits non-zero without a result.

Exits 0 when every case passes. Scratch space: ``.perfbench/selftest``.
"""

from __future__ import annotations

import argparse
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(cwd: Path, workload: str, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr
    except json.JSONDecodeError:
        return p.returncode, None, p.stderr


def expect_metrics(result: dict | None, declared: list[dict]) -> list[str]:
    if result is None:
        return ["no result line"]
    got = result["metrics"]
    errs = [f"missing {m['name']}" for m in declared if m["name"] not in got]
    errs += [f"unit of {m['name']}: {got[m['name']]['unit']} != {m['unit']}"
             for m in declared if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    errs += [f"undeclared {k}" for k in got if k not in {m["name"] for m in declared}]
    return errs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    failures = 0

    def report(case: str, errs: list[str]) -> None:
        nonlocal failures
        failures += bool(errs)
        print(f"{'FAIL' if errs else 'ok  '} {case}" + "".join(f"\n      {e}" for e in errs), flush=True)

    for w in workloads:
        code, res, _ = run(ROOT, w, "--trace", "0")
        errs = expect_metrics(res, spec["end_to_end"])
        if res is not None and (not res["correct"] or res["failed"]):
            errs.append(f"correct={res['correct']} failed={res['failed']}")
        report(f"{w}: end-to-end metrics (exit {code})", errs + ([f"exit {code}"] if code else []))

        code, res, _ = run(ROOT, w, "--trace", "1")
        errs = expect_metrics(res, spec["per_layer"])
        if res is not None and (not res["correct"] or res["failed"]):
            errs.append(f"correct={res['correct']} failed={res['failed']}")
        report(f"{w}: per-layer metrics (exit {code})", errs + ([f"exit {code}"] if code else []))

        code, res, err = run(ROOT, w, "--trace", "1", "--inject-fault")
        errs = [] if res is not None and res["failed"] >= 2 and not res["correct"] else [f"result {res}"]
        errs += [f"no failed check names {what}" for what, key in
                 (("the corrupted output", "brute force|oracle|manifest"), ("the untagged job", "belong to no span"))
                 if not re.search(f"FAILED CHECK .*({key})", err)]
        report(f"{w}: corrupted output and untagged job counted as failed", errs)

    bare = ROOT / ".perfbench" / "selftest" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run(bare, workloads[0], "--trace", "0")
    report("without pbf_spark: non-zero exit, no result", [] if code and res is None else [f"exit {code}, {res}"])
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{failures} failing case(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
