"""Self-test of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py [--quick]

1. BENCHMARK.json has the required shape, and declares exactly the
   metric names and units that ``metrics.py`` prints.
2. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
3. (skipped with --quick) A short clean run exits 0 with a well-formed
   result; a run with an injected wrong answer and a run with an
   injected memo entry each exit non-zero and report ``correct: false``.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_declaration() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check(set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
          "BENCHMARK.json has exactly the required keys")
    check(isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60, "run_seconds in 1..60")
    check(2 <= len(bench["workloads"]) <= 8
          and all(set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
                  for w in bench["workloads"]), "2-8 workloads, each a name and a one-line why")
    names = [w["name"] for w in bench["workloads"]] + [m["name"] for m in bench["end_to_end"]] \
        + [m["name"] for m in bench["per_layer"]]
    check(len(names) == len(set(names)) and all(NAME.match(n) for n in names), "names valid and unique")
    e2e = bench["end_to_end"]
    check(all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 for m in e2e),
          "end_to_end entries have name/unit/better/bound, bound <= 0.25")
    check(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower" for m in e2e),
          "setup_s declared in seconds, lower is better")
    check(max(m["bound"] for m in e2e) == next(m["bound"] for m in e2e if m["name"] == "setup_s"),
          "setup_s has the largest bound")
    check(all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])
          and 1 <= len(bench["per_layer"]) <= 128, "1-128 per_layer entries with name/unit/better")
    check(all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in e2e + bench["per_layer"]),
          "units and directions valid")
    check({m["name"]: m["unit"] for m in e2e} == END_TO_END, "end_to_end names and units match metrics.py")
    check({m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER,
          "per_layer names and units match metrics.py")
    return bench


def run(bench: dict, cwd: str, workload: str, fault: str | None = None):
    env = dict(os.environ)
    env.pop("PERFBENCH_FAULT", None)
    if fault:
        env["PERFBENCH_FAULT"] = fault
    cmd = bench["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=180)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def main() -> None:
    bench = check_declaration()

    bare = os.path.join(ROOT, ".perfbench-run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, result = run(bench, bare, "row_ingest")
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and result is None, "without the engine: non-zero exit, no result")

    if "--quick" in sys.argv:
        return
    rc, result = run(bench, ROOT, "row_ingest")
    check(rc == 0 and result is not None and set(result) == {"correct", "attempted", "failed", "metrics"}
          and result["correct"] and result["attempted"] >= 1,
          "clean run: exit 0 and a correct result")
    check({k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END,
          "clean run prints every end_to_end metric with its unit")
    for fault in ("wrong_answer", "memo"):
        rc, result = run(bench, ROOT, "row_ingest", fault)
        check(rc != 0 and result is not None and not result["correct"] and result["failed"] >= 1,
              f"injected {fault}: non-zero exit, correct false")


if __name__ == "__main__":
    main()
