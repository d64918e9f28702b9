"""orca_spark benchmark: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload {row_ingest,orc_bulk,llm_curation}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The process pins its environment,
starts Spark through ``orca_spark.session.get_spark``, generates its
input from the seed, warms up untimed, then runs whole timed passes of
the workload's fixed op list until ``--seconds`` of op time have passed.
Every op's output is checked after its clock stops. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it records the environment and the series of per-pass times.

Every time is wall seconds as measured. The share of CPU time the
hypervisor gave to other guests while the run was set up and while it
was timed (steal, from /proc/stat) is printed on the line before the
result, so a run slowed by a busy neighbour can be told apart.

A traced run first runs the same seed untraced in a child process (for
``trace.overhead_ratio``), then runs as many timed passes as that twin
did with layer spans and Spark's event log on, and writes spans and
per-op event-log counts to ``.perfbench-run/trace-<workload>-s<seed>.json``.

Exit status is non-zero when any op fails or returns a wrong answer, or
when a corpus-keyed memo gains an entry during the timed passes.
``PERFBENCH_FAULT=wrong_answer|memo`` injects either fault, for
``selftest.py``.
"""

from __future__ import annotations

import time


def cpu_sample() -> tuple[float, int, int]:
    """(monotonic seconds, stolen jiffies, busy jiffies), the jiffies summed
    over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return time.monotonic(), steal, user + nice + system + irq + softirq


START = cpu_sample()  # process start, for setup_s

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from metrics import END_TO_END, EVENT_COUNTS, OP_TYPES, PER_LAYER, SPAN_METRICS  # noqa: E402
from spans import EVENT_LOG_ARGS, Tracer, op_counts, read_event_log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("row_ingest", "orc_bulk", "llm_curation")
# get_spark's default heap, 16g, exceeds a 15 GB box; at 2g GC slowed the
# label-propagation loop by ~30%
DRIVER_MEM = "3g"
# no new timed pass starts past this much wall time after set-up began,
# nor past EXIT_DEADLINE_S after process start (a traced run also waits
# for its untraced twin, which may take TWIN_TIMEOUT_S), so a slow host
# still exits inside a 180 s limit
PASS_DEADLINE_S = 100
EXIT_DEADLINE_S = 150
TWIN_TIMEOUT_S = 110

# corpus-keyed memos whose hits would put a memoized result in a timed
# median; read with getattr so the guard survives their removal
MEMOS = (
    ("orca_spark.operators.bpe", "_MERGE_CACHE"),
    ("orca_spark.operators.linkage", "_SALT_CACHE"),
    ("orca_spark.operators.similarity", "_CENTROID_CACHE"),
    ("orca_spark.operators.similarity2", "_PQ_CACHE"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def declared_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def pin_env(rundir: str, trace: bool) -> dict:
    """Environment for the Spark JVM and the engine: core count, driver
    heap, UTC, and every temp directory inside the run directory. The
    JVM gets no options beyond the ones ``get_spark`` sets."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    submit = []
    if trace:
        logdir = os.path.join(rundir, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        submit.append(EVENT_LOG_ARGS.format(dir=logdir))
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    time.tzset()
    return env


def memo_entries() -> int:
    total = 0
    for mod, attr in MEMOS:
        memo = getattr(sys.modules.get(mod), attr, None)
        total += len(memo) if memo is not None else 0
    return total


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_share(a, b) -> float:
    """Share of this VM's runnable CPU time between two samples that the
    hypervisor gave to other guests; reported, never subtracted."""
    steal, busy = b[1] - a[1], b[2] - a[2]
    return steal / (steal + busy) if steal + busy else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linearly interpolated percentile of ``xs`` at ``q`` in [0, 1]."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    """Runs passes of a workload's ops, one at a time, and checks each
    op's answer after its clock stops."""

    def __init__(self, wl, tracer: Tracer, fault: str | None):
        self.wl = wl
        self.tracer = tracer
        self.fault = fault
        self.check_s = 0.0  # answer checking, kept out of every timing
        self.attempted = 0
        self.failed = 0
        self.op_times: list[float] = []
        self.pass_times: list[float] = []
        self.memo_base = 0

    def run_pass(self, k: int) -> float:
        """Warm-up passes have k < 0; timed passes count up from 0."""
        timed = k >= 0
        total = 0.0
        for j, op in enumerate(self.wl.ops(k)):
            op_id = f"{'t' if timed else 'w'}{abs(k)}.{j}"
            if self.tracer.enabled:
                self.wl.spark.sparkContext.setJobGroup(op_id, op.type)
            start_ms = time.time() * 1000
            a = time.monotonic()
            try:
                result, err = self.wl.run(op, op_id), None
            except Exception:  # a failed op is counted and reported; the run goes on
                result, err = None, traceback.format_exc()
            b = time.monotonic()
            dt = b - a
            self.tracer.ops.append(
                {"id": op_id, "type": op.type, "start_ms": start_ms, "end_ms": time.time() * 1000}
            )
            if err is None:
                err = self.check(op, result, timed)
            if timed:
                if self.fault == "memo":
                    memo = getattr(importlib.import_module(MEMOS[0][0]), MEMOS[0][1])
                    memo[("injected", op_id)] = []
                grown = memo_entries() - self.memo_base
                if grown > 0:
                    err = (err or "") + f"memo guard: {grown} corpus-keyed memo entries added while timed"
                self.attempted += 1
                self.failed += err is not None
                self.op_times.append(dt)
            if err:
                print(f"[{op_id} {op.type}] {err}", file=sys.stderr, flush=True)
            total += dt
            self.check_s += time.monotonic() - b
        if timed:
            self.pass_times.append(total)
        return total

    def check(self, op, result, timed: bool) -> str | None:
        try:
            actual, expected = self.wl.verify(op, result, timed)
        except Exception:
            return traceback.format_exc()
        if timed and self.fault == "wrong_answer":
            actual = ("injected", actual)
        if actual != expected:
            return f"wrong answer: {str(actual)[:300]} != {str(expected)[:300]}"
        return None


def run_untraced_twin(args) -> tuple[dict, dict] | None:
    """(environment line, result line) of an untraced run of the same seed."""
    try:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, timeout=TWIN_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:  # the child is killed; its JVM exits with its stdin
        return None
    if child.returncode != 0:
        return None
    info, result = child.stdout.strip().splitlines()[-2:]
    return json.loads(info), json.loads(result)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "orca_spark", "session.py")):
        print(f"orca_spark not found beside {HERE}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    baseline, setup0 = None, START
    if args.trace:
        baseline = run_untraced_twin(args)
        if baseline is None:
            print("the untraced twin run failed", file=sys.stderr)
            return 1
        setup0 = cpu_sample()

    rundir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        return measure(args, rundir, setup0, baseline)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(rundir, ignore_errors=True)


def measure(args, rundir: str, setup0: tuple, baseline: tuple | None) -> int:
    env = pin_env(rundir, bool(args.trace))
    os.chdir(rundir)  # spark-warehouse and other cwd output stays in the run dir
    tracer = Tracer(bool(args.trace))

    import pyspark

    import workloads
    from orca_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench_{args.workload}")
    jvm = spark.sparkContext._gateway.proc  # noqa: SLF001 -- for its RSS and its exit
    try:
        wl = workloads.WORKLOADS[args.workload](spark, tracer, rundir, args.seed)
        wl.setup()
        runner = Runner(wl, tracer, os.environ.get("PERFBENCH_FAULT"))
        with tracer.span("bench.warmup"):
            for w in range(wl.warmup_passes):
                runner.run_pass(-1 - w)
        runner.memo_base = memo_entries()
        timed0 = cpu_sample()
        setup_s = timed0[0] - setup0[0] - runner.check_s
        timed = 0.0
        while (
            (len(runner.pass_times) < len(baseline[0]["pass_series_s"]) if baseline
             else timed < args.seconds)
            and time.monotonic() - setup0[0] < PASS_DEADLINE_S
            and time.monotonic() - START[0] < EXIT_DEADLINE_S
        ):
            timed += runner.run_pass(len(runner.pass_times))
        # high-water RSS of the driver Python and of the JVM, apart: the
        # JVM's ranged 1.0-1.9 GB across seeds of one workload on an idle
        # host as G1 sized its heap, while the driver's repeated to 1%
        rss_mb = {"python": vm_hwm_kb("self") / 1024, "jvm": vm_hwm_kb(jvm.pid) / 1024}
        timed1 = cpu_sample()
    finally:
        gateway = spark.sparkContext._gateway  # noqa: SLF001
        try:
            spark.stop()
        finally:
            gateway.shutdown()
            jvm.stdin.close()  # the JVM exits when its stdin closes
            jvm.wait(timeout=60)

    if not runner.pass_times:
        print("no timed pass started before the deadline", file=sys.stderr)
        return 1
    if args.trace:
        counts = op_counts(read_event_log(os.path.join(rundir, "eventlog")), tracer.ops)
        metrics = layer_metrics(tracer, wl, counts, runner, baseline)
        metrics["session.jvm_peak_rss_mb"] = rss_mb["jvm"]
        tracer.dump(
            os.path.join(ROOT, ".perfbench-run", f"trace-{args.workload}-s{args.seed}.json"),
            {"event_counts": counts, "env": env},
        )
        units = PER_LAYER
    else:
        rows = sum(r for _, _, r in wl.writes)
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(runner.pass_times),
            "op_p50_s": percentile(runner.op_times, 0.5),
            "op_p90_s": percentile(runner.op_times, 0.9),
            "driver_peak_rss_mb": rss_mb["python"],
            "orc_bytes_per_row": sum(b for _, b, _ in wl.writes) / rows,
        }
        units = END_TO_END
    if units != declared_units(bool(args.trace)):
        print("the metrics printed disagree with BENCHMARK.json", file=sys.stderr)
        return 1

    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "pass_series_s": [round(t, 4) for t in runner.pass_times],
        "check_s": round(runner.check_s, 3),
        "peak_rss_mb_by_process": {k: round(v, 1) for k, v in rss_mb.items()},
        "setup_steal_pct": round(100 * steal_share(setup0, timed0), 1),
        "timed_steal_pct": round(100 * steal_share(timed0, timed1), 1),
    }))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if runner.failed == 0 else 1


def layer_metrics(tracer: Tracer, wl, counts: dict, runner: Runner, baseline: tuple) -> dict:
    def med(name: str, timed_only: bool = True) -> float:
        xs = tracer.durations(name, timed_only)
        return statistics.median(xs) if xs else 0.0

    out = {
        "session.get_spark_s": med("session.get_spark", False),
        "tables.load_s": sum(tracer.durations("tables.load", False)),
        "bench.warmup_s": med("bench.warmup", False),
        **{metric: med(span) for metric, span in SPAN_METRICS.items()},
        "io.orc_files_per_write": statistics.median(w[0] for w in wl.writes),
        "io.orc_bytes_per_write": statistics.median(w[1] for w in wl.writes),
        "trace.overhead_ratio": statistics.median(runner.pass_times)
        / baseline[1]["metrics"]["pass_s"]["value"],
    }
    for t in OP_TYPES:
        for c in EVENT_COUNTS:
            out[f"{t}.{c}"] = counts.get(t, {}).get(c, 0)
    return out


if __name__ == "__main__":
    sys.exit(main())
