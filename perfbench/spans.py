"""Spans recorded around the benchmark's calls into each engine layer,
and per-op counts read back from Spark's event log.

Spans live in memory and are written out once, at exit. With tracing
off, :meth:`Tracer.span` records nothing, so end-to-end numbers come
from runs that pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from metrics import EVENT_COUNTS

# conf that makes Spark write an uncompressed, single-file event log; it
# goes on the spark-submit command line, so no engine code changes
EVENT_LOG_ARGS = (
    "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
    "--conf spark.eventLog.rolling.enabled=false --conf spark.eventLog.dir=file://{dir}"
)

class Tracer:
    """Records spans (name, start, end, parent, op id) when enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # timed and warm-up ops: type, id, wall interval
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op_id": op_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, timed_only: bool = True) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (not timed_only or _is_timed(s["op_id"]))
        ]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


def _is_timed(op_id: str | None) -> bool:
    return op_id is not None and not op_id.startswith("w")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    events = []
    with open(paths[0]) as f:
        for line in f:
            events.append(json.loads(line))
    return events


def op_counts(events: list[dict], ops: list[dict]) -> dict[str, dict[str, float]]:
    """Per op type: the median over its timed ops of each EVENT_COUNTS
    entry (``tasks_failed`` is the total). Jobs, stages and tasks belong
    to the op whose wall interval holds their submission or launch time;
    one closed-loop client runs one op at a time, and answer checks run
    between ops, so the intervals never overlap. Streaming queries set
    their own job group, so the interval, not the group, is the key."""
    timed = [o for o in ops if _is_timed(o["id"])]
    per_op = {o["id"]: {"jobs": [], "stages": 0, "tasks": 0, "tasks_failed": 0,
                        "shuffle_bytes": 0, "task_ms": 0} for o in timed}

    def owner(t_ms: float) -> str | None:
        for o in timed:
            if o["start_ms"] <= t_ms <= o["end_ms"]:
                return o["id"]
        return None

    job_start: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            t0 = job_start.get(e["Job ID"])
            op = owner(t0) if t0 is not None else None
            if op:
                per_op[op]["jobs"].append((t0, e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            op = owner(info.get("Submission Time", -1))
            if op:
                per_op[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            op = owner(info["Launch Time"])
            if not op:
                continue
            rec = per_op[op]
            rec["tasks"] += 1
            rec["task_ms"] += info["Finish Time"] - info["Launch Time"]
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                rec["tasks_failed"] += 1
            shuffle = (e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            rec["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)

    by_type: dict[str, list[dict]] = {}
    for o in timed:
        rec = per_op[o["id"]]
        wall_ms = o["end_ms"] - o["start_ms"]
        by_type.setdefault(o["type"], []).append(
            {
                "jobs": len(rec["jobs"]),
                "stages": rec["stages"],
                "tasks": rec["tasks"],
                "tasks_failed": rec["tasks_failed"],
                "shuffle_bytes": rec["shuffle_bytes"],
                "task_s": rec["task_ms"] / 1000,
                "driver_gap_s": max(wall_ms - _covered(rec["jobs"], o), 0) / 1000,
            }
        )
    out = {}
    for typ, rows in by_type.items():
        out[typ] = {k: statistics.median(r[k] for r in rows) for k in EVENT_COUNTS}
        out[typ]["tasks_failed"] = sum(r["tasks_failed"] for r in rows)
    return out


def _covered(jobs: list[tuple[int, int]], op: dict) -> float:
    """Length of the union of job intervals, clipped to the op's interval."""
    total, end = 0.0, None
    for a, b in sorted(jobs):
        a, b = max(a, op["start_ms"]), min(b, op["end_ms"])
        if end is not None:
            a = max(a, end)
        if b > a:
            total += b - a
        end = b if end is None else max(end, b)
    return total
