"""Pure metric helpers: percentiles, the tail rule, a Spark event-log
parser and process readers. Nothing here imports pyspark, so the
benchmark's own tests run without a JVM."""

from __future__ import annotations

import json
import os
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``(value, percentile, n)``. With ``n <= beyond`` no such
    percentile exists and the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return float(xs[-1]), 100.0, n
    k = n - beyond  # xs[k-1] has exactly ``beyond`` samples after it
    return float(xs[k - 1]), 100.0 * k / n, n


def spread(values) -> float:
    """Interquartile distance as a share of the median — the steadiness
    measure the benchmark is tuned against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# -- Spark event log ---------------------------------------------------------

BATCH_ID_KEY = "streaming.sql.batchId"
QUERY_ID_KEY = "sql.streaming.queryId"


def parse_event_log(lines) -> dict:
    """Reduce an uncompressed Spark event log (JSON lines) to what the
    per-layer metrics need:

    - ``jobs``: ``{job_id: {start, end, stages, batch, query}}``
    - ``tasks``: one dict per finished task (launch/finish ms, run, cpu,
      gc, shuffle read/write bytes, spill bytes, peak execution memory)
    - ``sql``: ``{execution_id: {start, end, plan}}``
    """
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    sql: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev.get("Submission Time"),
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
                "batch": props.get(BATCH_ID_KEY),
                "query": props.get(QUERY_ID_KEY),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev.get("Stage ID"),
                    "launch": info.get("Launch Time", 0),
                    "finish": info.get("Finish Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "peak": m.get("Peak Execution Memory", 0),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[ev["executionId"]] = {
                "start": ev.get("time"),
                "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in sql:
                sql[ev["executionId"]]["end"] = ev.get("time")
    return {"jobs": jobs, "tasks": tasks, "sql": sql}


def read_event_log(directory: str) -> dict:
    """Parse the event log a run wrote into ``directory`` (one
    application, written without rolling)."""
    lines: list[str] = []
    for dp, _, names in os.walk(directory):
        for name in sorted(names):
            with open(os.path.join(dp, name), encoding="utf-8") as fh:
                lines.extend(fh)
    return parse_event_log(lines)


def union_length(intervals) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def exec_metrics(log: dict, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """``exec.*`` metrics, as ``(value, unit)``, over the tasks and jobs
    that ran inside the window ``[t0_ms, t1_ms]`` (epoch milliseconds)."""
    tasks = [t for t in log["tasks"] if t0_ms <= t["launch"] and t["finish"] <= t1_ms]
    jobs = [
        j
        for j in log["jobs"].values()
        if j["start"] is not None and t0_ms <= j["start"] <= t1_ms
    ]
    wall_ms = max(t1_ms - t0_ms, 1e-9)
    busy_ms = union_length((t["launch"], t["finish"]) for t in tasks)
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len({t["stage"] for t in tasks}), "count"),
        "exec.tasks": (len(tasks), "count"),
        "exec.task_run_s": (sum(t["run_ms"] for t in tasks) / 1e3, "s"),
        "exec.task_cpu_s": (sum(t["cpu_ns"] for t in tasks) / 1e9, "s"),
        "exec.gc_s": (sum(t["gc_ms"] for t in tasks) / 1e3, "s"),
        "exec.shuffle_read_mb": (sum(t["shuffle_read"] for t in tasks) / mb, "MB"),
        "exec.shuffle_write_mb": (sum(t["shuffle_write"] for t in tasks) / mb, "MB"),
        "exec.spill_mb": (sum(t["spill"] for t in tasks) / mb, "MB"),
        "exec.max_task_s": (
            max((t["finish"] - t["launch"] for t in tasks), default=0) / 1e3,
            "s",
        ),
        "exec.max_task_peak_mb": (max((t["peak"] for t in tasks), default=0) / mb, "MB"),
        "exec.idle_s": ((wall_ms - busy_ms) / 1e3, "s"),
        "exec.busy_share": (
            sum(t["finish"] - t["launch"] for t in tasks) / (wall_ms * cores),
            "share",
        ),
    }


def batch_jobs(log: dict, query_ids) -> dict:
    """Group the jobs of the given streaming queries by ``(query, batch)``:
    ``{(query, batch): {"jobs", "stages", "tasks", "task_ms", "shuffle"}}``."""
    per: dict[tuple, dict] = {}
    stage_tasks: dict[int, list] = {}
    for t in log["tasks"]:
        stage_tasks.setdefault(t["stage"], []).append(t)
    for j in log["jobs"].values():
        if j["query"] not in query_ids or j["batch"] is None:
            continue
        rec = per.setdefault(
            (j["query"], int(j["batch"])),
            {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0.0, "shuffle": 0},
        )
        rec["jobs"] += 1
        for sid in j["stages"]:
            ts = stage_tasks.get(sid, [])
            if ts:
                rec["stages"] += 1
            rec["tasks"] += len(ts)
            rec["task_ms"] += sum(t["finish"] - t["launch"] for t in ts)
            rec["shuffle"] += sum(t["shuffle_write"] for t in ts)
    return per


def state_write_executions(log: dict, marker: str = "sg_state_") -> list[dict]:
    """SQL executions that wrote a foreachBatch state version (their
    physical plan inserts into a path under a ``sg_state_*`` dir)."""
    return [
        s
        for s in log["sql"].values()
        if s["end"] is not None
        and marker in s["plan"]
        and "InsertIntoHadoopFsRelationCommand" in s["plan"]
    ]


# -- processes ---------------------------------------------------------------


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a live process (from /proc)."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0
