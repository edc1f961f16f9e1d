#!/usr/bin/env python3
"""CDC-merge benchmark: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload cdc_trickle_upsert --seed 1 --seconds 25 --trace 0

Run from the repository root. The program is driven only through its
public entry points (``session.get_session``,
``streaming.ops.stage_changelog_stream`` / ``foreachbatch_upsert`` and
``streaming.ops.CHANGELOG_STREAM_DDL``). Every unit is a closed-loop
availableNow drain of a staged backlog; see README.md for the workloads,
the metrics and what each per-layer number should move.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "scylladb_redpanda_cdc_spark"
KEY_COLS = ["customer_id", "order_id"]
STATE_COLS = KEY_COLS + ["op", "totalprice", "orderstatus", "ts_ms", "offset"]
#: Fixed driver heap, so the JVM's footprint and GC cadence do not drift
#: with whatever the host would default to.
DRIVER_MEMORY = "2g"
LISTENER_TIMEOUT_S = 60.0

WORKLOADS = {
    # 50k-key state, many ~2k-event Zipf batches: per-batch fixed cost
    # and the full-state rewrite dominate; every gate stays closed.
    "cdc_trickle_upsert": {
        "kind": "trickle",
        "keys": 50_000,
        "batches": 26,
        "events": 2_000,
        "warmup_batches": 4,
    },
    # ~2M-event catch-up over unique orders: four large batches, above the
    # 32 MB gates (stream width > 1, disk scratch placement).
    "cdc_bulk_catchup": {
        "kind": "bulk",
        "orders": 2_000_000,
        "n_files": 4,
        "warmup_orders": 50_000,
    },
}

sys.path.insert(0, HERE)
import metrics  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, trace: bool) -> dict:
    """Point every scratch location of the program, Spark and the JVM at
    the run's own directory, fix the core count and driver heap, and turn
    the console progress bar off. Must run before pyspark is imported."""
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    cores = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SG_SCRATCH_DIR"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is committed and touched up front, so heap growth and
        # its page faults land in set-up, not in the timed units
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = ["--driver-memory", DRIVER_MEMORY]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    dirs["cores"] = cores
    return dirs


class Progress:
    """Collects ``StreamingQueryProgress`` per query through a
    ``StreamingQueryListener`` (delivered on the listener bus, so a drain
    waits for its query's terminated event before reading them)."""

    def __init__(self, spark) -> None:
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        self.by_query: dict[str, list[dict]] = {}
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started.append(str(event.id))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._cv:
                    outer.by_query.setdefault(p["id"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.add(str(event.id))
                    outer._cv.notify_all()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def wait(self, n_started_before: int) -> tuple[str, list[dict]]:
        """Progress of the one query started after ``n_started_before``
        queries, once it has terminated."""
        deadline = time.time() + LISTENER_TIMEOUT_S
        with self._cv:
            while True:
                qid = self.started[n_started_before] if len(self.started) > n_started_before else None
                if qid is not None and qid in self.terminated:
                    return qid, [p for p in self.by_query.get(qid, []) if p["numInputRows"] > 0]
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("streaming listener saw no termination")
                self._cv.wait(left)


def dir_bytes(path: str, prefix: str = "") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``'s sub-directories
    whose names start with ``prefix`` (checksum and marker files skipped)."""
    total = files = 0
    for sub in os.listdir(path):
        if not sub.startswith(prefix):
            continue
        for dp, _, names in os.walk(os.path.join(path, sub)):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                total += os.path.getsize(os.path.join(dp, n))
                files += 1
    return total, files


class Bench:
    def __init__(self, args, dirs: dict, inputs: dict) -> None:
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.dirs = dirs
        self.inputs = inputs
        self.spark = None
        self.tracer = None

    # -- session and streams ------------------------------------------------

    def start_session(self) -> None:
        t0 = time.time()
        from scylladb_redpanda_cdc_spark.session import get_session
        from scylladb_redpanda_cdc_spark.streaming import core, ops

        self.core, self.ops = core, ops
        self.spark = get_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - t0
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.progress = Progress(self.spark)

    def stream(self, which: str):
        """A fresh streaming DataFrame over the staged ``which`` input
        (``"main"`` or ``"warmup"``)."""
        src = self.inputs[which]
        if self.cfg["kind"] == "trickle":
            return (
                self.spark.readStream.schema(self.ops.CHANGELOG_STREAM_DDL)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
        return self.ops.stage_changelog_stream(self.spark, src, n_files=self.cfg["n_files"])

    def drain(self, which: str, trace_id: str) -> dict:
        """One unit: drain the staged backlog through foreachbatch_upsert."""
        scratch = self.dirs["scratch"]
        before = set(os.listdir(scratch))
        n_started = len(self.progress.started)
        if self.tracer is not None:
            self.tracer.trace = trace_id
        t0 = time.time()
        state = self.ops.foreachbatch_upsert(self.stream(which), KEY_COLS)
        t1 = time.time()
        qid, progress = self.progress.wait(n_started)
        new = sorted(set(os.listdir(scratch)) - before)
        state_bytes = sum(
            dir_bytes(os.path.join(scratch, d), "v")[0] for d in new if d.startswith("sg_state_")
        )
        return {
            "trace": trace_id,
            "start": t0,
            "end": t1,
            "wall": t1 - t0,
            "query": qid,
            "progress": sorted(progress, key=lambda p: p["batchId"]),
            "state": state,
            "state_bytes": state_bytes,
        }

    # -- phases -------------------------------------------------------------

    def setup(self) -> None:
        self.start_session()
        t0 = time.time()
        if self.cfg["kind"] == "bulk":
            # the program's own staging of the main backlog (cached per
            # session; later stream() calls reuse it)
            self.stream("main")
        self.stage_s = time.time() - t0
        self.staged_bytes, self.staged_files = self.staged_size()
        t1 = time.time()
        self.drain("warmup", f"{self.args.workload}/warmup")
        log(f"session {self.session_s:.2f} s, staging {self.stage_s:.2f} s, "
            f"warm-up unit {time.time() - t1:.2f} s")

    def staged_size(self) -> tuple[int, int]:
        if self.cfg["kind"] == "bulk":
            return dir_bytes(self.dirs["scratch"], "sg_changelog_")
        src = self.inputs["main"]
        names = [n for n in os.listdir(src) if n.endswith(".parquet")]
        return sum(os.path.getsize(os.path.join(src, n)) for n in names), len(names)

    def timed(self, seconds: float, label: str) -> list[dict]:
        """Back-to-back units until the next one would overrun
        ``seconds`` of accumulated drain time (at least one unit)."""
        units: list[dict] = []
        spent = 0.0
        while True:
            try:
                u = self.drain("main", f"{self.args.workload}/{label}{len(units)}")
            except Exception as exc:  # counted in ``failed``
                log(f"unit raised:\n{traceback.format_exc()}")
                units.append({"error": repr(exc)})
                break
            units.append(u)
            spent += u["wall"]
            walls = [x["wall"] for x in units if "wall" in x]
            if spent + metrics.median(walls) > seconds:
                return units
        return units

    # -- correctness --------------------------------------------------------

    def reference(self):
        """A DuckDB connection and the query for the expected final state
        over the same inputs: latest event by offset per key, tombstones
        dropped."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        if self.cfg["kind"] == "trickle":
            log_sql = f"changelog AS (SELECT * FROM read_parquet('{self.inputs['main']}/*.parquet'))"
        else:
            from scylladb_redpanda_cdc_spark.sources.changelog import CHANGELOG_SQL_CTE

            orders = os.path.join(self.inputs["main"], "orders.parquet")
            con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
            log_sql = CHANGELOG_SQL_CTE.strip()
        sql = f"""
        WITH {log_sql},
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY customer_id, order_id ORDER BY "offset" DESC) AS rn
          FROM changelog)
        SELECT customer_id, order_id, op, totalprice, orderstatus, ts_ms, "offset"
        FROM ranked WHERE rn = 1 AND op <> 'd'"""
        return con, sql

    def check(self, units: list[dict]) -> int:
        """Number of units whose final state differs from the reference
        (or that raised). Rows are compared as multisets in DuckDB, so
        NULLs compare equal and doubles must match exactly."""
        con, ref_sql = self.reference()
        con.execute(f"CREATE TABLE ref AS {ref_sql}")
        (n_ref,) = con.execute("SELECT count(*) FROM ref").fetchone()
        failed = 0
        for u in units:
            if "error" in u:
                failed += 1
                continue
            got = u["state"].select(*STATE_COLS).toArrow()  # noqa: F841 (read by DuckDB)
            (diff,) = con.execute(
                "SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL SELECT * FROM ref) "
                "UNION ALL (SELECT * FROM ref EXCEPT ALL SELECT * FROM got))"
            ).fetchone()
            if diff:
                log(f"unit {u['trace']}: {diff} rows differ from the reference "
                    f"({got.num_rows} rows vs {n_ref})")
                failed += 1
        return failed

    # -- metrics ------------------------------------------------------------

    @staticmethod
    def batches(units: list[dict]) -> list[dict]:
        """Progress of every non-snapshot batch (batch 0 of each drain
        starts from empty state)."""
        return [p for u in units if "progress" in u for p in u["progress"] if p["batchId"] > 0]

    def end_to_end(self, units: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
        ok = [u for u in units if "progress" in u]
        events = sum(p["numInputRows"] for u in ok for p in u["progress"])
        wall = sum(u["wall"] for u in ok)
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in self.batches(ok)]
        tail_s, tail_pct, n = metrics.tail(trig)
        print(f"# batch_tail_s is p{tail_pct:.1f} of n={n} batches; "
              f"{len(ok)} unit(s), {events} events, {wall:.2f} s drained")
        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (events / wall, "1/s"),
            "batch_p50_s": (metrics.median(trig), "s"),
            "batch_tail_s": (tail_s, "s"),
            "state_write_bytes_per_event": (sum(u["state_bytes"] for u in ok) / events, "B"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def per_layer(self, units, t0, t1, cpu0, cpu1) -> dict:
        """Per-layer metrics of the traced units (see README.md)."""
        ok = [u for u in units if "progress" in u]
        batches = self.batches(ok)
        d = [p["durationMs"] for p in batches]

        def p50(key):
            return metrics.median([x.get(key, 0) for x in d])

        log_ = metrics.read_event_log(self.dirs["eventlog"])
        per_batch = metrics.batch_jobs(log_, {u["query"] for u in ok})
        keyed = [per_batch.get((p["id"], p["batchId"]), {}) for p in batches]
        writes = [
            s for s in metrics.state_write_executions(log_) if t0 * 1e3 <= s["start"] <= t1 * 1e3
        ]
        versions = sum(len(p) for p in (u["progress"] for u in ok))
        state_bytes = sum(u["state_bytes"] for u in ok)
        counts = self.tracer.counts
        cores = self.dirs["cores"]
        mb = 1024.0 * 1024.0
        out = {
            "session.start_s": (self.session_s, "s"),
            "sources.stage_s": (self.stage_s, "s"),
            "sources.staged_mb": (self.staged_bytes / mb, "MB"),
            "sources.staged_files": (self.staged_files, "count"),
            "sources.offset_ms_p50": (
                metrics.median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
                "ms",
            ),
            "streaming.add_batch_ms_p50": (p50("addBatch"), "ms"),
            "streaming.overhead_ms_p50": (
                metrics.median([x["triggerExecution"] - x.get("addBatch", 0) for x in d]),
                "ms",
            ),
            "streaming.wal_commit_ms_p50": (p50("walCommit"), "ms"),
            "streaming.commit_offsets_ms_p50": (p50("commitOffsets"), "ms"),
            "streaming.query_planning_ms_p50": (p50("queryPlanning"), "ms"),
            "streaming.width": (metrics.median(counts["streaming.width"]), "count"),
            "state.files_per_version": (metrics.median(counts["state.file_count"]), "count"),
            "state.merge_width_fired": (
                sum(1 for n in counts["state.merge_width"] if n is not None),
                "count",
            ),
            "state.version_mb": (state_bytes / versions / mb, "MB"),
            "state.write_mb_total": (state_bytes / mb, "MB"),
            "state.write_ms_p50": (
                metrics.median([s["end"] - s["start"] for s in writes]) if writes else 0.0,
                "ms",
            ),
            "merge.jobs_per_batch": (metrics.median([k.get("jobs", 0) for k in keyed]), "count"),
            "merge.stages_per_batch": (metrics.median([k.get("stages", 0) for k in keyed]), "count"),
            "merge.tasks_per_batch": (metrics.median([k.get("tasks", 0) for k in keyed]), "count"),
            "merge.shuffle_mb_per_batch": (
                metrics.median([k.get("shuffle", 0) for k in keyed]) / mb,
                "MB",
            ),
            "merge.busy_share": (
                sum(k.get("task_ms", 0.0) for k in keyed)
                / max(1.0, sum(x.get("addBatch", 0) for x in d) * cores),
                "share",
            ),
            "operators.materialize_latest.calls": (
                len([s for s in self.tracer.spans if s["name"] == "operators.materialize_latest"])
                / len(ok),
                "count",
            ),
            "operators.materialize_latest.build_ms": (
                1e3 * metrics.median(
                    [s["end"] - s["start"] for s in self.tracer.spans
                     if s["name"] == "operators.materialize_latest"]
                ),
                "ms",
            ),
        }
        out.update(metrics.exec_metrics(log_, t0 * 1e3, t1 * 1e3, cores))
        out["proc.jvm_cpu_s"] = (cpu1["jvm"] - cpu0["jvm"], "s")
        out["proc.py_cpu_s"] = (cpu1["py"] - cpu0["py"], "s")
        out["proc.jvm_gc_s"] = (cpu1["gc"] - cpu0["gc"], "s")
        out.update(self.self_time_metrics(ok, writes, log_))
        return out

    def add_spans(self, units, writes, log_) -> None:
        """Turn listener durations and event-log jobs into spans."""
        from datetime import datetime

        tr = self.tracer
        # trigger phases in the order MicroBatchExecution runs them
        phases = {
            "latestOffset": "sources.latest_offset",
            "walCommit": "streaming.wal_commit",
            "getBatch": "sources.get_batch",
            "queryPlanning": "streaming.query_planning",
            "addBatch": "merge.add_batch",
            "commitOffsets": "streaming.commit_offsets",
        }
        for u in units:
            tr.add("bench.unit", u["start"], u["end"], u["trace"])
            for p in u["progress"]:
                trace = f"{u['trace']}/b{p['batchId']}"
                t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                dm = p["durationMs"]
                end = min(t + dm["triggerExecution"] / 1e3, u["end"])
                t = max(t, u["start"])
                tr.add("streaming.trigger", t, end, trace)
                cur = t
                for key, name in phases.items():
                    if key in dm:
                        nxt = min(cur + dm[key] / 1e3, end)
                        tr.add(name, cur, nxt, trace)
                        cur = nxt
        lo, hi = units[0]["start"], units[-1]["end"]
        for s in writes:
            tr.add("state.write", s["start"] / 1e3, s["end"] / 1e3)
        # concurrent jobs (broadcasts run beside the job that waits for
        # them) are laid end to end, so their union is counted once; jobs
        # inside a state-version write belong to the state layer
        spans = [(s["start"] / 1e3, s["end"] / 1e3) for s in writes]
        last = lo
        for a, b in sorted(
            (j["start"] / 1e3, j["end"] / 1e3)
            for j in log_["jobs"].values()
            if j["start"] and j["end"]
        ):
            a = max(a, last)
            if lo <= a < b <= hi:
                in_write = any(w0 <= a and b <= w1 for w0, w1 in spans)
                tr.add("state.job" if in_write else "merge.job", a, b)
                last = b

    def self_time_metrics(self, units, writes, log_) -> dict:
        from tracing import self_times

        lo, hi = units[0]["start"], units[-1]["end"]
        # the root goes in first: on equal intervals the earlier span is
        # the parent
        self.tracer.spans.insert(0, {"name": "bench.timed", "start": lo, "end": hi,
                                     "trace": self.args.workload})
        self.add_spans(units, writes, log_)
        spans = [s for s in self.tracer.spans if lo <= s["start"] and s["end"] <= hi]
        st = self_times(spans)
        layers: dict[str, float] = {}
        for name, v in st.items():
            layer = name.split(".", 1)[0]
            layers[layer] = layers.get(layer, 0.0) + v
        wall = hi - lo
        out = {f"self.{k}_s": (layers.get(k, 0.0), "s") for k in SELF_LAYERS}
        out["self.residual_s"] = (wall - sum(v for v, _ in out.values()), "s")
        print(f"# self time over the traced units ({wall:.2f} s wall): " + ", ".join(
            f"{k[5:-2]} {v:.2f} s" for k, (v, _) in sorted(out.items(), key=lambda kv: -kv[1][0])))
        return out


#: Layers of the self-time table (span-name prefixes). What no layer
#: covers — query start and stop, the final state read, the gaps between
#: triggers — is the residual.
SELF_LAYERS = ("sources", "streaming", "merge", "state", "operators")


def process_cpu(bench: Bench) -> dict:
    beans = bench.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return {
        "jvm": metrics.proc_cpu_s(bench.jvm_pid),
        "py": ru.ru_utime + ru.ru_stime,
        "gc": sum(b.getCollectionTime() for b in beans) / 1e3,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def host_line(steal0: int, t0: float) -> str:
    steal = (metrics.cpu_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    wall = max(time.time() - t0, 1e-9)
    load = os.getloadavg()
    return (f"# host nproc={os.cpu_count()} load={load[0]:.2f},{load[1]:.2f},{load[2]:.2f} "
            f"steal_share={steal / wall / (os.cpu_count() or 1):.4f} "
            f"spark=local[{os.environ['SPARK_GRAFT_CPUS']}] driver_heap={DRIVER_MEMORY}")


#: Input cache entries kept (~40 MB each for bulk): enough for a few
#: seeds of both workloads.
CACHE_ENTRIES = 12


def make_inputs(args, cfg) -> dict:
    import inputs

    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    if cfg["kind"] == "trickle":
        main = inputs.trickle_changelog(cache, args.seed, cfg["keys"], cfg["batches"], cfg["events"])
        warm = inputs.trickle_changelog(
            cache, args.seed, cfg["keys"], cfg["warmup_batches"], cfg["events"]
        )
        made = {"main": main, "warmup": warm}
    else:
        made = {
            "main": inputs.bulk_orders(cache, args.seed, cfg["orders"]),
            "warmup": inputs.bulk_orders(cache, args.seed, cfg["warmup_orders"]),
        }
    inputs.prune(cache, CACHE_ENTRIES)
    return made


def main(argv=None) -> int:
    t_start = metrics.process_start_epoch()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE} not found next to {os.path.basename(HERE)}/; run from a full checkout")
        return 2
    steal0, wall0 = metrics.cpu_steal_ticks(), time.time()
    cfg = WORKLOADS[args.workload]
    t = time.time()
    inputs_ = make_inputs(args, cfg)
    gen_s = time.time() - t

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    dirs = prepare_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    bench = Bench(args, dirs, inputs_)
    try:
        bench.setup()
        setup_s = time.time() - t_start - gen_s
        plain: list[dict] = []
        if args.trace:
            # untraced, traced, untraced: the untraced thirds bracket the
            # traced one, so warm-up drift cancels out of the overhead
            plain = bench.timed(args.seconds / 3, "plain")
            from tracing import Tracer

            bench.tracer = Tracer()
            core, ops = bench.core, bench.ops
            bench.tracer.wrap(core, "stream_shuffle_width", "streaming.width", True)
            bench.tracer.wrap(core, "state_merge_width", "state.merge_width", True)
            bench.tracer.wrap(ops, "state_file_count", "state.file_count", True)
            bench.tracer.wrap(ops, "materialize_latest", "operators.materialize_latest")
            bench.tracer.wrap(ops, "stage_changelog_stream", "sources.stage")
        cpu0 = process_cpu(bench)
        t0 = time.time()
        units = bench.timed(args.seconds / 3 if args.trace else args.seconds, "unit")
        t1 = time.time()
        cpu1 = process_cpu(bench)
        ru = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        peak_rss_mb = metrics.proc_hwm_mb(bench.jvm_pid) + ru
        if args.trace:
            bench.tracer.unwrap()
            plain += bench.timed(args.seconds / 3, "plain")
        checked = units + plain
        t = time.time()
        failed = bench.check(checked)
        log(f"timed phase {t1 - t0:.2f} s, correctness check {time.time() - t:.2f} s")
        attempted = len(checked)
        ok = [u for u in units if "progress" in u]
        if args.trace:
            stop_spark(bench.spark)  # flushes the event log
            bench.spark = None
            result = bench.per_layer(ok, t0, t1, cpu0, cpu1)
            plain_ok = [u for u in plain if "progress" in u]

            def ms_per_event(us):
                return sum(u["wall"] for u in us) * 1e3 / sum(
                    p["numInputRows"] for u in us for p in u["progress"])

            traced, untraced = ms_per_event(ok), ms_per_event(plain_ok)
            result["trace.overhead_share"] = ((traced - untraced) / untraced, "share")
            result["trace.bookkeeping_ms"] = (bench.tracer.bookkeeping_s * 1e3, "ms")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            bench.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            result = bench.end_to_end(units, setup_s, peak_rss_mb)
        print(f"# error_rate={failed / attempted:.4f} ({failed}/{attempted} units); "
              f"setup excludes {gen_s:.2f} s of input generation")
        print(host_line(steal0, wall0))
        print(json.dumps({
            "correct": failed == 0 and bool(ok),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
        }))
        return 0
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
