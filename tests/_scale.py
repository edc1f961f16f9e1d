"""Scale corpus generator and event-log stage report (not a pytest module).

``build_scaled(src, n, out)`` replicates a fixture dataset ×N with DuckDB.
Replica ``v`` of each fact table (orders, lineitem, events, documents,
embeddings) shifts every key by ``v × (max(key)+1)`` of the source
(``l_orderkey`` takes orders' shift) and suffixes each document with
``' tail{v}'``, a near-dup family of N per document. The dimension tables
are symlinked, so any registry query runs on the scaled dir. A ``_DONE``
marker holds the recipe; a dir whose marker matches is reused, and a
non-empty dir without one is refused.

    python tests/_scale.py --scale N --src DIR qid [qid ...]

builds (or reuses) the corpus under the temp dir (``--scale 1``: ``--src``
itself), then per qid runs one staging and one measured ``noop``-sink run
on the package's ``get_session()`` with Spark's event log on, and prints
the measured wall, perfbench's ``exec_metrics`` over that run's window,
the top stages by summed task time and, for streams, per-batch job
records (``batch_jobs``). ``SPARK_GRAFT_CPUS`` /
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` set the width; other submit options
(``--driver-memory``) pass through ``PYSPARK_SUBMIT_ARGS``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_spec = importlib.util.spec_from_file_location(
    "_perfbench_metrics", os.path.join(ROOT, "perfbench", "metrics.py")
)
metrics = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(metrics)

MB = 1024.0 * 1024.0

#: Shifted key -> its source table. Replica ``v`` adds ``v × (max(key)+1)``.
KEYS = {
    "o_orderkey": "orders",
    "o_custkey": "orders",
    "event_id": "events",
    "user_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}
#: Replicated fact table -> {column: replica expression}, where ``{key}``
#: is that key's shift and ``v`` the replica number. Columns not named
#: pass through unchanged.
REPLICATED = {
    "orders": {
        "o_orderkey": "o_orderkey + v * {o_orderkey}",
        "o_custkey": "o_custkey + v * {o_custkey}",
    },
    "lineitem": {"l_orderkey": "l_orderkey + v * {o_orderkey}"},
    "events": {
        "event_id": "event_id + v * {event_id}",
        "user_id": "user_id + v * {user_id}",
    },
    "documents": {
        "doc_id": "doc_id + v * {doc_id}",
        "text": "text || ' tail' || CAST(v AS VARCHAR)",
        "n_chars": "n_chars + 5 + len(CAST(v AS VARCHAR))",
    },
    "embeddings": {"vec_id": "vec_id + v * {vec_id}"},
}
LINKED = ("region", "nation", "customer", "supplier", "part")


def build_scaled(src: str, n: int, out: str) -> str:
    """Write the ×``n`` corpus of ``src`` into ``out`` (see module doc)."""
    import duckdb

    src = os.path.abspath(src)
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order = false")
    shift = {
        k: con.sql(f"SELECT max({k}) + 1 FROM read_parquet('{src}/{t}.parquet')").fetchone()[0]
        for k, t in KEYS.items()
    }
    jobs = {
        t: "SELECT * EXCLUDE (v) REPLACE ("
        + ", ".join(f"{e.format(**shift)} AS {c}" for c, e in exprs.items())
        + f") FROM read_parquet('{src}/{t}.parquet')"
        f" CROSS JOIN (SELECT unnest(range({n})) AS v)"
        for t, exprs in REPLICATED.items()
    }
    recipe = json.dumps({"src": src, "n": n, "jobs": jobs, "linked": LINKED}, indent=1)
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == recipe:
                return out
    elif os.path.isdir(out) and os.listdir(out):
        raise FileExistsError(f"{out} holds files but no scale-corpus marker")
    tmp = out.rstrip(os.sep) + ".building"  # renamed into place only when complete
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t, sql in jobs.items():
        con.execute(f"COPY ({sql}) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
    for t in LINKED:
        os.symlink(os.path.join(src, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write(recipe)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def read_stage_info(directory: str) -> dict:
    """What perfbench's parser drops from an event log: ``names``
    ``{stage: name}``, and ``tasks``, one ``(stage, launch, finish, input
    bytes, input + shuffle-read bytes)`` per finished task."""
    names, tasks = {}, []
    for dp, _, files in os.walk(directory):
        for f in sorted(files):
            with open(os.path.join(dp, f), encoding="utf-8") as fh:
                for line in fh:
                    head = line[:48]
                    if "SparkListenerStageSubmitted" in head or "SparkListenerStageCompleted" in head:
                        si = json.loads(line)["Stage Info"]
                        names[si["Stage ID"]] = si["Stage Name"]
                    elif '"SparkListenerTaskEnd"' in head:
                        ev = json.loads(line)
                        ti, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                        read = inp + sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        tasks.append(
                            (ev.get("Stage ID"), ti.get("Launch Time", 0),
                             ti.get("Finish Time", 0), inp, read)
                        )
    return {"names": names, "tasks": tasks}


def stage_table(log: dict, info: dict, t0_ms: float, t1_ms: float) -> list[dict]:
    """One row per stage with a finished task inside ``[t0_ms, t1_ms]`` (the
    window ``exec_metrics`` counts), biggest summed executor run time first.
    ``max_task_mb`` is the stage's largest task input + shuffle read."""
    rows: dict[int, dict] = {}

    def row(stage):
        zero = dict.fromkeys(
            ("run_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "max_task_mb"), 0.0
        )
        return rows.setdefault(
            stage, {"stage": stage, "name": info["names"].get(stage, ""), "tasks": 0, **zero}
        )

    for t in log["tasks"]:
        if t0_ms <= t["launch"] and t["finish"] <= t1_ms:
            r = row(t["stage"])
            r["tasks"] += 1
            r["run_s"] += t["run_ms"] / 1e3
            r["shuffle_read_mb"] += t["shuffle_read"] / MB
            r["shuffle_write_mb"] += t["shuffle_write"] / MB
    for stage, launch, finish, inp, read in info["tasks"]:
        if t0_ms <= launch and finish <= t1_ms:
            r = row(stage)
            r["input_mb"] += inp / MB
            r["max_task_mb"] = max(r["max_task_mb"], read / MB)
    return sorted(rows.values(), key=lambda r: (-r["run_s"], r["stage"]))


def report(log, info, qid, sf_dir, wall, t0_ms, t1_ms, cores, top=14) -> None:
    print(f"\n=== {qid} @{sf_dir}: wall {wall:.2f}s")
    for k, (v, unit) in metrics.exec_metrics(log, t0_ms, t1_ms, cores).items():
        print(f"  {k:24s} {v:12.3f} {unit}")
    stages = stage_table(log, info, t0_ms, t1_ms)
    print(
        f"  {len(stages)} stages, {sum(r['input_mb'] for r in stages):.3f} MB input,"
        f" max task {max((r['max_task_mb'] for r in stages), default=0):.1f} MB;"
        f" top {min(top, len(stages))} by task time:\n"
        f"  {'taskS':>7} {'stage':>5} {'tasks':>5} {'inMB':>8} {'shRdMB':>8}"
        f" {'shWrMB':>8} {'maxTkMB':>8} name"
    )
    for r in stages[:top]:
        print(
            f"  {r['run_s']:7.1f} {r['stage']:>5} {r['tasks']:>5} {r['input_mb']:8.1f}"
            f" {r['shuffle_read_mb']:8.1f} {r['shuffle_write_mb']:8.1f}"
            f" {r['max_task_mb']:8.1f} {r['name'][:50]}"
        )
    queries = {
        j["query"]
        for j in log["jobs"].values()
        if j["query"] and j["start"] is not None and t0_ms <= j["start"] <= t1_ms
    }
    batches = metrics.batch_jobs(log, queries)
    if batches:
        print(f"  {'query':>8} {'batch':>5} {'jobs':>4} {'stages':>6} {'tasks':>5}"
              f" {'taskS':>7} {'shWrMB':>8}")
    for (q, b), r in sorted(batches.items()):
        print(
            f"  {q[:8]:>8} {b:>5} {r['jobs']:>4} {r['stages']:>6} {r['tasks']:>5}"
            f" {r['task_ms'] / 1e3:7.2f} {r['shuffle'] / MB:8.1f}"
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--scale", type=int, required=True)
    ap.add_argument("--src", required=True, help="fixture dataset dir, e.g. sf0.1")
    ap.add_argument("qids", nargs="+")
    a = ap.parse_args()

    from scylladb_redpanda_cdc_spark.plans import clear_session_frame_caches, registry

    specs = registry()
    unknown = sorted(set(a.qids) - set(specs))
    if a.scale < 1 or unknown:
        ap.error(f"--scale must be >= 1 and every qid registered (unknown: {unknown})")
    sf_dir = a.src
    if a.scale > 1:
        name = f"sg_scale_{os.path.basename(os.path.normpath(a.src))}_x{a.scale}"
        sf_dir = build_scaled(a.src, a.scale, os.path.join(tempfile.gettempdir(), name))
    log_dir = tempfile.mkdtemp(prefix="sg_scale_eventlog_")
    args = [x for x in shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", "")) if x != "pyspark-shell"]
    for k, v in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    from scylladb_redpanda_cdc_spark.session import get_session

    cells = []
    try:
        spark = get_session("sg-scale")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            cores = spark.sparkContext.defaultParallelism
            for qid in a.qids:
                for _run in ("staging", "measured"):  # the window is the last run's
                    clear_session_frame_caches()
                    spark._jvm.System.gc()
                    t0 = time.time()
                    specs[qid].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    t1 = time.time()
                cells.append((qid, t1 - t0, t0 * 1e3, t1 * 1e3))
        finally:
            spark.stop()
        log, info = metrics.read_event_log(log_dir), read_stage_info(log_dir)
        for qid, wall, t0_ms, t1_ms in cells:
            report(log, info, qid, sf_dir, wall, t0_ms, t1_ms, cores)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
