"""Record ``data/eventlog_small.jsonl``, the event log the parser test reads:
a two-batch foreachbatch_upsert drain of a tiny trickle log on ``local[2]``.
Only the event kinds the parser reads are kept, and local paths are
replaced by ``/work``, so the file is small and machine-independent.

    python perfbench/tests/record_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

KEEP = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLExecutionEnd",
)
PROPS = ("streaming.sql.batchId", "sql.streaming.queryId")


def main() -> None:
    work = tempfile.mkdtemp(prefix="eventlog-")
    logdir = os.path.join(work, "log")
    os.makedirs(logdir)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": "2",
            "SG_SCRATCH_DIR": work,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{logdir} "
                "--conf spark.eventLog.compress=false "
                "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
            ),
        }
    )
    import inputs
    from scylladb_redpanda_cdc_spark.session import get_session
    from scylladb_redpanda_cdc_spark.streaming import ops

    src = inputs.trickle_changelog(work, 1, 200, 1, 20)
    spark = get_session()
    changes = (
        spark.readStream.schema(ops.CHANGELOG_STREAM_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ops.foreachbatch_upsert(changes, ["customer_id", "order_id"])
    spark.stop()

    out = []
    for dp, _, names in os.walk(logdir):
        for name in names:
            with open(os.path.join(dp, name), encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    if not ev.get("Event", "").endswith(KEEP):
                        continue
                    if "Properties" in ev:
                        ev["Properties"] = {
                            k: v for k, v in ev["Properties"].items() if k in PROPS
                        }
                    for key in ("Stage Infos", "sparkPlanInfo", "modifiedConfigs",
                                "details", "Task Executor Metrics"):
                        ev.pop(key, None)
                    ev.get("Task Info", {}).pop("Accumulables", None)
                    if "physicalPlanDescription" in ev:  # keep the write-target lines
                        ev["physicalPlanDescription"] = "\n".join(
                            ln
                            for ln in ev["physicalPlanDescription"].splitlines()
                            if "InsertIntoHadoopFsRelationCommand" in ln or "sg_state_" in ln
                        )
                    out.append(json.dumps(ev).replace(work, "/work"))
    dest = os.path.join(HERE, "data", "eventlog_small.jsonl")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(out)} events to {dest}")


if __name__ == "__main__":
    main()
