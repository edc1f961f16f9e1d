"""Ad-hoc round-13 probes (not a pytest module). Three tasks from the
round-12 verdict:

1. ``--s22``: decompose s22's second-decade slope (3.99x wall for x10
   input) into per-micro-batch FIXED machinery vs the DATA term, using
   the streaming progress events (durationMs: triggerExecution vs
   addBatch) plus two control drives over the same staged changelog
   stream — a no-op foreachBatch (pure trigger/offset/commit machinery)
   and a count-only foreachBatch (machinery + batch scan).

2. ``--b31``: re-probe the salted skew join with broadcast DISABLED at
   both scales (spark.sql.autoBroadcastJoinThreshold=-1 and the AQE
   runtime equivalent), so the measured slope is the salted
   sort-merge path itself, not AQE's broadcast rescue (the r12 row
   showed ~0 shuffle bytes at both scales = broadcast both times).

3. ``--ckpt``: the reliable-checkpoint durability tax AT SATURATION —
   the three heaviest staged-frame consumers (x46, the x21 CC loop,
   b40's ranged_rank) on the x10 corpus, local vs reliable, and the
   DISK_ONLY (round-13 default) vs MEMORY_AND_DISK scratch level.

Reuses the r12 probe's x10 corpus builder, probe session, and UI REST
metric helpers. Usage: python tests/_probe_r13.py [--s22] [--b31] [--ckpt]
(default: all three).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import _probe_r12 as r12

from scylladb_redpanda_cdc_spark.plans import (
    clear_session_frame_caches,
    registry,
)

SRC = r12.SRC
X10_DIR = r12.X10_DIR


# ---------------------------------------------------------------------------
# Task 1 — s22 fixed-machinery vs data-term decomposition
# ---------------------------------------------------------------------------


class _Progress:
    """Collect per-batch durationMs from streaming progress events."""

    def __init__(self):
        self.rows = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.rows.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return L()


def _drive_stream(spark, changes, body) -> float:
    """Drain ``changes`` through foreachBatch(body) with availableNow;
    return wall seconds."""
    from scylladb_redpanda_cdc_spark.streaming.core import (
        STREAM_SINK_SHUFFLE_PARTITIONS,
        scoped_conf,
        tmpdir,
    )

    t0 = time.perf_counter()
    width = str(STREAM_SINK_SHUFFLE_PARTITIONS)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", width):
        q = (
            changes.writeStream.foreachBatch(body)
            .option("checkpointLocation", tmpdir("ckpt_probe"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return time.perf_counter() - t0


def probe_s22(spark, specs, dirs=None):
    from scylladb_redpanda_cdc_spark.streaming.ops import (
        stage_changelog_stream,
    )

    print("== s22 decomposition (machinery vs data term)")
    for label, sf_dir in dirs or (("sf0.1", SRC), ("x10  ", X10_DIR)):
        # Warm run (stages the changelog files + codegen).
        r12._noop_run(specs, spark, "s22_stream_scd2", sf_dir)
        spark._jvm.System.gc()

        # Control drives over the SAME staged stream.
        changes = stage_changelog_stream(spark, sf_dir, n_files=3)
        null_wall = _drive_stream(spark, changes, lambda df, bid: None)
        changes = stage_changelog_stream(spark, sf_dir, n_files=3)
        count_wall = _drive_stream(
            spark, changes, lambda df, bid: df.count() and None
        )

        # Measured s22 run with progress capture.
        collect = _Progress()
        lst = collect.listener()
        spark.streams.addListener(lst)
        try:
            wall = r12._noop_run(specs, spark, "s22_stream_scd2", sf_dir)
        finally:
            spark.streams.removeListener(lst)
        batches = [
            p
            for p in collect.rows
            if p.get("numInputRows", 0) > 0 or p.get("batchId", -1) >= 0
        ]
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in batches)
        addb = sum(p["durationMs"].get("addBatch", 0) for p in batches)
        rows = sum(p.get("numInputRows", 0) for p in batches)
        print(
            f"  {label}: wall {wall:6.2f}s | progress: trigger "
            f"{trig / 1e3:6.2f}s addBatch {addb / 1e3:6.2f}s "
            f"(fixed outside addBatch {max(trig - addb, 0) / 1e3:5.2f}s) | "
            f"rows {rows} over {len(batches)} batches | controls: "
            f"null-drive {null_wall:5.2f}s, count-drive {count_wall:5.2f}s"
        )
        for p in batches:
            d = p["durationMs"]
            print(
                f"    batch {p.get('batchId')}: rows {p.get('numInputRows')}"
                f" trigger {d.get('triggerExecution', 0) / 1e3:6.2f}s"
                f" addBatch {d.get('addBatch', 0) / 1e3:6.2f}s"
            )


# ---------------------------------------------------------------------------
# Task 2 — b31 salted path with broadcast disabled
# ---------------------------------------------------------------------------


def probe_b31(spark, specs, dirs=None):
    print("== b31 salted skew join, broadcast disabled at both scales")
    app = r12._app_id()
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {}
    for k in keys:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, "-1")
    try:
        row = []
        labels = []
        for label, sf_dir in dirs or (("sf0.1", SRC), ("x10", X10_DIR)):
            r12._noop_run(specs, spark, "b31_join_skew_salted", sf_dir)
            spark._jvm.System.gc()
            seen = r12._stage_ids(app)
            wall = r12._noop_run(specs, spark, "b31_join_skew_salted", sf_dir)
            sh, _inp, mt = r12._run_metrics(app, seen)
            row.append((wall, sh / 1e6, mt / 1e6))
            labels.append(label)
        (w1, s1, m1), (w2, s2, m2) = row
        print(
            f"  {labels[0]} {w1:6.2f}s shuf {s1:8.1f}MB maxTask {m1:6.2f}MB | "
            f"{labels[1]} {w2:6.2f}s shuf {s2:8.1f}MB maxTask {m2:6.2f}MB | "
            f"wall {w2 / w1:4.2f}x shuf {s2 / max(s1, 1e-9):6.1f}x"
        )
    finally:
        for k in keys:
            if prev[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev[k])


# ---------------------------------------------------------------------------
# Task 3 — reliable-checkpoint tax at saturation (+ scratch level)
# ---------------------------------------------------------------------------

CKPT_QIDS = (
    "x46_dedup_est_quality",
    "x21_dedup_cluster_cc",
    "b40_rfm_segmentation",
)


def probe_ckpt(spark, specs):
    from scylladb_redpanda_cdc_spark.operators.checkpoint import (
        CHECKPOINT_DIR_CONF,
        SCRATCH_LEVEL_CONF,
    )
    from scylladb_redpanda_cdc_spark.streaming.core import tmpdir

    print("== reliable-checkpoint tax at x10 saturation (best-of-3 warm)")
    regimes = (
        ("local", None, None),
        ("reliable/DISK_ONLY", tmpdir("ck_probe_d"), "DISK_ONLY"),
        ("reliable/MEM_AND_DISK", tmpdir("ck_probe_m"), "MEMORY_AND_DISK"),
    )
    for qid in CKPT_QIDS:
        cells = []
        for name, ck_dir, level in regimes:
            if ck_dir:
                spark.conf.set(CHECKPOINT_DIR_CONF, ck_dir)
                spark.conf.set(SCRATCH_LEVEL_CONF, level)
            try:
                clear_session_frame_caches()
                walls = []
                for i in range(3):
                    if i == 0:
                        pass  # cold: caches rebuild under THIS regime
                    spark._jvm.System.gc()
                    walls.append(r12._noop_run(specs, spark, qid, X10_DIR))
                cells.append((name, walls[0], min(walls)))
            finally:
                if ck_dir:
                    spark.conf.unset(CHECKPOINT_DIR_CONF)
                    spark.conf.unset(SCRATCH_LEVEL_CONF)
        clear_session_frame_caches()
        base = cells[0][2]
        print(
            f"  {qid}: "
            + " | ".join(
                f"{name} cold {cold:6.2f}s best {best:6.2f}s"
                f" ({best / base:4.2f}x)"
                for name, cold, best in cells
            )
        )


def main():
    argv = set(sys.argv[1:])
    run_all = not argv
    print("== ensuring x10 dataset")
    r12.build_x10()
    spark = r12._session()
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    r12._noop_run(specs, spark, "b15_agg_basic", "/root/testdata/sf0.01")
    if run_all or "--s22" in argv:
        probe_s22(spark, specs)
    if run_all or "--b31" in argv:
        probe_b31(spark, specs)
    if run_all or "--ckpt" in argv:
        probe_ckpt(spark, specs)
    if "--decade3" in argv:
        # Third-decade cells for the two decomposed slopes: x10 -> x100
        # in this same session (builds the x100 corpus if absent).
        import _probe_r13b as r13b

        r13b.build_x100()
        d3 = (("x10 ", X10_DIR), ("x100", r13b.X100_DIR))
        probe_s22(spark, specs, dirs=d3)
        probe_b31(spark, specs, dirs=d3)
    spark.stop()


if __name__ == "__main__":
    main()
