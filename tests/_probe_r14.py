"""Ad-hoc round-14 probe: the auto-sized stream plan width (not pytest).

Round 13's ×100/×1000 cells had to hand-set ``SG_STREAM_SINK_SHUFFLE=32``
or the drill streams planned 5.5 M-row merge joins on one core (SURVEY §6
decade-3 fix #2). `streaming/core.py::stream_shuffle_width` now derives
the width from the staged source's bytes. This probe re-runs the ×100
s17/s19 cells with NO hand-set knob (the shipped defaults) and prints the
width the helper chose, for comparison against the recorded =32 numbers
(s19 72.9 s, s17 139 s in the loaded r13b session; s17 52.8 s in r13f's
clean session — the relevant envelope is "same band, tasks bounded").

Usage: python tests/_probe_r14.py [qid ...]   (default: s19, s17)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import _probe_r12 as r12
import _probe_r13b as r13b
from scylladb_redpanda_cdc_spark.plans import (
    clear_session_frame_caches,
    registry,
)

DEFAULT = ["s19_stream_redelivery_dedup", "s17_stream_incremental_mv"]


def main():
    assert "SG_STREAM_SINK_SHUFFLE" not in os.environ, (
        "probe must run WITHOUT the hand-set knob"
    )
    qids = sys.argv[1:] or DEFAULT
    r13b.build_x100()
    spark = r12._session()
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    r12._noop_run(specs, spark, "b15_agg_basic", "/root/testdata/sf0.01")
    app = r12._app_id()

    # Show the widths the helper would pick for the x100 staged sources.
    from scylladb_redpanda_cdc_spark.operators.scale import fs_bytes
    from scylladb_redpanda_cdc_spark.streaming import core as score
    from scylladb_redpanda_cdc_spark.streaming.ops import (
        stage_changelog_stream,
        stage_events_split_stream,
    )

    for label, sdf in (
        ("changelog n=4", stage_changelog_stream(spark, r13b.X100_DIR, 4)),
        (
            "events split redeliver",
            stage_events_split_stream(spark, r13b.X100_DIR, 4, redeliver=True),
        ),
    ):
        paths = score.stream_source_paths(sdf)
        nbytes = sum(fs_bytes(spark, p) or 0 for p in paths)
        print(
            f"  {label:24s} staged {nbytes / 1e6:7.1f} MB -> width "
            f"{score.stream_shuffle_width(spark, sdf)}"
        )

    print(f"{'query':30s} {'x100 wall':>10s} {'shufMB':>9s} {'mxTkMB':>8s}")
    for qid in qids:
        clear_session_frame_caches()
        r12._noop_run(specs, spark, qid, r13b.X100_DIR)  # warm
        clear_session_frame_caches()
        spark._jvm.System.gc()
        seen = r12._stage_ids(app)
        wall = r12._noop_run(specs, spark, qid, r13b.X100_DIR)
        sh, _inp, mt = r12._run_metrics(app, seen)
        print(f"{qid:30s} {wall:9.2f}s {sh / 1e6:9.1f} {mt / 1e6:8.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
