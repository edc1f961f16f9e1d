"""Ad-hoc round-13 probe: the postings fan-out scale guard (not pytest).

The decade-3 probe (`_probe_r13b.py`) measured x11's max task growing
53 → 119 MB across ×10 → ×100 under a FIXED shuffle-partition count —
the postings exchange was sized by a global conf, not by the data.
`operators/scale.py::sized_count` now sizes that exchange from
the counted postings above a 32 MB source-parquet gate.

This probe measures the guard's effect where it matters: the ×100
corpus (59 MB documents parquet — above the gate) under a 32-partition
session (the bench posture — what a conf-sized plan would actually get).
Cells, same session, warm second run each, caches cleared per cell:

  A. guard DISABLED (gate forced above the corpus): today's conf-sized
     plan — the exchange runs at spark.sql.shuffle.partitions = 32.
  B. guard ACTIVE (shipped defaults): the exchange runs at the counted
     n = ceil(rows x 56 B x 2 sides / 64 MB).

Also re-checks pair-count equality between the two cells (the guard is
physical layout only) and prints the ×10 cell, where the gate must NOT
fire (5.9 MB parquet < 32 MB).

Usage: python tests/_probe_r13d.py [x39]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import _probe_r12 as r12
import _probe_r13b as r13b
from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.plans import (
    clear_session_frame_caches,
    registry,
)


def cell(spark, specs, qid, sf_dir, label):
    app = r12._app_id()
    clear_session_frame_caches()
    r12._noop_run(specs, spark, qid, sf_dir)  # warm
    clear_session_frame_caches()
    spark._jvm.System.gc()
    seen = r12._stage_ids(app)
    wall = r12._noop_run(specs, spark, qid, sf_dir)
    sh, _inp, mt = r12._run_metrics(app, seen)
    n = specs[qid].build(spark, sf_dir).count()
    print(
        f"  {label:28s} wall {wall:7.2f}s  shuffle {sh / 1e6:8.1f} MB"
        f"  max task {mt / 1e6:7.2f} MB  pairs {n}"
    )
    return n


def main():
    qid = (
        "x39_dedup_containment"
        if "x39" in sys.argv[1:]
        else "x11_dedup_ngram_jaccard"
    )
    r12.build_x10()
    r13b.build_x100()
    spark = r12._session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")  # bench posture
    specs = registry()
    r12._noop_run(specs, spark, "b15_agg_basic", "/root/testdata/sf0.01")

    print(f"== {qid} at x10 (below gate: guard must not fire)")
    cell(spark, specs, qid, r12.X10_DIR, "x10 shipped defaults")

    print(f"== {qid} at x100, 32-partition session")
    # restore the DEPLOYED gate (env override included), not a re-typed
    # constant — cell B must measure the configuration actually shipped
    deployed_gate = scale.GATE_BYTES
    try:
        scale.GATE_BYTES = 1 << 60
        a = cell(spark, specs, qid, r13b.X100_DIR, "A guard disabled (conf-sized)")
    finally:
        scale.GATE_BYTES = deployed_gate
    b = cell(spark, specs, qid, r13b.X100_DIR, "B guard active (data-sized)")
    print(f"  pair sets equal-count: {a == b}")
    spark.stop()


if __name__ == "__main__":
    main()
