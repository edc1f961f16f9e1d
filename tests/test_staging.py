"""streaming/core.py::staged — the one stage-once scratch memo.

Every staged input (file-stream transports, storage layouts, b43's
multi-format copies, b32/o11's bucketed tables) is written once per session and re-staged when its
scratch dir was reaped (an outside cleaner may clear scratch mid-session).
The ordered stagers pin their stream order by mtime, and the process
removes every scratch dir it made when it exits; these tests pin all three
contracts.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import subprocess
import sys

import pytest

from scylladb_redpanda_cdc_spark.plans import batch_queries as BQ
from scylladb_redpanda_cdc_spark.plans import storage_queries as SQ
from scylladb_redpanda_cdc_spark.streaming import core, ops


def _memo_dir(spark, name: str, key: tuple) -> str:
    """The dir the memo holds for (name, key); a miss fails instead of
    staging."""

    def unstaged(_stage: str) -> None:
        raise AssertionError(f"{name}{key} was not staged")

    return core.staged(spark, name, key, unstaged)


def _stream_rows(sdf):
    return sorted(map(tuple, core.run_to_table(sdf).collect()))


def _batch_rows(df):
    return sorted(map(tuple, df.collect()))


# (id, build -> rows, memo name, memo key suffix after sf_dir)
_INPUTS = [
    (
        "b43",
        lambda spark, sf: _batch_rows(BQ.b43_multiformat_scan(spark, sf)),
        "multiformat",
        (),
    ),
    (
        "b32",
        lambda spark, sf: _batch_rows(BQ.b32_join_bucketed_colocated(spark, sf)),
        "bucketed",
        (),
    ),
    (
        "changelog",
        lambda spark, sf: _stream_rows(ops.stage_changelog_stream(spark, sf, n_files=4)),
        "changelog",
        (4,),
    ),
    (
        "late_events",
        lambda spark, sf: _stream_rows(ops.stage_late_events_stream(spark, sf)),
        "late_events",
        (),
    ),
    (
        "documents",
        lambda spark, sf: _stream_rows(ops.stage_documents_stream(spark, sf)),
        "docs_stream",
        (),
    ),
    (
        "events_split",
        lambda spark, sf: _stream_rows(ops.stage_events_split_stream(spark, sf, n_files=4)),
        "evsplit",
        (4, False),
    ),
    (
        "o1",
        lambda spark, sf: _batch_rows(SQ.o1_partitioned_write(spark, sf)),
        "o_o1",
        (),
    ),
]


@pytest.mark.parametrize(
    "build,name,key", [i[1:] for i in _INPUTS], ids=[i[0] for i in _INPUTS]
)
def test_reaped_stage_is_restaged(spark, sf_dir, build, name, key):
    """Build once, delete the staged dir (as an outside reap would), build
    again: the second call stages a NEW non-empty dir and the rows are
    unchanged — no stager may read a reaped dir."""
    key = (sf_dir, *key)
    first = build(spark, sf_dir)
    old = _memo_dir(spark, name, key)
    shutil.rmtree(old)
    again = build(spark, sf_dir)
    new = _memo_dir(spark, name, key)
    assert new != old
    assert os.listdir(new)
    assert first and again == first


@pytest.mark.parametrize(
    "stage,redelivered",
    [
        (lambda spark, sf: ops.stage_late_events_stream(spark, sf), False),
        (lambda spark, sf: ops.stage_documents_stream(spark, sf), False),
        (lambda spark, sf: ops.stage_events_split_stream(spark, sf, n_files=4), False),
        (
            lambda spark, sf: ops.stage_events_split_stream(
                spark, sf, n_files=4, redeliver=True
            ),
            True,
        ),
    ],
    ids=["late_events", "documents", "events_split", "events_split_redeliver"],
)
def test_ordered_stagers_pin_strictly_increasing_mtimes(
    spark, sf_dir, stage, redelivered
):
    """FileStreamSource drains oldest-mtime first, so the staged file
    names, in sorted order, must carry strictly increasing mtimes. The
    redelivered copy of file 0 must be the newest file and byte-identical
    to it."""
    stage_dir = core.stream_source_paths(stage(spark, sf_dir))[0]
    names = sorted(os.listdir(stage_dir))
    assert len(names) >= 2, names
    mts = [os.path.getmtime(os.path.join(stage_dir, n)) for n in names]
    assert all(a < b for a, b in zip(mts, mts[1:])), list(zip(names, mts))
    assert ("99_redelivered.parquet" in names) == redelivered, names
    if redelivered:
        assert names[-1] == "99_redelivered.parquet"
        assert filecmp.cmp(
            os.path.join(stage_dir, "00.parquet"),
            os.path.join(stage_dir, "99_redelivered.parquet"),
            shallow=False,
        )


@pytest.mark.slow
def test_process_removes_its_scratch_at_exit(tmp_path, sf_dir):
    """A process that built s10 (state versions + checkpoint), s24 twice
    (four fresh dirs per build) and b43 (a staged layout) leaves no
    ``sg_*`` entry under its scratch root once it exits. The child
    prints what it made before exiting, so an empty root is not vacuous."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import os, sys
from scylladb_redpanda_cdc_spark.plans import registry
from scylladb_redpanda_cdc_spark.session import get_session

spark = get_session("scratch-exit")
spark.sparkContext.setLogLevel("ERROR")
specs, sf = registry(), sys.argv[1]
for qid in ("s10_foreachbatch_upsert", "s24_stream_state_recovery",
            "s24_stream_state_recovery", "b43_multiformat_scan"):
    specs[qid].build(spark, sf).collect()
print("made", len([n for n in os.listdir(sys.argv[2]) if n.startswith("sg_")]))
"""
    env = dict(os.environ, SG_SCRATCH_DIR=str(tmp_path))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script, sf_dir, str(tmp_path)],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    made = int(proc.stdout.split("made ")[-1])
    assert made >= 10, proc.stdout
    assert [n for n in os.listdir(tmp_path) if n.startswith("sg_")] == []


def test_o14_tables_stay_out_of_the_warehouse(tmp_path, sf_dir):
    """o14 saves its two ANALYZE'd tables as external tables in scratch,
    not as managed tables under ``./spark-warehouse`` of whatever cwd the
    caller runs in: a child run from a fresh cwd leaves no ``sg_o14_*``
    there, its rows match the oracle, and its scratch is gone at exit."""
    import json

    import pandas as pd
    from oracle_util import duckdb_connection, normalize

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cwd, scratch = tmp_path / "cwd", tmp_path / "scratch"
    cwd.mkdir()
    scratch.mkdir()
    script = """
import json, sys
from scylladb_redpanda_cdc_spark.plans import registry
from scylladb_redpanda_cdc_spark.session import get_session

spark = get_session("o14-cwd")
spark.sparkContext.setLogLevel("ERROR")
rows = registry()["o14_cbo_stats_join"].build(spark, sys.argv[1]).toPandas()
print(json.dumps({"warehouse": spark.conf.get("spark.sql.warehouse.dir"),
                  "rows": rows.to_dict("records")}))
"""
    env = dict(os.environ, SG_SCRATCH_DIR=str(scratch))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        env=env,
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    warehouse = out["warehouse"].removeprefix("file:")
    assert warehouse.startswith(str(cwd))
    left = [
        os.path.join(dp, d)
        for dp, dirs, _ in os.walk(cwd)
        for d in dirs
        if d.startswith("sg_o14_")
    ]
    assert left == []
    assert [n for n in os.listdir(scratch) if n.startswith("sg_")] == []
    con = duckdb_connection(sf_dir)
    expected = con.sql(SQ._O14_SQL).df()
    assert normalize(pd.DataFrame(out["rows"])) == normalize(expected)
