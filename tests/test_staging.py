"""streaming/core.py::staged — the one stage-once scratch memo.

Every staged input (file-stream transports, storage layouts, b43's
multi-format copies, b32/o11's bucketed tables) is written once per session and re-staged when its
scratch dir was reaped (tmpfs may be cleared mid-session). The ordered
stagers pin their stream order by mtime; these tests pin both contracts.
"""

from __future__ import annotations

import filecmp
import os
import shutil

import pytest

from scylladb_redpanda_cdc_spark.plans import batch_queries as BQ
from scylladb_redpanda_cdc_spark.plans import storage_queries as SQ
from scylladb_redpanda_cdc_spark.streaming import core, ops


def _memo_dir(spark, name: str, key: tuple) -> str:
    """The dir the memo holds for (name, key); a miss fails instead of
    staging."""

    def unstaged(_stage: str) -> None:
        raise AssertionError(f"{name}{key} was not staged")

    return core.staged(spark, name, key, None, unstaged)


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
    """Build once, delete the staged dir (as a tmpfs reap would), build
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
