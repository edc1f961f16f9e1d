"""state_file_count sizes foreachBatch state writes by bytes.

The round-13 ×100 probe showed a fixed ``coalesce(16)`` collapsing s17's
whole merge stage (one 643 MB task at decade 3); the fix targets
~STATE_TARGET_FILE_BYTES of parquet per file, estimated from the bytes
the version will hold. The foreachBatch state runner passes the previous
version's priced bytes plus the drained log's staged bytes. This file pins
the helper's contract: fixture-scale writes keep the caller's floor (plans
and floors stay byte-identical), the count grows proportionally once the
estimate exceeds the target, an unpriceable version counts as empty
(never wrong, merely small), and the 4096 cap bounds file-count
explosions. The last test pins the runner's use of it.
"""

from __future__ import annotations

import glob
import math
import os

import pandas as pd
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.streaming import core


def test_no_previous_version_returns_floor():
    assert core.state_file_count(0, 16) == 16
    assert core.state_file_count(0, 4) == 4


def test_missing_path_degrades_to_floor(spark, tmp_path):
    """The runner prices each written version as ``fs_bytes(path) or 0``:
    a version the filesystem cannot price counts as empty, so the next
    write keeps the floor."""
    missing = str(tmp_path / "never-written")
    assert scale.fs_bytes(spark, missing) is None
    assert core.state_file_count(scale.fs_bytes(spark, missing) or 0, 8) == 8


def test_fixture_scale_state_keeps_floor(spark, tmp_path):
    """A state version far under the per-file target must return exactly
    the caller's floor — this is what keeps fixture-scale plans (and the
    recorded floors) byte-identical to the pre-helper constants."""
    p = str(tmp_path / "v0")
    spark.range(100).write.parquet(p)
    assert core.state_file_count(scale.fs_bytes(spark, p), 16) == 16


def test_count_scales_with_state_bytes(monkeypatch):
    """Once the estimate exceeds the target, the count is
    ceil(bytes/target) — proportional to data, not a fixed cap. (The
    target shrinks below the sizing gate, so the gate is opened too.)"""
    nbytes = 100_000
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", nbytes // 3)
    assert core.state_file_count(nbytes, 1) == math.ceil(nbytes / (nbytes // 3))
    # the floor still wins when it is larger than the byte-derived count
    assert core.state_file_count(nbytes, 64) == 64


def test_count_is_capped_at_4096(monkeypatch):
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", 1)
    assert core.state_file_count(1_000_000, 4) == 4096


def test_write_sized_from_prev_plus_batch_contribution(monkeypatch):
    """Sizing from the previous version ALONE lags the written size by
    one batch — the r14 ×1000 s22 drill's 302 MB write task was v2 sized
    from v1 during a 3-batch catch-up. The runner passes prev + the
    drained log's bytes (every availableNow batch is a subset of the
    log), which bounds the written size from above."""
    prev = 50_000
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", prev)
    assert core.state_file_count(prev, 1) == 1
    # extra bytes twice the state triple the estimate
    assert core.state_file_count(prev + 2 * prev, 1) == 3
    # first write (no prev) is sized from the extra bytes alone
    assert core.state_file_count(2 * prev, 1) == 2
    # fixture discipline unchanged: tiny prev + tiny extra -> floor
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", 32 * 1024 * 1024)
    assert core.state_file_count(prev + 1024, 16) == 16


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(map(tuple, pdf[cols].astype(str).values.tolist()))


def test_runner_sizes_each_version_from_prev_plus_log(spark, sf_dir, monkeypatch):
    """The foreachBatch runner writes each state version in
    ``max(floor, ceil((prev + log) / target))`` files: prev is the last
    version's priced bytes (0 before the first), log the staged stream's
    bytes. With the gate open and the target shrunk so the count leaves
    the floor, the merged state must still equal the floored run."""
    from scylladb_redpanda_cdc_spark.streaming import ops

    def drain():
        sdf = ops.stage_changelog_stream(spark, sf_dir, n_files=4)
        state = ops.foreachbatch_upsert(sdf, ["customer_id", "order_id"])
        return sdf, state

    _sdf, floored = drain()
    expected = _canon(floored.toPandas())
    assert expected

    seen: list[tuple[int, int, int]] = []
    real = ops.state_file_count

    def record(nbytes, floor):
        n = real(nbytes, floor)
        seen.append((nbytes, floor, n))
        return n

    sdf = ops.stage_changelog_stream(spark, sf_dir, n_files=4)
    log = core.stream_source_bytes(sdf)
    assert log
    target = max(1, log // 24)
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", target)
    monkeypatch.setattr(ops, "state_file_count", record)
    sdf, sized = drain()
    assert _canon(sized.toPandas()) == expected

    final_dir = os.path.dirname(sized.inputFiles()[0].removeprefix("file:"))
    versions = sorted(
        glob.glob(os.path.join(os.path.dirname(final_dir), "v*")),
        key=lambda p: int(os.path.basename(p)[1:]),
    )
    assert len(versions) == len(seen) == 4
    prev = 0
    for (nbytes, floor, n), path in zip(seen, versions):
        assert floor == 16
        assert nbytes == prev + log
        assert n == max(16, math.ceil((prev + log) / target))
        # coalesce only lowers the partition count: at most n files
        assert 1 <= len(glob.glob(os.path.join(path, "part-*"))) <= n
        prev = scale.fs_bytes(spark, path)
    assert max(n for _, _, n in seen) > 16  # the count left the floor
