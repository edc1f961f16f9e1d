"""streaming/core.py — data-adaptive micro-batch plan width (round 14).

Round 13's decade probes had to hand-set ``SG_STREAM_SINK_SHUFFLE=32`` at
the ×100 corpus or s17/s19 serialized 5.5 M-row merge joins on one core —
the last operator-relevant fixed knob. :func:`stream_shuffle_width` retires
it: the test-sink stream runners derive the plan width from the staged
source's on-disk bytes (recovered from the stream's own analyzed plan, so
no call site threads paths by hand), floored at the old constant so every
fixture-scale plan and floor stays byte-identical.

Pins the same three contracts ``test_scale_helpers.py`` pins for the
batch-side guard:

1. The GATE: at every fixture SF the helper returns the floor without any
   sizing arithmetic mattering.
2. The sizing formula above the gate: bytes-based, floored, capped.
3. Semantics: forcing the adaptive width at fixture scale changes the
   stateful streams' RESULTS not at all.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.streaming import core


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(map(tuple, pdf[cols].astype(str).values.tolist()))


def _staged_stream(spark, sf_dir):
    from scylladb_redpanda_cdc_spark.streaming.ops import stage_changelog_stream

    sdf = stage_changelog_stream(spark, sf_dir, n_files=4)
    return sdf, core.stream_source_paths(sdf)[0]


def test_source_paths_recovered_through_transformations(spark, sf_dir):
    """The FileSource leaf survives filters/aggregates, so the width
    helper sees the staged dir no matter how the query transformed the
    stream — no hand-threaded paths."""
    from pyspark.sql import functions as F

    sdf, staged = _staged_stream(spark, sf_dir)
    transformed = (
        sdf.filter(F.col("op") != "d").groupBy("op").agg(F.count("*").alias("n"))
    )
    assert core.stream_source_paths(transformed) == [staged]


def test_width_is_floor_at_fixture_scale(spark, sf_dir):
    """Every fixture SF sits far below the 32 MB gate: the width equals
    the fixture floor, so micro-batch plans are byte-identical to the
    floored ones."""
    sdf, staged = _staged_stream(spark, sf_dir)
    assert scale.fs_bytes(spark, staged) < scale.GATE_BYTES
    assert core.stream_shuffle_width(spark, sdf) == core.STREAM_SINK_SHUFFLE_PARTITIONS
    # Non-file and absent sources also take the floor.
    assert core.stream_shuffle_width(spark, None) == core.STREAM_SINK_SHUFFLE_PARTITIONS


def test_sizing_formula_above_gate(spark, sf_dir, monkeypatch):
    sdf, staged = _staged_stream(spark, sf_dir)
    nbytes = scale.fs_bytes(spark, staged)
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    target = max(1, nbytes // 24)  # ~24 sized tasks
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", target)
    assert core.stream_shuffle_width(spark, sdf) == math.ceil(nbytes / target)
    # The hard cap bounds a runaway width; the floor bounds a tiny one.
    monkeypatch.setattr(core, "STREAM_WIDTH_MAX", 4)
    assert core.stream_shuffle_width(spark, sdf) == 4
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", nbytes * 10)
    monkeypatch.setattr(core, "STREAM_SINK_SHUFFLE_PARTITIONS", 3)
    assert core.stream_shuffle_width(spark, sdf) == 3


def test_multi_source_streams_sum_their_bytes(spark, sf_dir, monkeypatch):
    """A stream-stream join carries two FileSource leaves; the width must
    price BOTH sides (the micro-batch plans their shuffles together)."""
    sdf, staged = _staged_stream(spark, sf_dir)
    joined = sdf.alias("a").join(sdf.alias("b"), ["customer_id", "order_id"])
    paths = core.stream_source_paths(joined)
    assert paths == [staged, staged]
    nbytes = scale.fs_bytes(spark, staged)
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", nbytes)
    assert core.stream_shuffle_width(spark, joined) == 2


def test_fs_bytes_defensive(spark):
    """The streaming layer prices sources through the shared helper: a
    missing path is unpriceable (None), never an exception."""
    assert core.fs_bytes(spark, "/root/testdata/nope/missing") is None


def test_width_reaches_the_micro_batch_plan(spark, sf_dir, monkeypatch):
    """Mechanism, not just result: with the gate forced open, the conf
    the micro-batch plans under IS the computed width (captured inside a
    foreachBatch while the stream runs), and it is restored after."""
    sdf, staged = _staged_stream(spark, sf_dir)
    nbytes = scale.fs_bytes(spark, staged)
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    target = max(1, nbytes // 7)
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", target)
    expected = core.stream_shuffle_width(spark, sdf)
    assert expected > 1
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def capture(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    core.drain(
        sdf,
        sdf.writeStream.foreachBatch(capture).option(
            "checkpointLocation", core.tmpdir("width_ckpt")
        ),
    )
    assert seen and set(seen) == {str(expected)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@pytest.mark.slow
def test_s17_s19_results_invariant_under_forced_adaptive_width(
    spark, sf_dir, monkeypatch
):
    """Force the gate open at fixture scale so the drill streams plan
    their micro-batches at a data-sized width (>1): the final MV and the
    dedup aggregate must equal the floored plans' results exactly — the
    width is physical only, the invariance the ×100 probes rely on when
    they compare against the hand-set =32 numbers."""
    from scylladb_redpanda_cdc_spark.plans import registry

    specs = registry()
    base = {
        qid: _canon(specs[qid].build(spark, sf_dir).toPandas())
        for qid in ("s17_stream_incremental_mv", "s19_stream_redelivery_dedup")
    }
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", 4096)
    for qid, expected in base.items():
        forced = _canon(specs[qid].build(spark, sf_dir).toPandas())
        assert forced == expected, qid
        assert expected, qid


def test_state_merge_width_gate_formula_and_ambient_floor(
    spark, sf_dir, monkeypatch
):
    """Round 15 (VERDICT r14 task 3): the per-batch state-sized merge
    width. Below the gate (every fixture SF) it is None — merge batches
    plan byte-identical to the floored ones; above it the width targets
    STREAM_TARGET_TASK_SOURCE_BYTES of state parquet per task, capped,
    and returned only when it beats the ambient conf."""
    sdf, staged = _staged_stream(spark, sf_dir)  # any real parquet dir
    nbytes = scale.fs_bytes(spark, staged)
    assert nbytes < scale.GATE_BYTES
    assert core.state_merge_width(spark, nbytes) is None
    assert core.state_merge_width(spark, 0) is None
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    target = max(1, nbytes // 24)
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", target)
    ambient = int(spark.conf.get("spark.sql.shuffle.partitions"))
    expected = math.ceil(nbytes / target)
    assert core.state_merge_width(spark, nbytes) == (
        expected if expected > ambient else None
    )
    monkeypatch.setattr(core, "STREAM_WIDTH_MAX", 4)
    assert core.state_merge_width(spark, nbytes) == (4 if 4 > ambient else None)
    # ambient already wide enough -> None (the caller changes nothing)
    monkeypatch.setattr(core, "STREAM_WIDTH_MAX", 2048)
    with core.scoped_conf(spark, "spark.sql.shuffle.partitions", str(expected + 7)):
        assert core.state_merge_width(spark, nbytes) is None


def test_state_merge_width_reaches_batch_rooted_plans(
    spark, sf_dir, monkeypatch
):
    """foreachBatch hands the body a batch_df bound to the stream's CLONED
    session, and an executed plan takes its shuffle width from the
    receiver Dataset's own session — so an outer-session-only scope would
    never reach batch-rooted plans (s14's classify write, the merge
    unions that reference batch_df). With the gate forced open and a
    standing state priced at the staged log's size, the state runner's
    per-batch scope gives BOTH sessions the state-sized width, a
    batch-rooted shuffle actually EXECUTES at it, and both confs are
    restored after."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.streaming import ops

    sdf, staged = _staged_stream(spark, sf_dir)
    nbytes = scale.fs_bytes(spark, staged)
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    # a width that beats any plausible ambient conf, so the helper fires
    # inside the floored stream run
    target = max(1, nbytes // 48)
    monkeypatch.setattr(core, "STREAM_TARGET_TASK_SOURCE_BYTES", target)
    expected = math.ceil(nbytes / target)
    assert expected > 32
    # run at the fixture floor (width 1) so the ambient width is narrow
    monkeypatch.setattr(core, "stream_shuffle_width", lambda _spark, _sdf: 1)
    outer_before = spark.conf.get("spark.sql.shuffle.partitions")
    run = ops._StateRunner(sdf, "smw")
    run.bytes["smw"] = nbytes
    seen: list[tuple] = []
    sessions = []

    def body(batch_df, _bid):
        bs = batch_df.sparkSession
        sessions.append(bs)
        # AQE coalescing off for the assertion only: the executed
        # partition count must BE the scoped width, not a coalesced-down
        # one.
        with core.scoped_conf(
            bs, "spark.sql.adaptive.coalescePartitions.enabled", "false"
        ):
            n_parts = (
                batch_df.groupBy("op")
                .agg(F.count("*").alias("n"))
                .rdd.getNumPartitions()
            )
        seen.append(
            (
                spark.conf.get("spark.sql.shuffle.partitions"),
                bs.conf.get("spark.sql.shuffle.partitions"),
                n_parts,
            )
        )

    run.drain(body)
    assert spark.conf.get("spark.sql.shuffle.partitions") == outer_before
    assert seen
    for outer_w, batch_w, n_parts in seen:
        assert outer_w == str(expected)
        assert batch_w == str(expected)
        assert n_parts == expected  # the executed batch-rooted shuffle
    # restored after the scope: the stream's own (floor) width
    for bs in sessions:
        assert bs.conf.get("spark.sql.shuffle.partitions") == "1"


def test_changelog_staging_bounds_write_tasks_above_gate(
    spark, sf_dir, monkeypatch
):
    """Round 16: the changelog transport's staging write ran at
    ``repartition(n_files)`` — n_files tasks each holding corpus/n_files
    in flight (measured 2,115 MB/task at the ×1000 drill). Above the
    gate each micro-batch is now `_changelog_files_per_batch` files
    (mtime-grouped, maxFilesPerTrigger drains one group per trigger);
    batch COUNT — the declared semantics — is unchanged, and so is the
    drained row set. Below the gate (every fixture SF) inner == 1 and
    the layout is byte-identical to the shipped shape.

    The second input forces ``inner >= 62``: part files must carry
    strictly increasing mtimes in part order, or batch i's last files
    would sort after batch i+1's first ones (the old ``60 s per batch +
    1 s per file`` pinning collided past 60 files per batch)."""
    import glob
    import os
    import shutil

    from scylladb_redpanda_cdc_spark.sources.changelog import synth_changelog
    from scylladb_redpanda_cdc_spark.streaming import ops

    # fixture discipline: below the gate one file per batch
    assert ops._changelog_files_per_batch(spark, sf_dir, 3) == 1
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    src = scale.fs_bytes(spark, os.path.join(sf_dir, "orders.parquet"))
    n_rows = synth_changelog(spark, sf_dir).count()
    # n_files values no other test stages; each stage is deleted after
    # its check, so the memo re-stages it on any later call
    for n_files, min_inner in ((5, 3), (6, 62)):
        monkeypatch.setattr(
            ops,
            "STAGE_WRITE_TARGET_TASK_BYTES",
            max(1, src * ops.CHANGELOG_INFLIGHT_MULTIPLIER // (n_files * min_inner)),
        )
        inner = ops._changelog_files_per_batch(spark, sf_dir, n_files)
        assert inner >= min_inner
        sdf = ops.stage_changelog_stream(spark, sf_dir, n_files=n_files)
        staged = core.stream_source_paths(sdf)[0]
        try:
            parts = sorted(glob.glob(os.path.join(staged, "part-*.parquet")))
            assert len(parts) == n_files * inner
            # strictly increasing mtimes group consecutive `inner` files
            # into one batch
            mts = [os.path.getmtime(p) for p in parts]
            assert all(a < b for a, b in zip(mts, mts[1:])), n_files
            batches: list[int] = []

            def body(batch_df, _bid):
                batches.append(batch_df.count())

            q = (
                sdf.writeStream.foreachBatch(body)
                .option("checkpointLocation", core.tmpdir("clg_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            assert len(batches) == n_files  # batch count is declared semantics
            assert sum(batches) == n_rows
        finally:
            shutil.rmtree(staged)


def test_stream_source_bytes_prices_the_staged_dir(spark, sf_dir):
    sdf, staged = _staged_stream(spark, sf_dir)
    assert core.stream_source_bytes(sdf) == scale.fs_bytes(spark, staged)
    assert core.stream_source_bytes(None) is None


def test_fixture_staging_stays_on_preferred_root(spark, sf_dir):
    """Flat layout: a staged transport and a ``_StateRunner`` state dir
    sit directly under the one scratch root, named ``sg_<prefix>_…``
    (perfbench reads ``sg_changelog_*`` and ``sg_state_*`` entries
    there), and each is recorded for removal at exit."""
    from scylladb_redpanda_cdc_spark.streaming.ops import _StateRunner

    sdf, staged = _staged_stream(spark, sf_dir)
    state = _StateRunner(sdf, "state")._dirs["state"]
    root = os.path.normpath(core._SCRATCH_ROOT)
    for path, prefix in ((staged, "sg_changelog_"), (state, "sg_state_")):
        assert os.path.dirname(path) == root
        assert os.path.basename(path).startswith(prefix)
        assert path in core._created
