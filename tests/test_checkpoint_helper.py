"""Reliable-checkpoint path (VERDICT r11 task 1).

Every stage-materialization site routes through
``operators.checkpoint.stage_checkpoint``. These tests pin the contract:
with ``spark.sg.checkpointDir`` unset the helper takes localCheckpoint
(the local[N] default — plans and floors untouched); with it set, frames
are reliably checkpointed into that directory (the 100 TB path, surviving
executor loss), and the two heaviest consumers — ``ranged_rank`` (via
x78_ccnet_buckets) and x46_dedup_est_quality — still match their DuckDB
oracles byte-for-byte on the reliable path.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os

import pytest
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators.checkpoint import (
    CHECKPOINT_DIR_CONF,
    SCRATCH_LEVEL_CONF,
    stage_checkpoint,
)
from scylladb_redpanda_cdc_spark.plans import (
    clear_session_frame_caches,
    registry,
)
from tests.oracle_util import assert_matches_oracle, duckdb_connection

_SPECS = registry()


def _ck_files(ck_dir: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _dirs, fs in os.walk(ck_dir)
        for f in fs
    ]


@pytest.fixture()
def reliable_dir(spark, tmp_path):
    """Point the session at a temp reliable checkpoint dir; always unset
    afterwards so the session-scoped SparkSession reverts to the local
    default for every other test.

    Session frame caches are cleared on BOTH sides of the flip: before,
    so a cached frame from an earlier test cannot satisfy the build
    without ever hitting the reliable path (the x21 CC labels and x46's
    MinHash bands are cached per (session, dataset) — test order must
    not decide whether this test observes checkpoint files); after, so
    no later test silently reads frames whose checkpoint files live
    under this test's tmp_path."""
    ck = str(tmp_path / "ck")
    clear_session_frame_caches()
    spark.conf.set(CHECKPOINT_DIR_CONF, ck)
    try:
        yield ck
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
        clear_session_frame_caches()


def test_local_default_is_local_checkpoint(spark):
    # Conf unset: the helper must not require (or register) any
    # checkpoint directory — the default path a fresh session takes.
    assert spark.conf.get(CHECKPOINT_DIR_CONF, None) is None
    out = stage_checkpoint(spark.range(100).withColumn("v", F.col("id") * 2))
    assert out.count() == 100


def test_reliable_path_writes_checkpoint_dir(spark, reliable_dir):
    out = stage_checkpoint(spark.range(1000).withColumn("v", F.col("id") % 7))
    assert out.count() == 1000
    assert out.columns == ["id", "v"]
    assert _ck_files(reliable_dir), (
        "spark.sg.checkpointDir was set but no reliable checkpoint files "
        "were written"
    )


def test_reliable_path_computes_lineage_once(spark, reliable_dir):
    """Reliable checkpoint runs TWO Spark jobs (eager materialization +
    the ReliableRDDCheckpointData write job); without the helper's
    persist-across-checkpoint the write job RECOMPUTES the whole lineage
    — the exact recompute every stage_checkpoint site exists to avoid.
    A Python-side accumulator in the lineage counts row evaluations:
    exactly one pass means the write job read cached blocks."""
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def tick(it):
        for x in it:
            acc.add(1)
            yield (x,)

    rdd = sc.parallelize(range(1000), 4).mapPartitions(tick)
    # Explicit schema: inference would sample the RDD in a separate job
    # and bump the accumulator before the checkpoint even runs.
    df = spark.createDataFrame(rdd, "v bigint")
    out = stage_checkpoint(df)
    assert out.count() == 1000
    # Accumulators double-count on task retries/speculation, so a loaded
    # box can legitimately read slightly over 1000 — reject only the 2x
    # full-recompute signature, which is what the persist exists to
    # prevent (round-12 advice).
    assert 1000 <= acc.value < 2000, (
        f"lineage evaluated {acc.value / 1000:.1f}x during reliable "
        "checkpoint — the write job recomputed instead of reading cache"
    )


def test_external_set_checkpoint_dir_resync(spark, tmp_path):
    """An EXTERNAL ``sc.setCheckpointDir`` call between staged frames must
    not strand the helper: the _APPLIED_DIR fast path re-validates the
    context's actual registered dir and re-registers when a foreign call
    moved it (round-12 advice — before the guard, the helper silently
    checkpointed into the foreign directory while believing the conf
    value was applied)."""
    ours, foreign = str(tmp_path / "ours"), str(tmp_path / "foreign")
    try:
        spark.conf.set(CHECKPOINT_DIR_CONF, ours)
        stage_checkpoint(spark.range(10)).count()
        n_ours = len(_ck_files(ours))
        assert n_ours > 0
        # Foreign takeover of the context-global dir (e.g. another
        # library, or an operator calling setCheckpointDir directly).
        spark.sparkContext.setCheckpointDir(foreign)
        stage_checkpoint(spark.range(10)).count()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert len(_ck_files(ours)) > n_ours, (
        "helper kept checkpointing into the foreign directory after an "
        "external setCheckpointDir call"
    )


def test_scratch_level_conf(spark, reliable_dir):
    """The persist bridging reliable checkpoint's two jobs honors
    ``spark.sg.checkpointScratchLevel``; an unknown level name fails
    loudly instead of silently caching at the wrong tier."""
    try:
        spark.conf.set(SCRATCH_LEVEL_CONF, "MEMORY_AND_DISK")
        out = stage_checkpoint(spark.range(100))
        assert out.count() == 100
        spark.conf.set(SCRATCH_LEVEL_CONF, "NO_SUCH_LEVEL")
        with pytest.raises(ValueError, match="NO_SUCH_LEVEL"):
            stage_checkpoint(spark.range(100))
    finally:
        spark.conf.unset(SCRATCH_LEVEL_CONF)


def test_checkpoint_files_reclaimed_after_cache_clear(spark, reliable_dir, sf_dir):
    """Checkpoint-dir lifecycle in a long-lived session (VERDICT r12 task
    5): run staged-frame queries under the reliable regime, clear the
    session frame caches, drop the local handles, force GC — the
    ContextCleaner (``spark.cleaner.referenceTracking.cleanCheckpoints``,
    set at context creation by ``session.get_session``) must actually
    delete the orphaned checkpoint files, or a long-lived session grows
    its checkpoint dir without bound."""
    import gc
    import time

    # Two cache-backed staged-frame consumers: the MinHash band chain
    # (x2) and the ngram-Jaccard pair set + CC labels (x21).
    for qid in ("x2_dedup_fuzzy_minhash", "x21_dedup_cluster_cc"):
        df = _SPECS[qid].build(spark, sf_dir)
        df.count()
        del df
    n_before = len(_ck_files(reliable_dir))
    assert n_before > 0, "staged queries never hit the reliable path"
    clear_session_frame_caches()
    # Release: Python GC drops the py4j handles -> JVM GC collects the
    # RDDs -> ContextCleaner's weak-ref queue fires the async file
    # delete. Poll with a bounded wait; force both GCs each round.
    deadline = time.monotonic() + 60
    n_after = n_before
    while time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n_after = len(_ck_files(reliable_dir))
        if n_after < n_before:
            break
        time.sleep(1.0)
    assert n_after < n_before, (
        f"checkpoint dir never shrank after cache clear + GC "
        f"({n_before} files before, {n_after} after)"
    )


def test_repoint_between_queries(spark, tmp_path):
    """The helper syncs the SparkContext dir from the conf on every call,
    so a long-lived session can repoint mid-stream."""
    d1, d2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    try:
        spark.conf.set(CHECKPOINT_DIR_CONF, d1)
        stage_checkpoint(spark.range(10)).count()
        spark.conf.set(CHECKPOINT_DIR_CONF, d2)
        stage_checkpoint(spark.range(10)).count()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert _ck_files(d1) and _ck_files(d2)


@pytest.mark.parametrize(
    "qid",
    ["x78_ccnet_buckets", "x46_dedup_est_quality", "x21_dedup_cluster_cc"],
)
def test_heavy_consumers_match_oracle_on_reliable_path(
    spark, sf_dir, reliable_dir, qid
):
    """ranged_rank's single-boundary-draw pin, x46's two evaluation
    intermediates, and the CC loop's per-round truncation (which also
    calls ``unpersist()`` on the checkpointed frames) run through
    reliable checkpoint() — results must be identical to the
    localCheckpoint default (both paths are eager and
    lineage-truncating), proven against the DuckDB oracle."""
    spec = _SPECS[qid]
    df = spec.build(spark, sf_dir)
    con = duckdb_connection(sf_dir)
    try:
        assert_matches_oracle(df, con, spec.oracle, qid)
    finally:
        con.close()
    assert _ck_files(reliable_dir), f"{qid} never hit the reliable path"


def test_sibling_session_builds_its_own_frames(spark, sf_dir, tmp_path):
    """Session frames are per JVM session: a ``newSession()`` sibling that
    sets ``spark.sg.checkpointDir`` must build (and reliably checkpoint)
    its own x2/x21 frames under its own confs, never be served the frames
    the first session built, and leave the first session's frames intact."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import _cc_labels, _x2_pairs

    qids = ("x2_dedup_fuzzy_minhash", "x21_dedup_cluster_cc")
    for qid in qids:
        _SPECS[qid].build(spark, sf_dir).count()
    a_frames = (_x2_pairs(spark, sf_dir), _cc_labels(spark, sf_dir))
    sibling = spark.newSession()
    ck = str(tmp_path / "ck")
    sibling.conf.set(CHECKPOINT_DIR_CONF, ck)
    try:
        for qid in qids:
            df = _SPECS[qid].build(sibling, sf_dir)
            assert df.sparkSession is sibling, qid
            df.count()
        assert _ck_files(ck), "the sibling session never hit the reliable path"
        assert _x2_pairs(sibling, sf_dir) is not a_frames[0]
        assert _x2_pairs(spark, sf_dir) is a_frames[0]
        assert _cc_labels(spark, sf_dir) is a_frames[1]
    finally:
        # drop the sibling's frames (their files live under tmp_path)
        clear_session_frame_caches()


def _session_frame_builders() -> list[tuple[str, str]]:
    """(module, function) for every ``@session_frame`` builder in the
    package, found from the source so a new memoized builder is covered
    without editing this list."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scylladb_redpanda_cdc_spark",
    )
    found = []
    for dp, _dirs, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            mod = "scylladb_redpanda_cdc_spark." + os.path.relpath(
                path[: -len(".py")], pkg
            ).replace(os.sep, ".")
            found += [
                (mod, n.name)
                for n in tree.body
                if isinstance(n, ast.FunctionDef)
                and any(
                    isinstance(d, ast.Name) and d.id == "session_frame"
                    for d in n.decorator_list
                )
            ]
    return found


_BUILDERS = _session_frame_builders()


def test_every_session_frame_builder_is_found():
    # non-vacuous: the parametrized test below covers at least these
    names = {name for _mod, name in _BUILDERS}
    assert {"_decoded_df", "_x2_pairs", "_cc_labels", "_b35_hour"} <= names
    assert len(_BUILDERS) >= 16


@pytest.mark.parametrize(
    "mod,name", _BUILDERS, ids=[name for _mod, name in _BUILDERS]
)
def test_session_frame_is_built_once_per_session(spark, sf_dir, mod, name):
    """The single-session driver still builds every shared frame once:
    two calls in one session return the same object."""
    fn = getattr(importlib.import_module(mod), name)
    args = (sf_dir,) if "sf_dir" in inspect.signature(fn).parameters else ()
    assert fn(spark, *args) is fn(spark, *args)


def test_session_frame_binds_default_args(spark):
    """``_decoded_df(spark)`` and ``_decoded_df(spark, extended=False)``
    are one entry (both call forms exist in the A group)."""
    from scylladb_redpanda_cdc_spark.plans.cdc_queries import _decoded_df

    assert _decoded_df(spark) is _decoded_df(spark, extended=False)
    assert _decoded_df(spark, False) is _decoded_df(spark)
    assert _decoded_df(spark, extended=True) is not _decoded_df(spark)
