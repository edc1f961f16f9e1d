"""Delta state versions for the incremental S10/S22 merge.

``streaming/ops.py::_run_incremental_merge`` keeps its state as one base
version plus ordered delta versions, all ``v<int>`` dirs of one state dir.
The registry's sf0.01 oracles drain 2-3 large batches and so only ever
rewrite the base; these tests drain a trickle-shaped log instead (a
snapshot, then 12 small batches) so every path runs: deltas, a mid-drain
base rewrite and the end-of-drain fold. The result must equal the batch
build, the state dir must show the three paths and hold nothing but
``v<int>`` dirs (perfbench counts state bytes there), every delta must be
the compaction of its own batch alone, and at every batch boundary the
live base plus its deltas must compact to the compaction of the log so
far. The runner reads a written version without a schema-inference job.
"""

from __future__ import annotations

import functools
import logging
import os
import re

import pytest
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators.cdc import materialize_latest, with_next_offset
from scylladb_redpanda_cdc_spark.plans.cdc_queries import a30_scd2_dimension_history
from scylladb_redpanda_cdc_spark.sources.changelog import synth_changelog
from scylladb_redpanda_cdc_spark.streaming import ops
from scylladb_redpanda_cdc_spark.streaming.core import tmpdir

KEYS = ["customer_id", "order_id"]
#: Small batches after the snapshot; batch ids run 0..N_SMALL, the fold
#: is ``v{N_SMALL + 1}``.
N_SMALL = 12
LOGGER = "scylladb_redpanda_cdc_spark.streaming"


@pytest.fixture(scope="module")
def trickle_dir(spark, sf_dir) -> str:
    """The fixture changelog as a snapshot file (the inserts of 4 keys in
    5) followed by ``N_SMALL`` small files, one micro-batch each: the
    other inserts and every update and delete, spread by a hash of the
    offset, so one key's events may arrive in any batch order."""
    log = synth_changelog(spark, sf_dir)
    in_snapshot = (F.col("op") == "c") & (F.col("order_id") % 5 != 0)
    rank = F.when(in_snapshot, 0).otherwise(1 + F.pmod(F.hash("offset"), N_SMALL))
    scratch = tmpdir("trickle_scratch")
    log.withColumn("rank", rank).repartition(1).write.partitionBy("rank").mode(
        "overwrite"
    ).parquet(scratch)
    stage = tmpdir("trickle")
    ops._place_ordered(stage, ops._partition_files(scratch, "rank", N_SMALL + 1))
    assert len(os.listdir(stage)) == N_SMALL + 1
    return stage


def _stream(spark, path: str):
    return (
        spark.readStream.schema(ops.CHANGELOG_STREAM_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _canon(df) -> list[tuple]:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return sorted(map(tuple, pdf[cols].astype(str).values.tolist()))


def _state_dir(state) -> str:
    """The state dir behind a returned state: it reads ONE version."""
    versions = {os.path.dirname(f.removeprefix("file:")) for f in state.inputFiles()}
    assert len(versions) == 1, versions
    return os.path.dirname(versions.pop())


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, n)) for dp, _, names in os.walk(path) for n in names
    )


def _layout(spark, state_dir: str) -> dict[int, str]:
    """Check the layout contract and classify every version: every entry
    of the state dir is a ``v<int>`` dir and they hold all its bytes; a
    version is a ``base`` if it holds every key any version up to it
    holds, else a ``delta``."""
    names = os.listdir(state_dir)
    assert names and all(re.fullmatch(r"v\d+", n) for n in names), names
    assert all(os.path.isdir(os.path.join(state_dir, n)) for n in names)
    assert sum(_tree_bytes(os.path.join(state_dir, n)) for n in names) == _tree_bytes(state_dir)
    kinds: dict[int, str] = {}
    seen: set[tuple] = set()
    for n in sorted(names, key=lambda n: int(n[1:])):
        version = spark.read.parquet(os.path.join(state_dir, n))
        keys = {tuple(r) for r in version.select(*KEYS).collect()}
        seen |= keys
        kinds[int(n[1:])] = "base" if keys == seen else "delta"
    return kinds


def _assert_all_paths_ran(kinds: dict[int, str]) -> None:
    last = N_SMALL  # the last batch id
    assert sorted(kinds) == list(range(last + 2)), kinds
    assert kinds[0] == "base"
    assert "delta" in kinds.values(), kinds
    # a mid-drain rewrite: a base written by a batch after a delta
    first_delta = min(v for v, k in kinds.items() if k == "delta")
    assert any(k == "base" for v, k in kinds.items() if first_delta < v <= last), kinds
    # the end fold: one version past the last batch, and it is a base
    assert kinds[last + 1] == "base"


def _s10_compact(df):
    return materialize_latest(df, KEYS, drop_deletes=False)


def _s22_compact(df):
    return with_next_offset(df.drop("next_offset").dropDuplicates([*KEYS, "offset"]), KEYS)


def _assert_versions_compact_the_log(spark, trickle_dir, state_dir, kinds, compact) -> None:
    """Every delta ``v<b>`` is ``compact(log file b)`` exactly, and after
    every version ``v<b>`` the live base plus its deltas up to ``v<b>``
    compact to ``compact(log files 0..b)`` — every intermediate layout,
    not only the folded one (the fold ``v{N_SMALL + 1}`` covers the whole
    log)."""
    files = [os.path.join(trickle_dir, n) for n in sorted(os.listdir(trickle_dir))]

    def log(paths):
        return spark.read.schema(ops.CHANGELOG_STREAM_DDL).parquet(*paths)

    def version(v):
        return spark.read.parquet(os.path.join(state_dir, f"v{v}"))

    live: list[int] = []  # the live base, then its deltas
    for v in sorted(kinds):
        if kinds[v] == "delta":
            assert _canon(version(v)) == _canon(compact(log(files[v : v + 1]))), v
            live.append(v)
        else:
            live = [v]
        layout = functools.reduce(lambda a, b: a.unionByName(b), map(version, live))
        assert _canon(compact(layout)) == _canon(compact(log(files[: v + 1]))), v


#: One decision line of the ``scylladb_redpanda_cdc_spark.streaming`` logger.
_DECISION = re.compile(
    r"v(\d+): (delta|rewrite|fold) \(batch rows (\d+), "
    r"delta rows (\d+) in (\d+) deltas, base rows (\d+)\)"
)


def test_s10_delta_path_equals_batch_build(spark, sf_dir, trickle_dir, caplog):
    caplog.set_level(logging.INFO, logger=LOGGER)
    state = ops.foreachbatch_upsert(_stream(spark, trickle_dir), KEYS)
    expected = materialize_latest(synth_changelog(spark, sf_dir), KEYS)
    assert _canon(state) == _canon(expected)
    kinds = _layout(spark, _state_dir(state))
    _assert_all_paths_ran(kinds)
    _assert_versions_compact_the_log(spark, trickle_dir, _state_dir(state), kinds, _s10_compact)

    # one log line per batch plus the fold, naming what the dir shows and
    # carrying the counts the decision was taken on: a delta only while
    # REWRITE_RATIO × (delta rows + batch rows) < base rows
    lines = [_DECISION.search(r.getMessage()) for r in caplog.records if r.name == LOGGER]
    assert lines and all(lines)
    logged = {int(m.group(1)): m.group(2) for m in lines}
    assert len(logged) == len(lines)
    assert {v: "delta" if k == "delta" else "base" for v, k in logged.items()} == kinds
    assert logged[N_SMALL + 1] == "fold"
    deltas_before = 0
    for m in lines:
        version, kind = int(m.group(1)), m.group(2)
        n_batch, n_delta, n_deltas, n_base = map(int, m.group(3, 4, 5, 6))
        assert n_deltas == deltas_before
        rewrite_due = ops.REWRITE_RATIO * (n_delta + n_batch) >= n_base
        if kind == "delta":
            assert not rewrite_due
            deltas_before += 1
        elif kind == "rewrite":
            assert version == 0 or rewrite_due
            deltas_before = 0
        else:
            assert n_batch == 0 and n_deltas > 0


def test_s22_delta_path_equals_a30(spark, sf_dir, trickle_dir):
    state = ops.foreachbatch_scd2(_stream(spark, trickle_dir), KEYS)
    assert _canon(state) == _canon(a30_scd2_dimension_history(spark, sf_dir))
    kinds = _layout(spark, _state_dir(state))
    _assert_all_paths_ran(kinds)
    _assert_versions_compact_the_log(spark, trickle_dir, _state_dir(state), kinds, _s22_compact)


@pytest.mark.parametrize("qid", ["s10_foreachbatch_upsert", "s22_stream_scd2"])
def test_registry_state_dirs_hold_only_versions(spark, sf_dir, qid):
    """The registry's drains write only ``v<int>`` dirs under their state
    dir: every state byte is where perfbench counts it."""
    from scylladb_redpanda_cdc_spark.plans import registry

    state = registry()[qid].build(spark, sf_dir)
    kinds = _layout(spark, _state_dir(state))
    assert set(kinds.values()) == {"base"}  # 2-3 large batches: all rewrites


def test_runner_reads_a_version_without_a_job(spark, trickle_dir):
    """A version read through the runner takes the schema its write
    recorded: it starts no Spark job (a schema-less parquet read starts a
    schema-inference job per call)."""
    run = ops._StateRunner(_stream(spark, trickle_dir), "probe")
    rows = spark.range(100).selectExpr("id", "id % 7 AS bucket", "cast(id AS string) AS tag")
    run.write("probe", rows, 0, 1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group: str, action) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(tracker.getJobIdsForGroup(group))

    assert jobs("sg_runner_read", lambda: run.read("probe")) == []
    # the tracker does see this group's jobs once one runs
    assert jobs("sg_runner_count", lambda: run.read("probe").count())
    assert _canon(run.read("probe")) == _canon(rows)
