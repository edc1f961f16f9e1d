"""The SG_* scale knobs must never change results — only physical shape.

SURVEY §2 claims each knob (packing fan-out, CC loop shuffle width,
stream-sink shuffle width, broadcast-vs-shuffle key cap) is a pure
parallelism/strategy dial: cluster deployments size them, answers never
move. This file proves that claim per knob by running the affected query
under 2-3 settings and asserting identical results.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

from scylladb_redpanda_cdc_spark.plans import registry


@pytest.fixture(scope="module")
def specs():
    return registry()


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(map(tuple, pdf[cols].astype(str).values.tolist()))


def test_cc_loop_shuffle_width_is_result_invariant(
    spark, sf_dir, specs, monkeypatch
):
    """x21's min-label loop scopes shuffle width to llm.CC_LOOP_SHUFFLE
    (read per call): cluster labels are partitioning-invariant. The
    session frames are cleared before each width, and a spy proves the
    loop really ran once per width (a memoized x21 frame would otherwise
    answer both builds without running the loop at all)."""
    from scylladb_redpanda_cdc_spark.operators import llm
    from scylladb_redpanda_cdc_spark.plans import (
        clear_session_frame_caches,
        llm_queries,
    )

    ran = []
    real = llm_queries.connected_components_min_label

    def spy(*args, **kwargs):
        ran.append(llm.CC_LOOP_SHUFFLE)
        return real(*args, **kwargs)

    monkeypatch.setattr(llm_queries, "connected_components_min_label", spy)
    outs = []
    for width in (2, 16):
        monkeypatch.setattr(llm, "CC_LOOP_SHUFFLE", width)
        clear_session_frame_caches()
        outs.append(
            _canon(specs["x21_dedup_cluster_cc"].build(spark, sf_dir).toPandas())
        )
    assert ran == [2, 16]
    assert outs[0] == outs[1]
    assert outs[0]  # non-vacuous: the fixture has near-dup clusters


def test_stream_sink_shuffle_width_is_result_invariant(
    spark, sf_dir, specs, monkeypatch
):
    """stream_shuffle_width floors at STREAM_SINK_SHUFFLE_PARTITIONS (read
    per call from streaming.core): stateful-stream results are
    partitioning-invariant — the knob trades state-store count for
    per-store overhead, nothing else."""
    from scylladb_redpanda_cdc_spark.streaming import core

    outs = []
    for width in (1, 4):
        monkeypatch.setattr(core, "STREAM_SINK_SHUFFLE_PARTITIONS", width)
        outs.append(
            _canon(specs["s3_stream_tumbling_agg"].build(spark, sf_dir).toPandas())
        )
    assert outs[0] == outs[1]
    assert outs[0]


def test_broadcast_key_cap_strategy_flip_is_result_invariant(
    spark, sf_dir, specs, monkeypatch
):
    """The incremental-merge paths (s10 upsert, x36/s14 standing-index
    dedup) broadcast the batch key set only below BROADCAST_KEY_CAP; cap=0
    forces every batch onto the shuffled-join fallback. Both strategies
    must produce identical merges."""
    from scylladb_redpanda_cdc_spark.streaming import ops

    for qid in ("s10_foreachbatch_upsert", "x36_incremental_dedup"):
        outs = []
        for cap in (0, 2_000_000):
            monkeypatch.setattr(ops, "BROADCAST_KEY_CAP", cap)
            outs.append(_canon(specs[qid].build(spark, sf_dir).toPandas()))
        assert outs[0] == outs[1], qid
        assert outs[0], qid


@pytest.mark.slow
def test_pack_shards_setting_keeps_builder_oracle_agreement():
    """SG_PACK_SHARDS is read once at import by BOTH x24's builder and its
    DuckDB twin, so in-process monkeypatching cannot exercise it; a fresh
    subprocess with a non-default setting proves the pair still agrees
    (and that shard/seq addresses really are derived from the knob)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import duckdb
from pyspark.sql import SparkSession
from scylladb_redpanda_cdc_spark.plans import llm_queries
from scylladb_redpanda_cdc_spark.plans import registry

assert llm_queries.PACK_SHARDS == 7
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
spec = registry()["x24_seq_packing"]
pdf = spec.build(spark, sf).toPandas()
assert int(pdf["shard"].max()) == 6  # the knob reached the plan
con = duckdb.connect()
con.execute("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')")
odf = con.sql(spec.oracle).df()
cols = sorted(pdf.columns)
assert sorted(map(tuple, pdf[cols].astype(str).values.tolist())) == \\
       sorted(map(tuple, odf[cols].astype(str).values.tolist()))
print("PACK_SHARDS=7 parity OK")
"""
    env = dict(os.environ, SG_PACK_SHARDS="7")
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "PACK_SHARDS=7 parity OK" in proc.stdout


@pytest.mark.slow
def test_o2_compaction_file_count_survives_small_core_executor():
    """The round-5 ADVICE failure scenario, run for real: on a 2-core
    session with default split confs, 64 tiny files would pack into ~2
    scan partitions and coalesce(4) would emit 2 files, breaking the
    oracle's files_after=4. o2 pins openCost==maxPartitionBytes around
    the compaction read, so the pair must hold even on local[2]."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import duckdb
from pyspark.sql import SparkSession
from scylladb_redpanda_cdc_spark.plans import registry

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
spec = registry()["o2_compact_small_files"]
pdf = spec.build(spark, sf).toPandas()
assert int(pdf["files_before"].iloc[0]) == 64, pdf
assert int(pdf["files_after"].iloc[0]) == 4, pdf
con = duckdb.connect()
con.execute("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')")
odf = con.sql(spec.oracle).df()
cols = sorted(pdf.columns)
assert sorted(map(tuple, pdf[cols].astype(str).values.tolist())) == \\
       sorted(map(tuple, odf[cols].astype(str).values.tolist()))
print("o2 local[2] parity OK")
"""
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "o2 local[2] parity OK" in proc.stdout


def test_shuffle_partition_width_is_result_invariant():
    """An ODD, non-default shuffle width (7, vs the suite's 32 and the
    bench's 64) must not change any value: partitioning is an execution
    concern, never a semantic one. Exercised on the queries whose shapes
    would expose a partition-count dependence if one existed — the
    flagship's offset-authority compaction, x2's banded candidate join,
    w6's two-stacked-window sessionization, b24's per-group top-k, x25's
    salted two-phase stratified sample, and the round-8 shapes (a32's
    broadcast as-of read, x118's first-occurrence window, x121's global
    curriculum sort, b77's salted merge) — each compared against its
    DuckDB oracle in a fresh subprocess (parity at the odd width IS the
    invariance claim)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import duckdb
from pyspark.sql import SparkSession
from scylladb_redpanda_cdc_spark.plans import registry

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "7")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events"
          " documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM"
                f" read_parquet('{sf}/{t}.parquet')")
specs = registry()
for qid in ("flagship_cdc_materialize", "x2_dedup_fuzzy_minhash",
            "w6_win_sessionize", "b24_topk_per_group",
            "x25_stratified_sample",
            # round-8 shapes with partition-sensitive surfaces if any
            # existed: a32's 1-row as-of broadcast over a windowed
            # history, x118's first-occurrence window + rollup, x121's
            # global ntile/rank sort, b77's salted two-phase merge.
            "a32_asof_point_in_time", "x118_paragraph_dedup",
            "x121_curriculum_order", "b77_two_phase_skew_agg",
            # round-9 two-phase rank rewrites: cell histograms +
            # broadcast offsets must be width-invariant too.
            "x75_quantile_normalize", "x78_ccnet_buckets",
            "x81_epoch_shuffle", "x99_class_outliers",
            "b40_rfm_segmentation"):
    spec = specs[qid]
    pdf = spec.build(spark, sf).toPandas()
    odf = con.sql(spec.oracle).df()
    cols = sorted(pdf.columns)
    assert sorted(map(tuple, pdf[cols].astype(str).values.tolist())) == \\
           sorted(map(tuple, odf[cols].astype(str).values.tolist())), qid
    print(qid, "OK at width 7")
"""
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_package_env_knobs_are_exactly_the_declared_set():
    """Knob creep guard: the package reads exactly these environment
    variables. A sizing target or gate is a module constant (tests
    monkeypatch the attribute), not a new env knob; adding one means
    updating this set on purpose."""
    import glob
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scylladb_redpanda_cdc_spark",
    )
    read = re.compile(r"""(?:environ\.get\(|environ\[|getenv\()\s*["']([^"']+)["']""")
    names = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            names.update(read.findall(f.read()))
    assert names == {
        "SG_SCRATCH_DIR",
        "SG_PACK_SHARDS",
        "SPARK_MASTER",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    }


def _package_hits(pattern: str) -> list[tuple[str, str | None]]:
    """(package-relative path, enclosing top-level def or class) for every
    occurrence of ``pattern`` in the package source."""
    import ast
    import glob

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scylladb_redpanda_cdc_spark",
    )
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        if pattern not in src:
            continue
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        defs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.parse(src).body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            owner = next((name for a, b, name in defs if a <= i <= b), None)
            hits += [(rel, owner)] * line.count(pattern)
    return hits


def test_stage_drain_and_raw_events_read_have_one_owner():
    """Re-copy guard: every stream run starts and awaits in
    ``core.drain``, every stage-once scratch input is validated in
    ``core.staged``, and the raw-events nanos conf is set only by the
    session, the batch loader and the events file stream — a hand-copied
    drain block, stage cache or raw-events read fails here."""
    assert _package_hits("trigger(availableNow=True)") == [("streaming/core.py", "drain")]
    assert sorted(_package_hits("staged_dir_valid(")) == [
        ("streaming/core.py", "staged"),
        ("streaming/core.py", "staged_dir_valid"),  # its def line
    ]
    nanos = _package_hits("legacy.parquet.nanosAsLong")
    assert ("streaming/core.py", "events_stream") in nanos
    for rel, owner in nanos:
        assert rel in ("session.py", "sources/tables.py") or (rel, owner) == (
            "streaming/core.py",
            "events_stream",
        ), (rel, owner)


def test_session_frames_have_one_memo():
    """Re-copy guard: every per-session frame goes through
    ``operators/checkpoint.py::session_frame`` (keyed by the JVM session).
    ``applicationId`` keys only ``core.staged``, the one stage memo whose
    outputs siblings may share (scratch dirs, and the catalog tables
    named after them); no module binds a hand-rolled ``*_cache`` dict,
    and b35's session-attribute cache is gone."""
    import ast
    import glob

    assert _package_hits("sparkContext.applicationId") == [
        ("streaming/core.py", "staged"),
    ]
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scylladb_redpanda_cdc_spark",
    )
    caches = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            body = ast.parse(f.read()).body
        for node in body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            caches += [
                (os.path.relpath(path, pkg), t.id)
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_cache")
            ]
    assert caches == []
    assert _package_hits("_sg_b35") == []


#: twin name -> (shared fragment, its one (module, enclosing def) owner).
#: Only fragments the winnowing clone guard (tests/test_clone_guard.py)
#: cannot see: each is too short for its K-token grams, or its owner
#: renders it through f-string fields that break every K-token run. A
#: re-copied PQ codebook, SCD2 history, sessionization, BM25 scorer or MV
#: apply fails the clone guard instead.
_TWINS = {
    # DuckDB oracle twins
    "cc_labels": (
        "reach AS (SELECT doc_id, doc_id AS r FROM documents",
        ("plans/llm_queries.py", "_cc_labels_sql"),
    ),
    "pair_edges": (
        "edges AS (SELECT doc_a AS",
        ("plans/llm_queries.py", "_pair_edges_sql"),
    ),
    "ivf_centroids": ("WHERE vec_id % 25 = 0", ("plans/llm_queries.py", None)),
    "words": ("string_split_regex(lower(", ("plans/llm_queries.py", "_words_sql")),
    "minhash_sigs": (
        "bands(band, a, c) AS (VALUES",
        ("plans/llm_queries.py", "_minhash_sigs_sql"),
    ),
    "cos": ("p -> CAST(p[1] * p[2] AS DOUBLE)", ("plans/llm_queries.py", "_cos_sql")),
    # Spark kernel twins
    "scd2_next_offset": ('F.lead("offset")', ("operators/cdc.py", "with_next_offset")),
}


@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_shared_twins_have_one_definition(twin):
    """Re-copy guard: each shared kernel — a DuckDB oracle CTE or a Spark
    kernel that a batch/stream pair or several oracles use — is written
    once and reached through its builder, so a fix to it reaches every
    user. A hand-copied twin fails here."""
    fragment, owner = _TWINS[twin]
    assert _package_hits(fragment) == [owner]
