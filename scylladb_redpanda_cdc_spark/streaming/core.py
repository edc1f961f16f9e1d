"""Structured Streaming runtime (SURVEY.md §2.S, §7 stage 5).

The reference pipeline is a daemon stream: Kafka Connect polls the CDC log,
produces to Redpanda, consumers materialize state (reference
connect-standalone.properties:1-5, README.md:180,206-215). Its Spark
restatement is ``readStream -> transform -> writeStream``. Tests and the
driver run Kafka-less: a file-stream source over the same parquet fixtures,
each input staged once per session by :func:`staged`, drained under an
availableNow trigger by :func:`drain` — the downstream DAG is identical by
construction, so semantics transfer to the Kafka source unchanged (S1).

Driver contract note: every S* query must come back as a *batch* DataFrame
(the driver calls ``.toPandas()``), so each spec runs its stream to
completion into a memory/parquet sink and returns the sink's table. The
memory sink is the TEST harness sink only — the production path is
``writeStream.format("kafka")`` / partitioned parquet with the same DAG.

Scale posture: state stores are keyed exactly like the shuffles they replace
(user_id / window / PK), watermarks bound state (S6), and checkpointing
(S2) makes every sink resumable — identical role to the reference's
``offset.flush.interval.ms`` + ``/tmp/connect.offsets``.

Scratch: every harness checkpoint, staged input, sink and state version is
a :func:`tmpdir` directly under one root (``SG_SCRATCH_DIR``, else the
platform temp dir), owned by the process that made it and removed when that
process exits — the one-owner rule Structured Streaming applies to a
query's checkpoint and state.
"""

from __future__ import annotations

import atexit
import itertools
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from scylladb_redpanda_cdc_spark.operators.scale import (
    _session_shuffle_partitions,
    fs_bytes,
    sized_count,
)

#: The events stream after :func:`normalize_event_ts`, whatever the
#: fixture vintage's raw ``ts`` type (see :func:`events_stream`).
EVENTS_NORMALIZED_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

_name_counter = itertools.count()


def _fresh(prefix: str) -> str:
    return f"{prefix}_{next(_name_counter)}"


#: Scratch root for the availableNow test/bench harness: ``SG_SCRATCH_DIR``
#: if set, else the platform temp dir. Every scratch dir sits directly
#: under it as ``sg_<prefix>_*`` (perfbench reads ``sg_state_*`` and
#: ``sg_changelog_*`` there). Production queries set their own durable
#: checkpointLocation (S2's whole point); this root never backs one.
_SCRATCH_ROOT = os.environ.get("SG_SCRATCH_DIR") or tempfile.gettempdir()

#: Every dir :func:`tmpdir` created in this process, removed at exit.
_created: list[str] = []


def tmpdir(prefix: str) -> str:
    """A fresh ``sg_<prefix>_*`` scratch dir (checkpoints, file-stream
    staging, sinks, state versions) directly under :data:`_SCRATCH_ROOT`.
    The process owns it: it lives until interpreter exit, because
    returned DataFrames re-read scratch lazily, and is removed then by
    :func:`_remove_scratch`. Only this process's own dirs are removed,
    never the shared root."""
    path = tempfile.mkdtemp(prefix=f"sg_{prefix}_", dir=_SCRATCH_ROOT)
    _created.append(path)
    return path


@atexit.register
def _remove_scratch() -> None:
    for path in _created:
        shutil.rmtree(path, ignore_errors=True)


def stream_source_bytes(sdf: DataFrame | None) -> int | None:
    """Total on-disk bytes of a stream's file source(s), or None when it
    has none / cannot be priced — what stream widths and state-version
    file counts size from."""
    if sdf is None:
        return None
    total = 0
    for path in stream_source_paths(sdf):
        nbytes = fs_bytes(sdf.sparkSession, path)
        if nbytes is not None:
            total += nbytes
    return total or None


def staged_dir_valid(path: str | None) -> bool:
    """True iff a cached staging dir still exists and is non-empty. The
    process removes its scratch only at exit, but an outside cleaner
    (``systemd-tmpfiles``, a user) may reap it mid-session; a cache hit on
    a reaped path would silently yield an EMPTY stream, so :func:`staged`
    re-stages when this is False."""
    try:
        return path is not None and os.path.isdir(path) and bool(os.listdir(path))
    except OSError:
        return False


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Temporarily set a SQL conf, restoring the caller's value (or unset)
    on exit. The scope must cover every execution that needs the value:
    an eager batch read/write, or a stream run to completion under
    availableNow (synchronous) — never a lazily-executed stream that
    outlives it."""
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_staged: dict[tuple, str] = {}


def staged(
    spark: SparkSession,
    name: str,
    key: tuple,
    write: Callable[[str], None],
) -> str:
    """The scratch dir holding a stage-once input, written once per
    (session, ``name``, ``key``): on a miss, or when the cached dir fails
    :func:`staged_dir_valid` (reaped scratch), ``write`` fills a fresh
    ``tmpdir(name)``. Every staged file-stream transport and
    storage layout goes through here, so a reaped stage always re-stages."""
    k = (spark.sparkContext.applicationId, name, *key)
    if not staged_dir_valid(_staged.get(k)):
        stage = tmpdir(name)
        write(stage)
        _staged[k] = stage
    return _staged[k]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 source: continuous ingest of the ``events`` table.

    File-stream restatement of ``readStream.format("kafka")`` (reference
    broker localhost:19092, connect-standalone.properties:1): same fixed
    frame, different transport. ``ts`` is normalized to micros exactly like
    the batch loader so stream and batch plans agree bit-for-bit.
    """
    from scylladb_redpanda_cdc_spark.sources.tables import normalize_event_ts

    def link(stage: str) -> None:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "events.parquet"),
        )

    # The file-stream source needs a DIRECTORY it can monitor (the fixture
    # dir holds ten unrelated tables, and a bare file path trips the
    # source's basePath/partition-inference machinery): a one-symlink
    # dir, zero bytes copied.
    src = staged(spark, "events_src", (sf_dir,), link)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # File streams cannot infer a schema (SURVEY.md §1.3 — drift must fail
    # loudly, as in Kafka Connect), and ``ts``'s physical type varies across
    # fixture vintages, so the stream declares what the batch reader reads
    # from this dataset's footer under the same confs.
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = spark.readStream.schema(schema).parquet(src)
    return normalize_event_ts(raw)


#: Shuffle/state-store partition count while materializing a TEST sink.
#: A stateful streaming query creates one state-store instance per shuffle
#: partition per stateful operator, and every micro-batch pays a load+commit
#: on each; at fixture scale that fixed cost dominates wall time (32
#: partitions ≈ 1 s/query of pure store churn, ~6 s for the stream-stream
#: join's two stores; measured: 1 partition roughly halves s9/s11 again vs
#: 4). Results are partitioning-invariant (aggregation / dedup / join /
#: per-key state do not depend on partition count), so this only trades
#: parallelism for per-store overhead. The production path (writeStream to
#: Kafka / partitioned parquet on a real cluster) never passes through
#: these helpers and keeps the session's own setting.
STREAM_SINK_SHUFFLE_PARTITIONS = 1

#: Target staged-source parquet bytes per micro-batch shuffle task above
#: the gate. Parquet expands ~4x in flight (decompression + row overhead,
#: the decade-4 b31 measurement), so 8 MB of source per task bounds
#: in-flight volume at ~32 MB — and at the round-13 x100 corpus
#: (~175 MB staged changelog) yields a width in the same band as the
#: hand-set width of 32 the decade probes validated.
STREAM_TARGET_TASK_SOURCE_BYTES = 8 * 1024 * 1024

#: Hard cap on the adaptive width — past this a deployment resizes the
#: target instead (the FANOUT_MAX_PARTITIONS convention, scaled to the
#: per-micro-batch volumes streams actually carry).
STREAM_WIDTH_MAX = 2048

_FILE_SOURCE_RE = re.compile(r"FileSource\[([^\]]+)\]")


def stream_source_paths(sdf: DataFrame) -> list[str]:
    """The file-source director(ies) feeding a streaming DataFrame,
    recovered from its analyzed plan (``FileSource[<path>]`` leaves
    survive any transformation, so callers never thread paths by hand).
    Empty for non-file sources (Kafka, rate, memory) or on any failure."""
    try:
        plan = sdf._jdf.queryExecution().analyzed().toString()
        return _FILE_SOURCE_RE.findall(plan)
    except Exception:
        return []


def stream_shuffle_width(spark: SparkSession, sdf: DataFrame | None) -> int:
    """Micro-batch plan width for a test-sink stream run, sized from the
    staged source's on-disk bytes, floored at
    :data:`STREAM_SINK_SHUFFLE_PARTITIONS`.

    The round-13 decade probes showed the fixed default (1 — correct for
    KB-sized fixture batches where per-state-store overhead dominates) is
    a fixture knob, not a deployment posture: at x100 it serialized
    5.5 M-row merge joins on one core and the probes had to hand-set a
    width of 32. This helper applies the
    ``state_file_count`` discipline to the PLAN width: below the sizing
    gate of staged source (every fixture SF — a driver-side Hadoop FS
    call, no Spark job) it returns the floor and
    micro-batch plans are byte-identical to the floored ones; above it,
    the width targets ~:data:`STREAM_TARGET_TASK_SOURCE_BYTES` of source
    parquet per task, capped at :data:`STREAM_WIDTH_MAX`. Multiple file
    sources (stream-stream joins) sum their bytes. Results are
    width-invariant for every operator that runs under it
    (``tests/test_knob_invariance.py``), so this trades only per-store
    fixed cost against per-task volume."""
    return sized_count(
        stream_source_bytes(sdf) or 0,
        STREAM_TARGET_TASK_SOURCE_BYTES,
        STREAM_SINK_SHUFFLE_PARTITIONS,
        STREAM_WIDTH_MAX,
    )


#: Target on-disk parquet bytes per file for foreachBatch STATE writes.
#: 32 MB of parquet ≈ 100-150 MB of in-flight rows per write task — small
#: enough to bound task memory, large enough to keep file counts sane.
#: Equal to the sizing gate, so below it ``ceil(nbytes / target) <= 1``
#: and the gate never changes a count.
STATE_TARGET_FILE_BYTES = 32 * 1024 * 1024


def state_file_count(nbytes: int, floor: int) -> int:
    """Partition count for a foreachBatch state-version write: target
    ~:data:`STATE_TARGET_FILE_BYTES` of parquet per file for an estimated
    ``nbytes`` written, floored at the caller's fixed count so
    fixture-scale plans and floors stay byte-identical, capped at 4096.

    The foreachBatch runner (``streaming/ops.py::_StateRunner``) passes
    the previous version's on-disk bytes PLUS the drained log's staged
    bytes. Every availableNow batch is a subset of the staged log and the
    merge never emits more than state ∪ batch, so prev + log bounds the
    written version from ABOVE: the write task volume stays ≤ the
    per-file target at any drain shape (sizing from prev ALONE lagged the
    written size by one batch — the r14 ×1000 s22 drill measured a
    302 MB write task during a 3-batch catch-up); the cost of the looser
    bound is only smaller files.

    Why not a bare ``coalesce(floor)``: coalesce propagates UP the
    physical plan — it caps the parallelism of the entire final merge
    stage, not just the file count. The round-13 ×100 decade-3 probe
    measured that collapse as a 643 MB single task on s17's state merge
    (16 tasks each dragging state/16 of join+union work); another decade
    would put one task past executor memory. Sizing the count from the
    state's bytes keeps per-task volume bounded at ANY corpus size while
    file count stays proportional to data — the "target file SIZE" rule
    real lakehouse writers use."""
    return sized_count(nbytes, STATE_TARGET_FILE_BYTES, floor, 4096)


def state_merge_width(spark: SparkSession, prev_bytes: int) -> int | None:
    """Per-BATCH plan width for a foreachBatch state merge, sized from the
    PREVIOUS state version's on-disk bytes — or ``None`` when the ambient
    width already suffices (the caller then changes nothing).

    :func:`stream_shuffle_width` sizes the whole stream run from the
    staged SOURCE bytes, but a merge batch's touched-key recompute (s22's
    history re-lead, s10/s17's affected-key compaction) shuffles volume
    that tracks the accumulated STATE, not the arriving micro-batch — the
    round-14 ×1000 drill measured a 302 MB task in s22's re-lead stage
    under the source-sized width (VERDICT r14 task 3). Under the
    availableNow test harness the ambient width is already sized from the
    FULL staged source, which bounds the state from above, so this guard
    cannot fire there (round-16 attribution); it exists for the
    continuous-trigger deployment posture, where the session width is a
    fixed cluster conf and a standing state outgrows it during catch-up.
    Same gate discipline as every sizing guard: below the sizing gate of
    state (every fixture SF) this returns ``None`` and micro-batch plans
    stay byte-identical to the floored ones; above it, the width targets
    ~:data:`STREAM_TARGET_TASK_SOURCE_BYTES` of state parquet per task
    (the same ~4× in-flight expansion estimate), capped at
    :data:`STREAM_WIDTH_MAX`, and is returned only when it beats the
    ambient ``spark.sql.shuffle.partitions``. Results are width-invariant
    for every merge that runs under it (``tests/test_knob_invariance.py``
    pins the stream family), so this trades only task volume against
    per-task overhead."""
    n = sized_count(prev_bytes, STREAM_TARGET_TASK_SOURCE_BYTES, 1, STREAM_WIDTH_MAX)
    return n if n > _session_shuffle_partitions(spark) else None


def drain(sdf: DataFrame, writer: DataStreamWriter) -> StreamingQuery:
    """Run ``writer`` (a ``sdf.writeStream`` chain) to completion under
    availableNow and return the finished query. While it runs,
    ``spark.sql.shuffle.partitions`` is scoped to the width
    :func:`stream_shuffle_width` derives from ``sdf``'s own staged file
    source(s) — availableNow is synchronous, so the scope covers all
    micro-batch planning, and a corpus-scale staged stream plans its
    micro-batches at a data-sized width with no hand-set knob. The one
    place every stream run starts and awaits."""
    spark = sdf.sparkSession
    width = stream_shuffle_width(spark, sdf)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(width)):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def run_to_table(sdf: DataFrame, mode: str = "append") -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the materialized batch DataFrame.

    ``mode``: "append" for row streams, "complete" for aggregations,
    "update" for stateful operators emitting per-key updates.
    """
    name = _fresh("sg_mem")
    drain(sdf, sdf.writeStream.format("memory").queryName(name).outputMode(mode))
    return sdf.sparkSession.table(name)


def run_to_parquet(
    sdf: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
) -> None:
    """Run a stream to completion into a parquet sink with an explicit
    checkpoint — the S2 resumability contract (reference
    connect-standalone.properties:4-5: offsets file + 10 s flush cadence;
    here: checkpointLocation + availableNow). Restarting with the same
    checkpoint reprocesses nothing (exactly-once within the sink)."""
    drain(
        sdf,
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode),
    )
