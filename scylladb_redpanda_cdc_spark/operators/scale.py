"""Data-sized partition counts: one gate, one formula.

Every count the package derives from data volume — a stream's micro-batch
plan width, a state version's file count, the changelog's files per
batch, the inverted-index fan-out exchanges of x11/x39 and b31's salted
join — is one :func:`sized_count` call on driver-side byte metadata
(:func:`fs_bytes`, a Hadoop FS call, never a Spark job). Below
:data:`GATE_BYTES` of source bytes (every fixture SF) each site keeps its
fixed floor, so fixture plans stay byte-identical; above it the count
targets a per-task byte budget, capped. In-flight expansion multipliers
fold into the per-task divisor, so the gate always applies to the
caller's source bytes.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

#: Source bytes below which every sized count keeps its floor. 32 MB of
#: parquet is ~50× the sf0.1 fixture.
GATE_BYTES = 32 * 1024 * 1024

#: Target in-flight bytes per fan-out shuffle task above the gate.
FANOUT_TARGET_PARTITION_BYTES = 64 * 1024 * 1024

#: Hard cap on a fan-out partition count — 64k tasks is already
#: cluster-scale; past that a deployment resizes the target instead.
FANOUT_MAX_PARTITIONS = 65536

#: In-flight bytes past which a join side can be assumed broadcast-
#: INFEASIBLE on any sane config (defaults put autoBroadcastJoinThreshold
#: at 10 MB; half a GB is ~50× that). Used by salted-join call sites to
#: avoid adding a repartition that a runtime broadcast would have made
#: redundant.
BROADCAST_INFEASIBLE_BYTES = 512 * 1024 * 1024


def sized_count(nbytes: int, per_task_bytes: float, floor: int, cap: int) -> int:
    """``floor`` below :data:`GATE_BYTES`; above it
    ``ceil(nbytes / per_task_bytes)`` clamped to ``[floor, cap]``."""
    if nbytes < GATE_BYTES:
        return floor
    return max(floor, min(cap, math.ceil(nbytes / per_task_bytes)))


def fs_bytes(spark: SparkSession, path: str) -> int | None:
    """On-disk bytes under ``path`` via the Hadoop FS API (local, HDFS and
    S3 priced identically — the same call that prices each foreachBatch
    state version), or
    ``None`` on any failure (missing path, no filesystem, py4j hiccup).
    Driver-side metadata only; never launches a Spark job."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(p).getLength())
    except Exception:
        return None


def _session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int, falling
    back to Spark's own default (200) when the conf is unreadable or set
    to a non-numeric value (some platforms expose "auto") — the same
    defensive posture :func:`fs_bytes` takes: a sizing guard must never
    turn into a builder crash at exactly the scale it targets."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        return 200


def fanout_partitions_by_bytes(
    spark: SparkSession,
    source_path: str,
    bytes_multiplier: float,
    sides: int = 1,
) -> int | None:
    """Partition count for a fan-out exchange sized from the source
    parquet's on-disk bytes × an in-flight expansion ``bytes_multiplier``,
    targeting ~:data:`FANOUT_TARGET_PARTITION_BYTES` per task, capped at
    :data:`FANOUT_MAX_PARTITIONS` — or ``None`` (the caller changes
    nothing) below the gate, when the source cannot be priced, or when
    the count does not beat the session's ``spark.sql.shuffle.partitions``.

    ``sides``: how many copies of each key partition one downstream task
    consumes — 2 for a self-join (the sort-merge task reads its key range
    from BOTH aliased sides), 1 for a plain aggregation. Overestimating
    the multiplier is harmless (smaller tasks, more of them)."""
    n = sized_count(
        fs_bytes(spark, source_path) or 0,
        FANOUT_TARGET_PARTITION_BYTES / (bytes_multiplier * sides),
        1,
        FANOUT_MAX_PARTITIONS,
    )
    return n if n > _session_shuffle_partitions(spark) else None
