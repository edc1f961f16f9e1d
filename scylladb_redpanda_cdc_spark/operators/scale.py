"""Data-adaptive shuffle sizing for corpus-fan-out joins.

The inverted-index near-dup kernels (x11's shingle postings, x39's span
postings) explode the corpus into a postings list and self-join it on the
posting key. The df/bucket caps bound the JOIN FAN-OUT (pairs per key),
but the SHUFFLE of the postings themselves runs at the session's fixed
``spark.sql.shuffle.partitions`` — so per-task postings volume grows
linearly with corpus size. The round-13 ×100 decade-3 probe measured
exactly that on x11: max task 53 MB at ×10 → 119 MB at ×100 under the
probe's fixed 64 partitions; one more decade puts a single sort task past
executor memory. A real cluster raises the session knob, but a plan that
quietly depends on an operator-sized global conf is the same defect class
as the fixed ``coalesce(16)`` the probe caught in the state writers
(``streaming/core.py::state_file_count``).

:func:`fanout_partitions` is the batch-side analog of that fix: size the
postings exchange from the data, not from a constant.

* **Fixture discipline** — below :data:`FANOUT_GATE_BYTES` of source
  parquet (driver-side Hadoop FS call, no Spark job) the helper returns
  ``None`` and call sites keep today's plan byte-for-byte: sf0.001–sf0.1
  plans, floors and oracles are untouched, the same contract
  ``state_file_count`` keeps via its ``floor``.
* **Above the gate** — one ``count()`` over the (already materialized)
  postings frame prices the exchange exactly; the helper targets
  :data:`FANOUT_TARGET_PARTITION_BYTES` of postings rows per task. The
  count is the same trade the state writers make: pay one cheap metadata-
  grade job to keep every task bounded at ANY corpus size.
* Call sites repartition by the posting key ONCE, before the df-cap agg
  and the self-join, so the cap agg, the semi/inner cap join and the
  fan-out self-join all reuse a single co-partitioned exchange (Catalyst
  recognizes the hash partitioning from the cached/exchanged child and
  plans no further exchange on that key).

The reference pipeline has no analog — its CDC topics are partitioned by
the broker (rpk_topic_consume.json:7-55 shows per-partition offsets); this
module is part of the 100 TB curation mandate (BASELINE.json:6).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

#: Source-parquet size below which fanout sizing is skipped entirely
#: (no count job, no repartition — plans byte-identical to the fixture
#: floors). 32 MB of documents parquet is ~50× the sf0.1 fixture.
FANOUT_GATE_BYTES = int(
    os.environ.get("SG_FANOUT_GATE_BYTES", str(32 * 1024 * 1024))
)

#: Target in-flight postings bytes per shuffle task above the gate.
FANOUT_TARGET_PARTITION_BYTES = int(
    os.environ.get("SG_FANOUT_TARGET_PARTITION_BYTES", str(64 * 1024 * 1024))
)

#: Hard cap on the adaptive partition count — 64k tasks is already
#: cluster-scale; past that a deployment resizes the target instead.
FANOUT_MAX_PARTITIONS = int(
    os.environ.get("SG_FANOUT_MAX_PARTITIONS", "65536")
)

#: In-flight bytes past which a join side can be assumed broadcast-
#: INFEASIBLE on any sane config (defaults put autoBroadcastJoinThreshold
#: at 10 MB; half a GB is ~50× that). Used by salted-join call sites to
#: avoid adding a repartition that a runtime broadcast would have made
#: redundant.
BROADCAST_INFEASIBLE_BYTES = int(
    os.environ.get("SG_BROADCAST_INFEASIBLE_BYTES", str(512 * 1024 * 1024))
)


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


def _is_materialized(df: DataFrame) -> bool:
    """True when ``df`` is persisted (any storage level) or backed by a
    checkpoint/LogicalRDD — i.e. counting it will not replay corpus-sized
    lineage.

    Round 16 (VERDICT r15 task 7): the round-14 "bare Relation first
    line" heuristic admit is GONE — it warned but still admitted frames
    whose count would re-scan the relation, and exotic single-line plans
    could slip through it. The contract is now storage-level /
    checkpoint-evidence only: persisted (any level), or a LogicalRDD
    root (localCheckpoint/checkpoint/createDataFrame-from-RDD — the
    shapes ``stage_checkpoint`` produces). Callers with an un-persisted
    scan pass ``rows=`` instead (or persist first); x39, the sole count
    caller, always checkpoints its postings."""
    try:
        lvl = df.storageLevel
        if lvl.useMemory or lvl.useDisk:
            return True
        # stage_checkpoint(localCheckpoint/checkpoint) frames report the
        # default NONE storage level but their analyzed plan is a bare
        # scan of the materialized RDD / checkpoint files.
        plan = df._jdf.queryExecution().analyzed().toString()
        return "LogicalRDD" in plan
    except Exception:
        return True  # never let the guard itself crash a build


#: Session-scoped memo of priced postings counts, keyed by
#: (applicationId, source_path, count_key). A postings count for a given
#: (session, source, kernel) is deterministic — the same immutability
#: assumption every plans/* session-frame cache makes — so repeat builds
#: over the same source (x39 re-builds under bench best-of-N, dependency
#: chains like x21→x11) pay the priced ``count()`` job once per session
#: instead of once per build (round-15: the x21 ×1000 cell priced the
#: repeat counts at ~1,050 s of drill CPU — VERDICT r14 task 1). Ints
#: only, keyed by applicationId, so no storage pins and no cross-session
#: leakage; distinct postings kernels over the same source MUST pass
#: distinct ``count_key`` tags.
_rows_cache: dict[tuple[str, str, str], int] = {}


def fanout_partitions(
    spark: SparkSession,
    source_path: str,
    postings: DataFrame,
    row_bytes: int,
    sides: int = 1,
    rows: int | None = None,
    count_key: str | None = None,
) -> int | None:
    """Adaptive partition count for a postings-list fan-out join, or
    ``None`` when the session default already suffices.

    ``None`` (the fixture path — caller changes NOTHING) when the source
    parquet at ``source_path`` is below :data:`FANOUT_GATE_BYTES`, when
    its size cannot be read, or when the computed count does not beat the
    session's ``spark.sql.shuffle.partitions``. Otherwise: one ``count()``
    over ``postings`` and a count targeting
    ~:data:`FANOUT_TARGET_PARTITION_BYTES` per task at ``row_bytes``
    estimated in-flight bytes per posting row, capped at
    :data:`FANOUT_MAX_PARTITIONS`.

    Callers MUST pass a ``postings`` frame that is already persisted or
    checkpointed (the count is then a cheap cached/columnar scan) — a raw
    lineage frame would silently pay a second corpus scan, so the
    contract raises ``RuntimeError`` (not ``assert``: the guard must
    survive ``python -O`` — round-14 advice). Alternatively pass a
    pre-counted ``rows`` and the frame is not touched at all.

    ``count_key`` (round 15): names the postings kernel (e.g.
    ``"x39_spans"``) and memoizes the priced count per (session, source,
    kernel) in :data:`_rows_cache`, so repeat builds never re-count.
    ``None`` (the default) disables memoization.

    ``sides``: how many copies of each key partition one downstream task
    consumes — 2 for a self-join (the sort-merge task reads its key range
    from BOTH aliased sides), 1 for a plain aggregation.
    """
    nbytes = fs_bytes(spark, source_path)
    if nbytes is None or nbytes < FANOUT_GATE_BYTES:
        return None
    if rows is None:
        memo_key = (
            (spark.sparkContext.applicationId, source_path, count_key)
            if count_key is not None
            else None
        )
        if memo_key is not None and memo_key in _rows_cache:
            rows = _rows_cache[memo_key]
        else:
            if not _is_materialized(postings):
                raise RuntimeError(
                    "fanout_partitions: postings frame must be persisted or "
                    "checkpointed before sizing (or pass rows=) — counting "
                    "raw lineage would replay the corpus scan"
                )
            rows = postings.count()
            if memo_key is not None:
                _rows_cache[memo_key] = rows
    n = min(
        FANOUT_MAX_PARTITIONS,
        math.ceil(rows * row_bytes * sides / FANOUT_TARGET_PARTITION_BYTES),
    )
    sess = _session_shuffle_partitions(spark)
    return n if n > sess else None


def fanout_partitions_by_bytes(
    spark: SparkSession,
    source_path: str,
    bytes_multiplier: float,
    sides: int = 1,
) -> int | None:
    """:func:`fanout_partitions` sized from the source parquet's on-disk
    bytes × an in-flight expansion ``bytes_multiplier`` instead of a row
    count — for join inputs that exist only as a scan (counting them
    would cost a full extra pass, unlike the materialized postings
    frames). Same gate, cap, session-floor and ``None`` semantics.
    Overestimating the multiplier is harmless (smaller tasks, more of
    them); the decade-4 b31 probe measured ~4× in-flight bytes per
    lineitem parquet byte (decompression + the 8×-exploded dim side)."""
    nbytes = fs_bytes(spark, source_path)
    if nbytes is None or nbytes < FANOUT_GATE_BYTES:
        return None
    n = min(
        FANOUT_MAX_PARTITIONS,
        math.ceil(
            nbytes * bytes_multiplier * sides / FANOUT_TARGET_PARTITION_BYTES
        ),
    )
    sess = _session_shuffle_partitions(spark)
    return n if n > sess else None
