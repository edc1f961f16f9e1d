"""Streaming operator kernels: foreachBatch upsert (S10) and arbitrary
per-key state (S11).

S10 is the reference pipeline's materialization loop run *incrementally*:
each micro-batch of change events is merged into the current-state table by
the same offset-authoritative compaction kernel the batch path uses
(operators.cdc.materialize_latest; reference rpk_topic_consume.json:44,52 —
update supersedes insert for key (1,6)). Because compaction is
order-insensitive (max offset wins no matter how events are batched), the
final state is identical for ANY micro-batch partitioning of the log — that
invariance is what makes the streaming and batch answers provably equal.

Scale: S10/S22 state is log-structured — one base parquet version plus
ordered delta versions, each a ``v<int>`` dir of one state dir. A small
batch writes its own compacted rows as a delta and never reads the base;
the base is rewritten when the outstanding deltas grow past a fixed share
of it, and once more at the end of a drain if deltas are left, so the
returned state is a read of one version. Each rewrite shuffles only on
the event key (the topic's own partitioning); untouched base rows are
never shuffled. On a real deployment a delta is a state store's per-batch
delta file and a rewrite its snapshot (or a table-format commit); the
DAG is the same.
"""

from __future__ import annotations

import functools
import glob
import logging
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from scylladb_redpanda_cdc_spark.operators.cdc import (
    apply_mv_diff,
    materialize_latest,
    scd2_versions,
    with_next_offset,
)
from scylladb_redpanda_cdc_spark.operators.scale import fs_bytes, sized_count
from scylladb_redpanda_cdc_spark.sources.changelog import synth_changelog
from scylladb_redpanda_cdc_spark.sources.tables import load_table
from scylladb_redpanda_cdc_spark.streaming import core
from scylladb_redpanda_cdc_spark.streaming.core import (
    EVENTS_NORMALIZED_DDL,
    scoped_conf,
    staged,
    state_file_count,
    stream_source_bytes,
    tmpdir,
)

CHANGELOG_STREAM_DDL = (
    "customer_id bigint, order_id bigint, op string, totalprice double, "
    "orderstatus string, ts_ms bigint, `offset` bigint"
)

#: Max number of distinct keys in a micro-batch we will broadcast for the
#: touched/untouched state split. A catch-up batch (initial topic drain,
#: resume after downtime) can carry arbitrarily many keys; broadcasting
#: those would blow the driver/executor broadcast limit, so past the cap
#: the merge falls back to a shuffled join and lets AQE pick the strategy.
BROADCAST_KEY_CAP = 2_000_000

#: Measured in-flight bytes per orders-parquet byte for the synthesized
#: changelog's staging write (round-16 ×1000 drill: 6.3 GB shuffled rows
#: from 1.76 GB of orders parquet = 3.6×; 4 adds headroom — the same
#: conservative posture as b31's fact-side multiplier, decade-checked
#: there at ~2.2× actual).
CHANGELOG_INFLIGHT_MULTIPLIER = 4

#: Target in-flight bytes per staging-WRITE task above the gate.
STAGE_WRITE_TARGET_TASK_BYTES = 128 * 1024 * 1024

#: Base-rewrite ratio of the S10/S22 merge state: a batch rewrites the
#: base once ``REWRITE_RATIO × (outstanding delta rows + batch rows) ≥
#: base rows``, and otherwise writes its compacted rows alone as a delta.
#: So a batch holding a quarter of the base's rows or more is always a
#: rewrite: perfbench's bulk catch-up batches hold a third or more and
#: stay rewrites with margin, while its trickle batches (~800 keys
#: against a 50k-key base) become deltas.
REWRITE_RATIO = 4

#: One line per state decision (delta, rewrite or fold) of the S10/S22
#: merge, with the row counts it was taken on.
_log = logging.getLogger("scylladb_redpanda_cdc_spark.streaming")


def _pin_mtimes(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing mtimes in list order, all in
    the past. FileStreamSource drains oldest-mtime first, so list order
    becomes stream order, and under ``maxFilesPerTrigger=k`` each run of
    k consecutive files becomes one micro-batch."""
    import time

    base = time.time() - 600 - len(paths)
    for j, p in enumerate(paths):
        os.utime(p, (base + j, base + j))


def _place_ordered(
    stage: str, ranks: list[list[str]], redeliver: bool = False
) -> None:
    """Move rank ``i``'s one part file to ``stage/{i:02d}.parquet`` (an
    empty rank — possible at tiny fixture scale — is skipped) and pin
    strictly increasing mtimes in rank order, so the stream drains rank
    by rank. ``redeliver`` appends ``99_redelivered.parquet``, a
    byte-identical copy of rank 0, as the newest file."""
    placed = []
    for i, found in enumerate(ranks):
        if not found:
            continue
        (src,) = found
        dst = os.path.join(stage, f"{i:02d}.parquet")
        shutil.move(src, dst)
        placed.append(dst)
    if redeliver:
        dup = os.path.join(stage, "99_redelivered.parquet")
        shutil.copyfile(placed[0], dup)
        placed.append(dup)
    _pin_mtimes(placed)


def _partition_files(scratch: str, col: str, n: int) -> list[list[str]]:
    """The part files of ``scratch``'s ``col=0`` .. ``col=n-1`` dirs."""
    return [
        glob.glob(os.path.join(scratch, f"{col}={i}", "part-*.parquet"))
        for i in range(n)
    ]


def _changelog_files_per_batch(spark: SparkSession, sf_dir: str, n_files: int) -> int:
    """How many staged files make up ONE micro-batch of the changelog
    transport — 1 at every fixture SF (below the 32 MB gate: plans,
    batch splits and floors byte-identical to the shipped shape), sized
    so no staging-write task holds more than
    ~:data:`STAGE_WRITE_TARGET_TASK_BYTES` in flight above it. The
    round-16 ×1000 drill measured the fixture form (``repartition(
    n_files)`` = n_files write tasks) at 2,115 MB in-flight per task —
    the fixed-constant-as-write-width defect class
    (``state_file_count``'s docstring). Deterministic per (dataset,
    n_files): driver-side metadata only, so the reader can recompute the
    trigger cap without the stager threading it through the cache."""
    return sized_count(
        fs_bytes(spark, os.path.join(sf_dir, "orders.parquet")) or 0,
        STAGE_WRITE_TARGET_TASK_BYTES * n_files / CHANGELOG_INFLIGHT_MULTIPLIER,
        1,
        256,
    )


def stage_changelog_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Materialize the synthesized CDC log as ``n_files`` micro-batches of
    parquet files and stream them back one batch per trigger — a
    deterministic stand-in for a Kafka topic drained in several polls.
    The staged log is deterministic per (sf_dir, n_files), so it is
    written once per session and reused.

    Batch count (``n_files``) is declared semantics; the number of FILES
    per batch is physical: above the 32 MB gate each batch is
    ``_changelog_files_per_batch`` files so no staging-write task holds
    more than the in-flight target (mtimes pin the file→batch grouping;
    ``maxFilesPerTrigger`` drains one group per micro-batch). The final
    state is identical for ANY batch split (offset authority — the s18
    invariance family pins it), so the above-gate regrouping is physical
    only; below the gate the layout, trigger cap and plans are
    byte-identical to the shipped fixture shape."""
    inner = _changelog_files_per_batch(spark, sf_dir, n_files)

    def write(stage: str) -> None:
        synth_changelog(spark, sf_dir).repartition(n_files * inner).write.mode(
            "overwrite"
        ).parquet(stage)
        if inner > 1:
            # pin file→batch grouping: part files sort in partition order
            _pin_mtimes(sorted(glob.glob(os.path.join(stage, "part-*.parquet"))))

    stage = staged(spark, "changelog", (sf_dir, n_files), write)
    return (
        spark.readStream.schema(CHANGELOG_STREAM_DDL)
        .option("maxFilesPerTrigger", inner)
        .parquet(stage)
    )


def stage_late_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the ``events`` table as THREE ordered stream files that force a
    real late-arrival scenario (S12):

    - file 0: the older half of the event-time range, minus the stragglers;
    - file 1: the newer half — processing it advances the watermark far
      past every old-half window;
    - file 2: the stragglers — ODD event_ids more than 70 minutes older
      than the midpoint, which the engine must DROP.

    The halves split at the midpoint of the epoch-micros range (exact
    integer arithmetic both engines can reproduce), and file order is
    pinned by modification time (FileStreamSource processes oldest-mtime
    first; ``maxFilesPerTrigger=1`` asks for one file per micro-batch).
    The straggler cutoff is mid − 70 min, not mid: the weakest watermark
    any legal batch grouping can apply to file 2 is max(file 0) − 10 min ≈
    mid − 10 min (watermarks take effect one batch late), and a straggler's
    1-hour window must already have closed under THAT — ts < mid − 70 min
    ⟹ window.end ≤ mid − 10 min. Only "file 2 inside the very first
    batch" would break determinism, and mtime ordering plus the trigger
    cap rules that out. Staged once per (session, dataset)."""
    from pyspark.sql import functions as F

    def write(stage: str) -> None:
        raw = load_table(spark, sf_dir, "events")
        us = F.unix_micros(F.col("ts"))
        bounds = raw.agg(
            ((F.min(us) + F.max(us)) / F.lit(2)).cast("long").alias("mid_us")
        )
        tagged = raw.crossJoin(F.broadcast(bounds))
        straggler = (F.col("event_id") % 2 == 1) & (
            us < F.col("mid_us") - F.lit(4_200_000_000)
        )
        rank = F.when(straggler, 2).when(us >= F.col("mid_us"), 1).otherwise(0)
        # One pass: write all three stream files via a partitioned layout,
        # then flatten rank=K/part-*.parquet to K.parquet.
        scratch = tmpdir("late_scratch")
        tagged.withColumn("file_rank", rank).drop("mid_us").repartition(
            1
        ).write.partitionBy("file_rank").mode("overwrite").parquet(scratch)
        _place_ordered(stage, _partition_files(scratch, "file_rank", 3))

    return (
        spark.readStream.schema(EVENTS_NORMALIZED_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged(spark, "late_events", (sf_dir,), write))
    )


class _StateRunner:
    """The foreachBatch state machinery every incremental kernel shares
    (S10/S22 merge, S14 dedup index, S15 heavy hitters, S17 MV): one
    availableNow drain of ``changes`` in which each micro-batch reads the
    current parquet version of its named states and writes each as
    ``<state dir>/v{batch_id}`` (S10/S22 also write delta versions there,
    see :func:`_run_incremental_merge`). The kernels keep only their per-batch
    DataFrame logic; the runner owns the scratch and checkpoint dirs, the
    version pointer, each state's schema (so a read infers none), each
    version's priced bytes, the version sizing and the per-batch
    merge-width scope.

    Sizing: ``log_bytes`` is the staged log's on-disk size, priced once
    per drain. The drain is availableNow, so every batch is a subset of
    the staged log and prev + log bounds the written version from above
    (see :func:`~scylladb_redpanda_cdc_spark.streaming.core.state_file_count`).

    The version pointer lives in this object, not in the checkpoint: a
    drain restarted on the same checkpoint would skip committed batches
    but start from empty state, so every drain gets a fresh checkpoint."""

    def __init__(self, changes: DataFrame, *states: str):
        self.changes = changes
        self.spark = changes.sparkSession
        self.log_bytes = stream_source_bytes(changes) or 0
        self._dirs = {s: tmpdir(s) for s in states}
        self._schema: dict[str, StructType] = {}
        self.path: dict[str, str | None] = dict.fromkeys(states)
        self.bytes: dict[str, int] = dict.fromkeys(states, 0)

    def read(self, state: str, *paths: str) -> DataFrame | None:
        """``state``'s versions ``paths`` as one relation (its current
        version if none are given), or None before its first write. The
        read takes the schema its writes recorded, so it starts no
        schema-inference job."""
        if not paths:
            if self.path[state] is None:
                return None
            paths = (self.path[state],)
        return self.spark.read.schema(self._schema[state]).parquet(*paths)

    def version(self, state: str, df: DataFrame, version: int, n_files: int) -> str:
        """Write ``df`` in at most ``n_files`` files as ``state``'s
        ``v{version}`` dir and return its path; the current version is
        unchanged."""
        path = os.path.join(self._dirs[state], f"v{version}")
        df.coalesce(n_files).write.mode("overwrite").parquet(path)
        self._schema[state] = df.schema
        return path

    def write(
        self, state: str, df: DataFrame, batch_id: int, floor: int, log: bool = True
    ) -> None:
        """Write ``df`` as ``state``'s current version for ``batch_id`` in
        ``state_file_count(prev + log, floor)`` files (prev alone with
        ``log=False``), then price it for the next batch."""
        nbytes = self.bytes[state] + (self.log_bytes if log else 0)
        path = self.version(state, df, batch_id, state_file_count(nbytes, floor))
        self.path[state] = path
        self.bytes[state] = fs_bytes(self.spark, path) or 0

    def drain(self, body: Callable[[DataFrame, int], None]) -> None:
        """Run ``body(batch_df, batch_id)`` on every micro-batch of an
        availableNow drain, at the stream's source-sized width.

        Each batch plans under ``state_merge_width`` of the FIRST state's
        previous version (a no-op below its gate, i.e. at every fixture
        SF), scoped on the outer session AND on ``batch_df``'s own cloned
        session: an executed plan takes its shuffle width from the
        receiver Dataset's session, so batch-rooted plans (s14's classify
        write, the merge unions that reference ``batch_df``) would never
        see an outer-only width."""
        first = next(iter(self.path))

        def batch(batch_df: DataFrame, batch_id: int) -> None:
            # a module lookup, so a patched core.state_merge_width is seen
            n = core.state_merge_width(self.spark, self.bytes[first])
            with ExitStack() as scope:
                if n is not None:
                    for session in (self.spark, batch_df.sparkSession):
                        scope.enter_context(
                            scoped_conf(session, "spark.sql.shuffle.partitions", str(n))
                        )
                body(batch_df, batch_id)

        core.drain(
            self.changes,
            self.changes.writeStream.foreachBatch(batch).option(
                "checkpointLocation", tmpdir("ckpt")
            ),
        )


def _split_touched(
    prev: DataFrame, batch_latest: DataFrame, key_cols: list[str], n_batch_keys: int
) -> tuple[DataFrame, DataFrame]:
    """Split ``prev`` state rows into (untouched, touched) by the keys of
    ``batch_latest``. One key probe marks touched keys and both sides are
    filters on the marker (anti + semi as two joins would probe the same
    hash table twice). The key set is broadcast only while it is small —
    a catch-up batch past BROADCAST_KEY_CAP keys shuffles instead (AQE may
    still re-plan it)."""
    from pyspark.sql import functions as F

    batch_keys = (
        batch_latest.select(*key_cols)
        .dropDuplicates(key_cols)
        .withColumn("__hit", F.lit(1))
    )
    if n_batch_keys <= BROADCAST_KEY_CAP:
        batch_keys = F.broadcast(batch_keys)
    marked = prev.join(batch_keys, key_cols, "left")
    return (
        marked.filter(F.col("__hit").isNull()).drop("__hit"),
        marked.filter(F.col("__hit").isNotNull()).drop("__hit"),
    )


def _parquet_rows(spark: SparkSession, path: str) -> int:
    """Rows of the parquet dir ``path``, summed from its file footers:
    driver-side metadata through the Hadoop FS API, never a Spark job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    rows = 0
    for status in hpath.getFileSystem(conf).listStatus(hpath):
        if status.getPath().getName().startswith(("_", ".")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return rows


def _run_incremental_merge(changes: DataFrame, key_cols: list[str], compact) -> DataFrame:
    """Shared incremental foreachBatch MERGE skeleton (S10/S22): drain the
    change stream to completion, folding each batch into the state via
    ``compact`` (a per-key-closed recompute: given every state/batch row
    of a key set, return that key set's new state rows), and return the
    final raw state.

    ``compact`` must be order-insensitive over a key's accumulated rows
    (offset authority, SURVEY.md §4.4: a key's OLDER event arriving in a
    LATER batch cannot regress the state) — that is what makes the final
    state identical for ANY micro-batch split of the log, and what lets a
    key's rows spread over several versions be compacted together.

    State is log-structured: one BASE version plus ordered DELTA versions,
    all ``v<int>`` dirs of the runner's state dir. Per batch, with
    ``batch_latest = compact(batch)``:

    - delta: ``batch_latest`` itself is written, sized from the drained
      log like every batch-sized write — batch-sized work that never
      reads the base or the older deltas. A delta is read only by the
      next rewrite's compaction;
    - rewrite, once ``REWRITE_RATIO × (delta rows + batch rows) ≥ base
      rows`` (and for the first batch): with K the keys of deltas ∪ batch,
      the new base is ``base anti K ∪ compact(base semi K ∪ deltas ∪
      batch_latest)`` — one probe, untouched base rows never shuffled —
      sized ``state_file_count(prev + log, 16)``; its row count comes
      from the parquet footers;
    - fold: deltas left when the drain ends are rewritten into one base
      ``v{last batch id + 1}`` inside this call, so the returned state is
      a plain read of one version.

    The ratio counts rows on both sides — keys for s10, events for s22 —
    and a delta counts the rows it wrote. Every decision logs one line on
    the ``scylladb_redpanda_cdc_spark.streaming`` logger.
    """
    run = _StateRunner(changes, "state")
    deltas: list[str] = []  # delta version paths over the base, oldest first
    base_rows = delta_rows = 0
    last_batch = -1

    def rewrite(newer: list[DataFrame], n_newer: int, version: int) -> None:
        # newer = the deltas and/or the batch, n_newer their rows; K = their keys
        nonlocal base_rows, delta_rows
        news = functools.reduce(DataFrame.unionByName, newer)
        base, merged = None, news
        if run.path["state"] is not None:
            # persist: the untouched and touched halves both read the base
            # (perfbench bulk on 4 cores: batch p50 5.4-6.1 s with it,
            # 6.6-6.7 s without)
            base = run.read("state").persist()
            untouched, touched = _split_touched(base, news, key_cols, n_newer)
            merged = untouched.unionByName(compact(touched.unionByName(news)))
        run.write("state", merged, version, 16)
        if base is not None:
            base.unpersist()
        deltas.clear()
        base_rows, delta_rows = _parquet_rows(run.spark, run.path["state"]), 0

    def decided(kind: str, version: int, counts: tuple[int, int, int, int]) -> None:
        # counts: batch rows, delta rows, deltas, base rows before the decision
        _log.info(
            "state %s v%d: %s (batch rows %d, delta rows %d in %d deltas, base rows %d)",
            os.path.basename(os.path.dirname(run.path["state"])), version, kind, *counts,
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal last_batch, delta_rows
        last_batch = batch_id
        # persist: batch_latest feeds the count and the write (a rewrite
        # also probes its keys and unions it)
        batch_latest = compact(batch_df).persist()
        n_batch = batch_latest.count()
        counts = (n_batch, delta_rows, len(deltas), base_rows)
        if run.path["state"] is None or REWRITE_RATIO * (delta_rows + n_batch) >= base_rows:
            newer = [run.read("state", *deltas), batch_latest] if deltas else [batch_latest]
            rewrite(newer, delta_rows + n_batch, batch_id)
            kind = "rewrite"
        else:
            # a delta is batch-sized, and the drained log bounds any batch
            deltas.append(
                run.version("state", batch_latest, batch_id, state_file_count(run.log_bytes, 1))
            )
            delta_rows += n_batch
            kind = "delta"
        decided(kind, batch_id, counts)
        batch_latest.unpersist()

    run.drain(merge)
    assert run.path["state"] is not None, "stream produced no batches"
    if deltas:
        counts = (0, delta_rows, len(deltas), base_rows)
        rewrite([run.read("state", *deltas)], delta_rows, last_batch + 1)
        decided("fold", last_batch + 1, counts)
    return run.read("state")


def foreachbatch_upsert(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S10: incremental upsert MERGE — state is ONE compacted latest row
    per key. Tombstones are RETAINED in intermediate state
    (``drop_deletes=False``) so a delete in batch k cannot be resurrected
    by compaction in batch k+1; they are dropped once, at the end (A10
    semantics)."""
    from pyspark.sql import functions as F

    state = _run_incremental_merge(
        changes,
        key_cols,
        lambda df: materialize_latest(df, key_cols, drop_deletes=False),
    )
    return state.filter(F.col("op") != "d")


def foreachbatch_scd2(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S22: incremental SCD Type-2 MERGE — state is the key's full event
    history with each row's successor offset maintained (A30's validity
    clock). The compact step recomputes ``next_offset`` by a lead() over
    a batch's own events (a delta) or the touched keys' accumulated events
    (a rewrite) — untouched history never re-shuffled; (key, offset)
    dedup makes redelivery idempotent
    (events are immutable per offset, A21's contract). Because lead()
    over a key's complete event set is order-insensitive to arrival
    batching, the final table equals A30's one-pass batch build for ANY
    micro-batch split.

    Returns version rows: key cols + payload + valid_from / valid_to /
    is_current (deletes close history without emitting a version)."""

    def compact(df: DataFrame) -> DataFrame:
        return with_next_offset(
            df.drop("next_offset").dropDuplicates([*key_cols, "offset"]),
            key_cols,
        )

    state = _run_incremental_merge(changes, key_cols, compact)
    return scd2_versions(state, key_cols)


DOCS_STREAM_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


#: Re-crawled doc_ids get this offset — far above any fixture id, so the
#: copies are new rows with new identities but identical content.
RECRAWL_ID_OFFSET = 1_000_000


def stage_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage ``documents`` as TWO ordered stream files (even doc_ids first,
    then odd — a deterministic batch split both engines can name), streamed
    one file per micro-batch: the corpus arriving as ingest shards.

    The fixture corpus is exact-dup-free, so the second shard additionally
    carries deterministic RE-CRAWLS (the scenario incremental dedup exists
    for — a crawler re-fetching pages it already saw): every doc with
    ``doc_id % 10 == 0`` (its original landed in batch 0 → the copy must
    classify dup_of_corpus) and ``doc_id % 10 == 5`` (its original is in
    the SAME batch → dup_in_batch), each re-ingested as a new row with id
    ``doc_id + 1_000_000`` and identical text. File order is pinned by
    mtime (FileStreamSource drains oldest first). Staged once per
    (session, dataset)."""
    from pyspark.sql import functions as F

    def write(stage: str) -> None:
        scratch = tmpdir("docs_scratch")
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        recrawl = (
            d.filter((F.col("doc_id") % 10).isin(0, 5))
            .withColumn("doc_id", F.col("doc_id") + RECRAWL_ID_OFFSET)
            .withColumn("b", F.lit(1))
        )
        (
            d.withColumn("b", (F.col("doc_id") % 2).cast("int"))
            .unionByName(recrawl)
            .repartition(1)
            .write.partitionBy("b")
            .mode("overwrite")
            .parquet(scratch)
        )
        _place_ordered(stage, _partition_files(scratch, "b", 2))

    return (
        spark.readStream.schema(DOCS_STREAM_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged(spark, "docs_stream", (sf_dir,), write))
    )


def incremental_dedup_stream(docs: DataFrame) -> DataFrame:
    """S14: exact dedup as a CONTINUOUS ingest decision (x36's classification
    run per micro-batch with standing state): every arriving doc is marked
    ``keep`` (first sighting anywhere), ``dup_in_batch`` (a lower-doc_id
    copy arrived in the same micro-batch), or ``dup_of_corpus`` (a copy was
    already accepted in an earlier batch); the standing hash index then
    absorbs the batch's new hashes.

    Scale shape (the part that matters at 100 TB): the standing index is
    hashes-only (pre-aggregated, no text) and is NEVER shuffled — the
    arriving batch's distinct hashes are broadcast against it to extract
    the (batch-sized) hit list, which is broadcast back to the batch rows;
    raw corpus text is never rescanned after its own batch. A catch-up
    batch past BROADCAST_KEY_CAP distinct hashes falls back to a shuffled
    join (same result, AQE re-plans), mirroring foreachbatch_upsert."""
    from pyspark.sql import functions as F

    run = _StateRunner(docs, "dedup_idx")
    out = tmpdir("dedup_out")

    def classify(batch_df: DataFrame, batch_id: int) -> None:
        hashed = batch_df.select(
            "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("text_hash")
        ).persist()
        firsts = hashed.groupBy("text_hash").agg(
            F.min("doc_id").alias("first_id")
        ).persist()
        n_hashes = firsts.count()
        small = n_hashes <= BROADCAST_KEY_CAP
        idx = run.read("dedup_idx")
        if idx is None:
            hits = None
        else:
            probe = firsts.select("text_hash")
            hits = idx.join(
                F.broadcast(probe) if small else probe, "text_hash"
            ).withColumn("__seen", F.lit(1))
        enriched = hashed.join(
            F.broadcast(firsts) if small else firsts, "text_hash"
        )
        if hits is not None:
            enriched = enriched.join(
                F.broadcast(hits) if small else hits, "text_hash", "left"
            )
        else:
            enriched = enriched.withColumn("__seen", F.lit(None).cast("int"))
        verdict = (
            F.when(F.col("__seen").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") > F.col("first_id"), "dup_in_batch")
            .otherwise("keep")
        )
        # verdicts are batch-sized, and the drained log bounds any batch
        enriched.select(
            "doc_id", "text_hash", verdict.alias("verdict")
        ).coalesce(
            state_file_count(run.log_bytes, 4)
        ).write.mode("append").parquet(out)
        new_hashes = firsts.select("text_hash")
        merged = (
            new_hashes
            if idx is None
            else idx.unionByName(new_hashes).distinct()
        )
        run.write("dedup_idx", merged, batch_id, 8)
        hashed.unpersist()
        firsts.unpersist()

    run.drain(classify)
    return run.spark.read.parquet(out)


def incremental_mv_stream(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S17: a20's incremental MV maintenance run LIVE — each micro-batch
    merges into the per-key state (s10's anti/semi discipline: untouched
    keys never shuffle) AND applies the customers-level contribution diff
    to a standing per-customer aggregate. The returned MV must equal the
    full recompute over the whole log (the a20 oracle), proving the
    incremental arithmetic exact across arbitrary batch boundaries.

    Exactness: contributions are BIGINT cents (floor per row before any
    sum), so prev − old + new can never drift from a from-scratch agg.

    Scale shape per batch: the state merge is batch-sized (s10); the MV
    update reads contributions of AFFECTED keys only and merges into the
    customers-sized MV — the whole point: nothing state-sized or
    corpus-sized moves when a small delta lands."""
    from pyspark.sql import functions as F

    run = _StateRunner(changes, "mv_state", "mv_agg")
    cents = F.floor(F.col("totalprice") * 100).cast("long")

    def contrib(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("op") != "d")
            .groupBy("customer_id")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_latest = materialize_latest(
            batch_df, key_cols, drop_deletes=False
        ).persist()
        n_batch_keys = batch_latest.count()
        prev = run.read("mv_state")
        if prev is None:
            affected_old = None
            merged_affected = batch_latest
            merged = batch_latest
        else:
            prev = prev.persist()
            unaffected, affected_old = _split_touched(
                prev, batch_latest, key_cols, n_batch_keys
            )
            affected_old = affected_old.persist()
            merged_affected = materialize_latest(
                affected_old.unionByName(batch_latest),
                key_cols,
                drop_deletes=False,
            )
            merged = unaffected.unionByName(merged_affected)
        new_c = contrib(merged_affected)
        old_c = (
            contrib(affected_old)
            if affected_old is not None
            else new_c.limit(0)
        )
        mv_prev = run.read("mv_agg")
        diff = (
            new_c.withColumnRenamed("n", "n_n").withColumnRenamed("c", "n_c")
        ).join(
            old_c.withColumnRenamed("n", "o_n").withColumnRenamed("c", "o_c"),
            "customer_id",
            "full",
        )
        if mv_prev is not None:
            diff = mv_prev.join(diff, "customer_id", "full")
        else:
            z = F.lit(0).cast("long")
            diff = diff.withColumn("n_live", z).withColumn("revenue_cents", z)
        mv_new = apply_mv_diff(diff)
        run.write("mv_state", merged, batch_id, 16)
        # the MV is customers-sized: a batch's contribution to it is
        # bounded by the batch itself, so prev + log bounds the write
        run.write("mv_agg", mv_new, batch_id, 4)
        batch_latest.unpersist()
        if prev is not None:
            prev.unpersist()
        if affected_old is not None:
            affected_old.unpersist()

    run.drain(merge)
    return run.read("mv_agg").filter(F.col("n_live") > 0)


def heavy_hitters_stream(docs: DataFrame) -> DataFrame:
    """S15: streaming heavy hitters — the corpus-wide top-20 token counts
    maintained INCREMENTALLY as document shards arrive (the trending-terms
    / hot-key monitor every ingest pipeline runs beside dedup). Each
    micro-batch partial-aggs its own token counts (batch-local shuffle,
    output vocabulary-sized), then merges them into the standing count
    table by key — counts are associative, so the final state equals the
    exact global aggregation regardless of batching.

    Scale shape: the standing state is VOCABULARY-sized (zipf-bounded),
    never corpus-sized; per batch the corpus-sized work is one explode +
    partial agg whose map-side combine collapses the zipf-hot keys before
    the shuffle. The merge is state ∪ batch → sum, both vocabulary-sized.
    (Under adversarial vocabularies a deployment swaps the exact table for
    a space-saving/CMS sketch; the fixture's closed vocabulary makes the
    exact table the honest, oracle-checkable plan.)

    Emits top-20 by (n DESC, tok ASC) — a total order, exact BIGINTs."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.operators.llm import words

    run = _StateRunner(docs, "hh_state")

    def update(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(F.explode(words(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("n"))
        )
        state = run.read("hh_state")
        if state is not None:
            counts = (
                state.unionByName(counts)
                .groupBy("tok")
                .agg(F.sum("n").alias("n"))
            )
        # vocabulary-sized state: the batch's NEW-token contribution is
        # zipf-bounded, far under the log's raw bytes — prev alone is the
        # honest estimate here
        run.write("hh_state", counts, batch_id, 8, log=False)

    run.drain(update)
    final = run.read("hh_state")
    return (
        final.select("tok", F.col("n").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


def user_running_state(events: DataFrame) -> DataFrame:
    """S11: arbitrary stateful per-key operator via applyInPandasWithState
    (PySpark's stateful primitive; flatMapGroupsWithState is JVM-only).

    Tracks per-user running (event count, error count, latest event time) —
    the analog of A6's "latest cell values per key" as true streaming state.
    Input must carry ``user_id``, ``event_type``, ``ts_ms`` (long).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_state(
        key: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        n, errs, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            errs += int((pdf["event_type"] == "error").sum())
            last = max(last, int(pdf["ts_ms"].max()))
        state.update((n, errs, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_errors": [errs],
                "last_ts_ms": [last],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_state,
        outputStructType=(
            "user_id bigint, n_events bigint, n_errors bigint, last_ts_ms bigint"
        ),
        stateStructType="n bigint, errs bigint, last bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stage_events_split_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4, redeliver: bool = False
) -> DataFrame:
    """Stage the ``events`` table as ``n_files`` parquet files with mtimes
    pinning their stream order, and read them back one file per
    micro-batch — the deterministic stand-in for a topic drained across
    several polls (S18's batch-boundary-invariance fixture).

    ``redeliver=True`` appends a byte-identical COPY of the first staged
    file with the newest mtime: the at-least-once crash-replay scenario
    (the broker re-serves everything since the last offset flush,
    connect-standalone.properties:5) arriving in a LATER micro-batch —
    S19's dedup fixture. Staged once per (session, dataset, shape)."""

    def write(stage: str) -> None:
        scratch = tmpdir("evsplit_scratch")
        load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(scratch)
        parts = sorted(glob.glob(os.path.join(scratch, "part-*.parquet")))
        _place_ordered(stage, [[p] for p in parts], redeliver)

    return (
        spark.readStream.schema(EVENTS_NORMALIZED_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged(spark, "evsplit", (sf_dir, n_files, redeliver), write))
    )
