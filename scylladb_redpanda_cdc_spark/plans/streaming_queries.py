"""Group S — Structured Streaming restatement of the reference pipeline
(SURVEY.md §2.S; reference: Kafka Connect worker + Redpanda topic,
connect-standalone.properties:1-5, README.md:180-215).

Every spec runs its stream to completion (availableNow) and returns the
materialized batch result, because the driver compares via ``.toPandas()``.
Determinism notes per spec; value sums use exact integer micros
(``floor(value*1e6)``) so float addition order can never break the oracle.

Oracle policy: the S group is nominally rows-only (SURVEY.md §2), but under
availableNow-on-static-fixtures most operators ARE deterministic, so strict
DuckDB oracles are declared wherever that holds — strictly more checkable
than the contract requires.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.plans import QuerySpec
from scylladb_redpanda_cdc_spark.plans.cdc_queries import (
    EVOLUTION_SQL,
    _SCD2_HISTORY_SQL,
    _A20_SQL as _A20_ORACLE,
    _A30_SQL as _A30_ORACLE,
)
from scylladb_redpanda_cdc_spark.plans.llm_queries import (
    _X48_SCORE_SQL,
    _X87_SQL,
    _words_sql,
)
from scylladb_redpanda_cdc_spark.plans.window_queries import _W6_SQL
from scylladb_redpanda_cdc_spark.sources.changelog import CHANGELOG_SQL_CTE
from scylladb_redpanda_cdc_spark.sources.tables import load_table as _T
from scylladb_redpanda_cdc_spark.streaming.core import (
    drain,
    events_stream,
    run_to_parquet,
    run_to_table,
    staged,
    tmpdir,
)
from scylladb_redpanda_cdc_spark.streaming.ops import (
    foreachbatch_scd2,
    foreachbatch_upsert,
    heavy_hitters_stream,
    incremental_dedup_stream,
    incremental_mv_stream,
    stage_changelog_stream,
    stage_documents_stream,
    stage_events_split_stream,
    stage_late_events_stream,
    user_running_state,
)

#: Exact integer aggregand: floor to micros on BOTH engines (Spark cast of
#: double->long truncates, DuckDB CAST rounds — FLOOR first is identical).
#: A function, not a module-level Column: building a Column requires an
#: active SparkContext, and the registry must import Spark-free.
def _val_micros():
    return F.floor(F.col("value") * 1_000_000).alias("value_micros")

_VAL_MICROS_SQL = "CAST(FLOOR(value * 1000000) AS BIGINT)"


# ---------------------------------------------------------------------------
# S1 / S2 — ingest + checkpointed offsets
# ---------------------------------------------------------------------------


def s1_stream_ingest(spark, sf_dir):
    """S1: continuous ingest -> typed projection. File-stream stand-in for
    the Kafka source (same downstream DAG; SURVEY.md §7 stage 5)."""
    ev = events_stream(spark, sf_dir)
    return run_to_table(
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ts_ms"),
            _val_micros(),
        )
    )


def s2_checkpointed_offsets(spark, sf_dir):
    """S2: resumable consumption. Runs the ingest TWICE against the same
    checkpoint; the second run must process zero new records (the
    /tmp/connect.offsets contract, connect-standalone.properties:4-5).
    Returns the sink's contents — any reprocessing would double the count
    and fail the exactly-once oracle."""
    out, ckpt = tmpdir("s2_out"), tmpdir("s2_ckpt")
    for _ in range(2):
        ev = events_stream(spark, sf_dir).select(
            "event_id", "user_id", F.unix_millis("ts").alias("ts_ms")
        )
        run_to_parquet(ev, out, ckpt)
    sunk = spark.read.parquet(out)
    return sunk.agg(
        F.count("*").alias("n_sunk"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# S3-S6 — event-time windows + watermark
# ---------------------------------------------------------------------------


def s3_stream_tumbling_agg(spark, sf_dir):
    """S3: fixed 1-hour event-time windows over the stream (event time =
    payload ts, distinct from broker timestamp — rpk_topic_consume.json:4-5).
    Complete output mode: availableNow finishes before windows close, and
    the memory sink holds the final aggregate per window."""
    return _hourly_sums(events_stream(spark, sf_dir))


def _hourly_windows(ev, *aggs):
    """Per 1-hour tumbling event-time window of the stream ``ev``: its
    start (win_start_ms), its event count (n_events) and ``aggs``."""
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win")).agg(
        F.count("*").alias("n_events"), *aggs
    )
    return agg.select(
        F.unix_millis("win.start").alias("win_start_ms"), *agg.columns[1:]
    )


def _hourly_sums(ev):
    """s3's hourly count and value sum over ``ev``, run to completion in
    complete mode — s18 runs the same aggregate over a split source."""
    out = _hourly_windows(ev, F.sum(_val_micros()).alias("sum_value_micros"))
    return run_to_table(out, mode="complete")


def s4_stream_sliding_agg(spark, sf_dir):
    """S4: overlapping 1-hour windows sliding every 15 minutes — each event
    lands in 4 windows."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("win")
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        F.unix_millis("win.start").alias("win_start_ms"), "n_events"
    )
    return run_to_table(out, mode="complete")


def s5_stream_session_window(spark, sf_dir):
    """S5: gap-based sessions per user (30-minute inactivity gap). Session
    spans [first event, last event + gap); an event at exactly
    last + 30 min starts a NEW session — the oracle's gaps-and-islands
    break condition uses >= to match."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("win")
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        "user_id",
        F.unix_millis("win.start").alias("sess_start_ms"),
        F.unix_millis("win.end").alias("sess_end_ms"),
        "n_events",
    )
    return run_to_table(out, mode="complete")


def s6_watermark_late_drop(spark, sf_dir):
    """S6: watermarked tumbling aggregate — the state-bounding contract.
    Watermark = max(ts) - 10 min, advanced between micro-batches; state for
    windows older than it is evicted (at 100 TB this is what keeps the agg
    state finite). Under availableNow on one file there is a single batch,
    so no rows are late relative to the initial watermark and the result
    equals the full aggregate — which is exactly what makes it strictly
    verifiable here."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_table(_hourly_windows(ev), mode="complete")


def s7_stream_dedup(spark, sf_dir):
    """S7: drop duplicate event_ids within the watermark horizon —
    at-least-once delivery is the Kafka Connect norm, dedup state is bounded
    by the watermark."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return run_to_table(deduped)


# ---------------------------------------------------------------------------
# S8 / S9 — joins
# ---------------------------------------------------------------------------


def s8_stream_static_join(spark, sf_dir):
    """S8: enrich the stream with a static dimension (events ⋈ customer).
    The static side is broadcast per micro-batch — no stream-side shuffle,
    the pattern that survives any stream volume."""
    ev = events_stream(spark, sf_dir)
    cust = _T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    # countDistinct is unsupported on streams; exact integer sum instead.
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(_val_micros()).alias("sum_value_micros"),
    )
    return run_to_table(agg, mode="complete")


def s9_stream_stream_join(spark, sf_dir):
    """S9: stream-stream inner join — purchases within 1 hour after a click
    by the same user. Both sides watermarked; the time-range condition is
    what lets Spark expire join state (unbounded otherwise)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
        ).alias("gap_ms"),
    )
    return run_to_table(joined)


# ---------------------------------------------------------------------------
# S10 / S11 — stateful materialization
# ---------------------------------------------------------------------------


def s10_foreachbatch_upsert(spark, sf_dir):
    """S10: the reference's materialization loop as incremental foreachBatch
    MERGE. The CDC log is drained in 2 micro-batches (enough to exercise
    the prev-state merge path; per-batch fixed cost dominates wall time at
    fixture scale, and tests/test_streaming_golden.py separately proves the
    cross-batch supersede case). Compaction is order-insensitive (offset
    authority, SURVEY.md §4.4), so the final state equals the batch answer
    for any batch split — verified by the same oracle as the batch
    flagship."""
    changes = stage_changelog_stream(spark, sf_dir, n_files=2)
    state = foreachbatch_upsert(changes, ["customer_id", "order_id"])
    return state.select(
        "customer_id", "order_id", "totalprice", "orderstatus"
    )


def s21_stream_corpus_sync(spark, sf_dir):
    """S21: x87's CDC-maintained corpus, arriving as a STREAM — the
    document changelog drained one file per micro-batch through the same
    incremental foreachBatch MERGE as S10 (full state never re-shuffled;
    touched keys only), final corpus projected exactly like the batch
    operator. The oracle is x87's batch recompute: equality across an
    ARBITRARY micro-batch split is the offset-authority convergence
    guarantee (SURVEY §4.4) applied to the engine's flagship composition —
    a crawl refresh can stream in and the corpus still lands byte-exact.

    Scale: delta files arrive bounded; each merge touches batch-sized
    state; the corpus is never rebuilt. Same 100 TB shape as s10/x87."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import (
        x87_changelog,
        x87_project_state,
    )

    def write(stage: str) -> None:
        x87_changelog(spark, sf_dir).repartition(3).write.mode(
            "overwrite"
        ).parquet(stage)

    changes = (
        spark.readStream.schema(
            "doc_id bigint, text string, op string, offset bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(staged(spark, "x87log", (sf_dir,), write))
    )
    state = foreachbatch_upsert(changes, ["doc_id"])
    return x87_project_state(state)


def s12_watermark_late_drop_observed(spark, sf_dir):
    """S12: the watermark contract with late data ACTUALLY DROPPED (S6's
    single-batch scenario can only show the no-late case). Three ordered
    micro-batches (stage_late_events_stream): the old half minus the
    stragglers, then the new half (the watermark leaps past every old
    window), then the stragglers — odd-id events 70+ minutes behind the
    old half's own maximum, which arrive behind any reachable watermark
    and must be discarded by the engine, not by this query.

    Update-mode memory sink records one row per (window, update); a
    window's final count is its maximum update (counts only grow). The
    oracle counts events that are NOT in the dropped class — if the engine
    failed to drop the stragglers, the odd old-half ids would inflate
    their windows and the hash would mismatch."""
    ev = stage_late_events_stream(spark, sf_dir).withWatermark(
        "ts", "10 minutes"
    )
    updates = run_to_table(_hourly_windows(ev), mode="update")
    return updates.groupBy("win_start_ms").agg(
        F.max("n_events").alias("n_events")
    )


def s13_stream_schema_evolution(spark, sf_dir):
    """S13: a17's mixed-version topic decoded mid-STREAM. An ALTER TABLE
    lands while the connector is live, so one continuous query sees v1 and
    v2 frames interleaved and must decode both WITHOUT a restart — the
    merged-widest-schema decode (cdc_queries.evolution_decode) is pure
    per-record expressions, so the exact batch DAG drops into the
    micro-batch unchanged; this spec proves that transfer on the streaming
    DDL path (file-stream twin of the Kafka source, S1's discipline).

    Scale shape: map-only decode inside each micro-batch — no state store,
    no shuffle; the version probe is one string test per record."""
    import json as _json
    import os as _os

    from scylladb_redpanda_cdc_spark.plans.cdc_queries import (
        evolution_decode,
        evolution_records,
    )
    from scylladb_redpanda_cdc_spark.schemas import RECORD_SCHEMA

    def write(stage: str) -> None:
        with open(_os.path.join(stage, "records.jsonl"), "w") as f:
            for r in evolution_records():
                f.write(_json.dumps(r) + "\n")

    raw = spark.readStream.schema(RECORD_SCHEMA).json(
        staged(spark, "evo_src", (), write)
    )
    return run_to_table(evolution_decode(raw))


def s14_stream_incremental_dedup(spark, sf_dir):
    """S14: x36's incremental exact dedup as a LIVE ingest stream — two
    ordered micro-batches of arriving documents (even doc_ids, then odd),
    each classified keep / dup_in_batch / dup_of_corpus against the
    standing hash index, which is updated per batch (the foreachBatch
    state-evolution pattern S10 uses for upserts, applied to the
    LLM-pipeline dedup decision). The batch split is deterministic
    (doc_id parity + mtime-pinned file order), so the DuckDB oracle can
    name each doc's batch and recompute every verdict exactly."""
    return incremental_dedup_stream(stage_documents_stream(spark, sf_dir))


def s15_stream_heavy_hitters(spark, sf_dir):
    """S15: corpus-wide top-20 token counts maintained incrementally as
    document shards arrive — the streaming heavy-hitter monitor. Counts
    are associative, so the standing vocabulary-sized table merged per
    micro-batch equals the exact global aggregation; the oracle recomputes
    it over the full staged stream (base corpus + the deterministic
    re-crawl shard)."""
    return heavy_hitters_stream(stage_documents_stream(spark, sf_dir))


def s16_stream_quality_filter(spark, sf_dir):
    """S16: the x48 quality classifier applied INSIDE the ingest stream —
    the filter-at-the-door shape (score and gate documents as they
    arrive, before they ever land in the corpus store). The kernel is
    shared VERBATIM with the batch spec (`llm_queries.quality_classify`),
    so batch and stream scoring can never drift; being stateless map-only
    algebra it transfers into the micro-batch unchanged, no state store.

    Scale shape: zero shuffles per batch — the classifier rides the
    ingest scan; at 100 TB/day this is the cheapest possible placement
    (score once on arrival vs rescanning the lake later)."""
    from scylladb_redpanda_cdc_spark.plans.llm_queries import quality_classify

    docs = stage_documents_stream(spark, sf_dir)
    out = tmpdir("qf_out")
    run_to_parquet(quality_classify(docs), out, tmpdir("qf_ckpt"))
    return spark.read.parquet(out)


def s17_stream_incremental_mv(spark, sf_dir):
    """S17: a20's incremental MV maintenance as a LIVE stream — the CDC
    log drained in four micro-batches, each merging per-key state (s10's
    anti/semi discipline) and applying a customers-level contribution
    diff to the standing aggregate. The final MV must equal the full
    recompute over the whole log (a20's oracle, shared verbatim) no
    matter how the batch boundaries fell."""
    changes = stage_changelog_stream(spark, sf_dir, n_files=4)
    return incremental_mv_stream(changes, ["customer_id", "order_id"])


def s18_stream_batch_invariance(spark, sf_dir):
    """S18: batch-boundary invariance of the windowed aggregate — the SAME
    1-hour tumbling aggregation as s3, but the source drained as FOUR
    micro-batches (one file per trigger, mtime-ordered). The result must
    equal s3's single-batch answer (the shared DuckDB oracle): window
    state accumulates across batches and the final complete-mode emit is
    independent of where the poll boundaries fell. This is the streaming
    analog of a20/s17's equality claim, applied to windows — and the
    property a 1000-executor deployment leans on every time a backlog
    drain changes its batch sizes."""
    return _hourly_sums(stage_events_split_stream(spark, sf_dir, n_files=4))


def s19_stream_redelivery_dedup(spark, sf_dir):
    """S19: ``dropDuplicatesWithinWatermark`` absorbing an at-least-once
    crash replay — the first poll's file is re-served byte-identical in a
    LATER micro-batch (a21's scenario, live). The dedup keeps per-key
    state within the watermark delay of first sight; the delay is sized
    to the REDELIVERY HORIZON (here: the fixture's whole span; in
    production: the broker's offset-flush/retention window — the rule
    that makes dedup state bounded by horizon x arrival rate, not by
    topic history). Output aggregates the deduped stream; equality with
    the oracle over the ORIGINAL table proves every duplicate died.

    vs s7: s7 proves in-batch dropDuplicates; s19's duplicates arrive in
    a different micro-batch, which only WithinWatermark state handles."""
    ev = stage_events_split_stream(spark, sf_dir, n_files=4, redeliver=True)
    deduped = (
        ev.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", _val_micros())
    )
    sunk = run_to_table(deduped)
    return sunk.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum("value_micros").alias("sum_value_micros"),
    )


def s20_stream_partitioned_sink(spark, sf_dir):
    """S20: the stream→lake sink — the reference pipeline's actual
    downstream destination (topic drained into day-partitioned parquet a
    warehouse then queries): each micro-batch appends its rows into
    hive day partitions (O1's layout, fed incrementally); the read-back
    per-day aggregate must equal the batch recompute no matter how the
    four polls split the data. Append-only facts append; keyed state
    takes the s10 merge path instead — knowing which sink discipline a
    table needs IS the operator.

    Scale: per batch, one shuffle on day (so files per batch = days
    touched, not tasks x days — o1's writer contract); the lake gains
    files per batch, which o2's compaction pass then bounds."""
    ev = stage_events_split_stream(spark, sf_dir, n_files=4)
    base = tmpdir("s20_lake")
    day = "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000"

    def sink(batch_df, batch_id: int) -> None:
        out = batch_df.select(
            "event_id",
            F.expr(day).alias("day"),
            _val_micros(),
        )
        (
            out.repartition("day")
            .write.mode("append")
            .partitionBy("day")
            .parquet(base)
        )

    drain(
        ev,
        ev.writeStream.foreachBatch(sink).option(
            "checkpointLocation", tmpdir("s20_ckpt")
        ),
    )
    back = spark.read.parquet(base)
    return back.groupBy(F.col("day").cast("long").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.sum("value_micros").alias("sum_value_micros"),
    )


def s11_stateful_running_state(spark, sf_dir):
    """S11: arbitrary per-key streaming state (applyInPandasWithState) —
    running per-user counters. Single availableNow batch => one final
    update per key; counts/maxima are exact integers."""
    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )
    return run_to_table(user_running_state(ev), mode="update")


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

_S9_SQL = """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
  c.user_id,
  epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'"""

_S10_SQL = f"""WITH {CHANGELOG_SQL_CTE},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY customer_id, order_id ORDER BY "offset" DESC) AS rn
  FROM changelog
)
SELECT customer_id, order_id, totalprice, orderstatus
FROM ranked WHERE rn = 1 AND op <> 'd'"""

_S16_SQL = f"""WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 IN (0, 5)),
toks AS (SELECT doc_id,
  {_words_sql()}
    AS ws FROM aug),
{_X48_SCORE_SQL}"""


def s22_stream_scd2(spark, sf_dir):
    """S22: A30's SCD Type-2 dimension maintained INCREMENTALLY from the
    change stream — the warehouse-history consumer of a CDC topic as a
    running merge (s10 maintains latest state; s22 maintains the full
    validity-interval history). The log drains in 3 micro-batches through
    foreachbatch_scd2: per batch only the TOUCHED keys' event history is
    re-leaded (batch-sized window), untouched versions pass through, and
    the final table must equal A30's one-pass batch build — the
    offset-authority convergence guarantee (SURVEY §4.4) applied to
    history, not just latest state.

    Scale: same 100 TB shape as s10 — one key shuffle per batch on the
    topic's own partitioning, state never rebuilt; closing a version
    touches only that key's rows."""
    changes = stage_changelog_stream(spark, sf_dir, n_files=3)
    return foreachbatch_scd2(changes, ["customer_id", "order_id"])


def s23_stream_observed_metrics(spark, sf_dir):
    """S23: b68's ``observe`` surface on a STREAM — per-micro-batch
    observed metrics (row count, exact value-micros mass) accumulated
    from the query's progress events, the pipeline-health counters a
    production stream exports per trigger without a second aggregation
    query competing for the state store. The spec returns the ACROSS-
    BATCH totals, which must equal the batch aggregate over the same
    events regardless of how availableNow split the files — conservation
    of observed mass across arbitrary micro-batching (the s18 invariance
    discipline applied to the metrics side channel).

    Scale: metrics fold into each batch's scan as accumulator-style
    partials; the per-trigger fold below walks progress METADATA
    (batch-count-sized, never data)."""
    from scylladb_redpanda_cdc_spark.streaming.core import _fresh

    ev = events_stream(spark, sf_dir).select("event_id", _val_micros())
    observed = ev.observe(
        "s23_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value_micros").alias("vmass"),
    )
    q = drain(
        observed,
        observed.writeStream.format("memory").queryName(_fresh("sg_mem")),
    )
    n_rows, vmass, n_batches = 0, 0, 0
    for p in q.recentProgress:
        m = p.observedMetrics.get("s23_metrics")
        if m is not None and m["n_rows"]:
            n_rows += m["n_rows"]
            vmass += m["vmass"]
            n_batches += 1
    return spark.createDataFrame(
        [(n_rows, vmass, n_batches >= 1)],
        "n_rows bigint, sum_value_micros bigint, multi_trigger boolean",
    )


_S23_SQL = f"""SELECT COUNT(*) AS n_rows,
  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros,
  TRUE AS multi_trigger
FROM events"""


def s24_stream_state_recovery(spark, sf_dir):
    """S24: state-store RECOVERY across a query RESTART — the guarantee
    s2 does NOT pin (s2 proves source-offset resume for a stateless
    sink; s24 proves the windowed AGGREGATION's state survives the
    process dying). Run 1 drains half the event files into a 1-hour
    windowed aggregate with a checkpoint, then terminates; run 2 is a
    NEW streaming query on the same checkpoint that sees only the files
    revealed after the restart — yet its complete-mode emit must cover
    EVERY event, which is only possible if the window state was
    recovered from the checkpoint, not recomputed from the source
    (the crash-recovery contract a 24/7 pipeline restarts on; the
    reference's worker makes the same promise via
    /tmp/connect.offsets + its 10 s flush, connect-standalone
    .properties:4-5). Emission is foreachBatch complete-snapshot
    overwrite — the fault-tolerant sink shape (memory sink pins no
    recovery contract).

    Scale: per-run cost is the NEW files' window updates (state loads
    are per-key-touched); the checkpoint carries window-count state,
    never raw events."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from scylladb_redpanda_cdc_spark.streaming.core import EVENTS_NORMALIZED_DDL

    # Stage 4 split files in scratch; reveal 2 now, 2 after the restart.
    scratch = tmpdir("s24_scratch")
    _T(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(scratch)
    parts = sorted(_glob.glob(_os.path.join(scratch, "part-*.parquet")))
    src, out, ckpt = tmpdir("s24_src"), tmpdir("s24_out"), tmpdir("s24_ckpt")
    for p in parts[:2]:
        _shutil.move(p, _os.path.join(src, _os.path.basename(p)))

    def run_query():
        ev = (
            spark.readStream.schema(EVENTS_NORMALIZED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = ev.groupBy(F.window("ts", "1 hour")).agg(
            F.count("*").alias("n_events"),
            F.sum(_val_micros()).alias("sum_value_micros"),
        )

        def emit(batch_df, _bid):
            batch_df.write.mode("overwrite").parquet(out)

        drain(
            agg,
            agg.writeStream.foreachBatch(emit)
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
        )

    run_query()  # phase 1: first half of the log
    for p in parts[2:]:  # the events that arrive while the worker is down
        _shutil.move(p, _os.path.join(src, _os.path.basename(p)))
    run_query()  # RESTART: new query, same checkpoint — state recovered
    return spark.read.parquet(out).select(
        F.unix_millis(F.col("window.start")).alias("win_start_ms"),
        "n_events",
        F.col("sum_value_micros").cast("long").alias("sum_value_micros"),
    )


_S24_SQL = f"""SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts))
    AS win_start_ms,
  COUNT(*) AS n_events,
  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros
FROM events GROUP BY 1"""


def s25_stream_before_image(spark, sf_dir):
    """S25: BEFORE-IMAGE reconstruction on the stream — every arriving
    update/delete event enriched with the version it replaces, via a
    stream-static INTERVAL join against a30's SCD2 history: the matching
    version is the one valid AS OF offset-1 (the instant before the event
    applied). This rebuilds Debezium's ``before`` cell from history when
    the source doesn't ship it (rpk_topic_consume.json:3 carries
    before=null for inserts; ScyllaDB CDC ships preimages only when the
    table enables them — this operator recovers them downstream), and is
    a32's AS-OF semantics run per-event instead of at one literal.

    Join correctness: an update at offset o opened its OWN version at o,
    but ``valid_from <= o-1`` excludes it; the version the event closed
    has ``valid_to = o-1`` exactly — each u/d event matches precisely one
    prior version (inserts have none and are filtered).

    Scale: the dimension is key-count-sized (one open + closed versions
    per key) and broadcast here; past broadcast size the same join
    hash-partitions on the event key — the topic's own partitioning —
    with the interval residual as a post-join filter. The stream side
    never buffers state (static join, no watermark needed)."""
    from scylladb_redpanda_cdc_spark.plans.cdc_queries import (
        a30_scd2_dimension_history,
    )

    hist = a30_scd2_dimension_history(spark, sf_dir).select(
        F.col("customer_id").alias("h_cust"),
        F.col("order_id").alias("h_ord"),
        F.col("totalprice").alias("prior_totalprice"),
        F.col("orderstatus").alias("prior_orderstatus"),
        "valid_from",
        "valid_to",
    )
    changes = stage_changelog_stream(spark, sf_dir, n_files=3)
    ev = changes.filter(F.col("op").isin("u", "d"))
    joined = ev.join(
        F.broadcast(hist),
        (ev["customer_id"] == F.col("h_cust"))
        & (ev["order_id"] == F.col("h_ord"))
        & (F.col("valid_from") <= F.col("offset") - 1)
        & (F.col("valid_to") >= F.col("offset") - 1),
        "inner",
    )
    out = joined.select(
        "offset",
        "op",
        "customer_id",
        "order_id",
        "prior_totalprice",
        "prior_orderstatus",
        F.col("valid_from").alias("prior_valid_from"),
    )
    return run_to_table(out, mode="append")


_S25_SQL = f"""{_SCD2_HISTORY_SQL},
ev AS (SELECT * FROM changelog WHERE op IN ('u', 'd'))
SELECT ev."offset", ev.op, ev.customer_id, ev.order_id,
  h.totalprice AS prior_totalprice, h.orderstatus AS prior_orderstatus,
  h.valid_from AS prior_valid_from
FROM ev JOIN h ON ev.customer_id = h.customer_id
  AND ev.order_id = h.order_id
  AND h.valid_from <= ev."offset" - 1
  AND h.valid_to >= ev."offset" - 1"""


SPECS = [
    QuerySpec(
        "s1_stream_ingest_kafka",
        "S",
        "continuous ingest -> typed projection (file-stream Kafka stand-in)",
        s1_stream_ingest,
        "SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,\n"
        f"  {_VAL_MICROS_SQL} AS value_micros FROM events",
    ),
    QuerySpec(
        "s2_checkpointed_offsets",
        "S",
        "checkpoint-resumable sink: second run with same checkpoint adds 0 rows",
        s2_checkpointed_offsets,
        "SELECT COUNT(*) AS n_sunk, COUNT(DISTINCT event_id) AS n_distinct"
        " FROM events",
    ),
    QuerySpec(
        "s3_stream_tumbling_agg",
        "S",
        "1-hour tumbling event-time windows",
        s3_stream_tumbling_agg,
        "SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_ms,\n"
        f"  COUNT(*) AS n_events,\n"
        f"  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros\n"
        "FROM events GROUP BY 1",
    ),
    QuerySpec(
        "s4_stream_sliding_agg",
        "S",
        "1-hour windows sliding every 15 min (4 windows per event)",
        s4_stream_sliding_agg,
        "SELECT epoch_ms(time_bucket(INTERVAL 15 MINUTE, ts)"
        " - k.k * INTERVAL 15 MINUTE) AS win_start_ms,\n"
        "  COUNT(*) AS n_events\n"
        "FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k GROUP BY 1",
    ),
    QuerySpec(
        "s5_stream_session_window",
        "S",
        "30-minute-gap session windows per user",
        s5_stream_session_window,
        _W6_SQL,  # w6's batch sessions: the stream must land the same ones
    ),
    QuerySpec(
        "s6_watermark_late_drop",
        "S",
        "watermarked tumbling agg (state bounded by watermark)",
        s6_watermark_late_drop,
        "SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_ms,\n"
        "  COUNT(*) AS n_events FROM events GROUP BY 1",
    ),
    QuerySpec(
        "s7_stream_dedup",
        "S",
        "dedup by event_id within watermark horizon",
        s7_stream_dedup,
        "SELECT DISTINCT event_id, user_id, event_type FROM events",
    ),
    QuerySpec(
        "s8_stream_static_join",
        "S",
        "stream ⋈ broadcast customer dimension, per-segment rollup",
        s8_stream_static_join,
        "SELECT c_mktsegment, COUNT(*) AS n_events,\n"
        f"  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros\n"
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey\n"
        "GROUP BY c_mktsegment",
    ),
    QuerySpec(
        "s9_stream_stream_join",
        "S",
        "stream-stream join: purchase within 1h after click, same user",
        s9_stream_stream_join,
        _S9_SQL,
    ),
    QuerySpec(
        "s10_foreachbatch_upsert",
        "S",
        "incremental foreachBatch MERGE of the CDC log (multi-micro-batch)",
        s10_foreachbatch_upsert,
        _S10_SQL,
    ),
    QuerySpec(
        "s12_watermark_late_drop_observed",
        "S",
        "late stragglers arrive behind the watermark and are dropped",
        s12_watermark_late_drop_observed,
        """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
           FROM events)
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_ms,
  COUNT(*) AS n_events
FROM events, b
WHERE NOT (event_id % 2 = 1 AND epoch_us(ts) < mid - 4200000000)
GROUP BY 1""",
    ),
    QuerySpec(
        "s11_stateful_running_state",
        "S",
        "applyInPandasWithState per-user running counters",
        s11_stateful_running_state,
        "SELECT user_id, COUNT(*) AS n_events,\n"
        "  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_errors,\n"
        "  epoch_ms(MAX(ts)) AS last_ts_ms\n"
        "FROM events GROUP BY user_id",
    ),
    QuerySpec(
        "s14_stream_incremental_dedup",
        "S",
        "per-batch exact-dedup verdicts against a standing hash index",
        s14_stream_incremental_dedup,
        """WITH aug AS (
  SELECT doc_id, text, doc_id % 2 AS b FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 1 FROM documents WHERE doc_id % 10 IN (0, 5)
),
h AS (SELECT doc_id, b, sha256(lower(trim(text))) AS text_hash FROM aug),
fb AS (SELECT text_hash, b, MIN(doc_id) AS first_id FROM h GROUP BY 1, 2),
fa AS (SELECT text_hash, MIN(b) AS first_b FROM h GROUP BY 1)
SELECT doc_id, text_hash,
  CASE WHEN b > first_b THEN 'dup_of_corpus'
       WHEN doc_id > first_id THEN 'dup_in_batch'
       ELSE 'keep' END AS verdict
FROM h JOIN fa USING (text_hash) JOIN fb USING (text_hash, b)""",
    ),
    QuerySpec(
        "s13_stream_schema_evolution",
        "S",
        "mixed embedded-schema versions decoded mid-stream (no restart)",
        s13_stream_schema_evolution,
        # identical semantics to a17 — the map-only batch DAG transfers
        # unchanged into the micro-batch, so the oracle is shared verbatim
        EVOLUTION_SQL,
    ),
    QuerySpec(
        "s17_stream_incremental_mv",
        "S",
        "live incremental MV across micro-batches == full recompute",
        s17_stream_incremental_mv,
        # a20's oracle verbatim: the full recompute over the whole log
        _A20_ORACLE,
    ),
    QuerySpec(
        "s16_stream_quality_filter",
        "S",
        "x48 classifier applied in-stream (map-only, kernel shared verbatim)",
        s16_stream_quality_filter,
        _S16_SQL,
    ),
    QuerySpec(
        "s15_stream_heavy_hitters",
        "S",
        "streaming top-20 token counts via per-batch state merge (exact)",
        s15_stream_heavy_hitters,
        f"""WITH aug AS (
  SELECT text FROM documents
  UNION ALL
  SELECT text FROM documents WHERE doc_id % 10 IN (0, 5)
),
t AS (SELECT unnest({_words_sql()}) AS tok
      FROM aug)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY tok
ORDER BY n DESC, tok ASC LIMIT 20""",
    ),
    QuerySpec(
        "s18_stream_batch_invariance",
        "S",
        "tumbling agg equal across 4 micro-batches (s3's oracle verbatim)",
        s18_stream_batch_invariance,
        "SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_ms,\n"
        f"  COUNT(*) AS n_events,\n"
        f"  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros\n"
        "FROM events GROUP BY 1",
    ),
    QuerySpec(
        "s19_stream_redelivery_dedup",
        "S",
        "dropDuplicatesWithinWatermark kills a cross-batch replayed file",
        s19_stream_redelivery_dedup,
        "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids,\n"
        f"  CAST(SUM({_VAL_MICROS_SQL}) AS BIGINT) AS sum_value_micros\n"
        "FROM events",
    ),
    QuerySpec(
        "s21_stream_corpus_sync",
        "S",
        "x87's corpus changelog streamed through incremental MERGE == batch",
        s21_stream_corpus_sync,
        _X87_SQL,  # the batch recompute IS the convergence oracle
    ),

    QuerySpec(
        "s22_stream_scd2",
        "S",
        "a30's SCD2 history maintained by incremental stream MERGE == batch",
        s22_stream_scd2,
        _A30_ORACLE,  # the batch one-pass build IS the convergence oracle
    ),
    QuerySpec(
        "s23_stream_observed_metrics",
        "S",
        "per-trigger observe metrics: across-batch totals == batch agg",
        s23_stream_observed_metrics,
        _S23_SQL,
    ),
    QuerySpec(
        "s24_stream_state_recovery",
        "S",
        "windowed-agg state survives a query RESTART (checkpoint recovery)",
        s24_stream_state_recovery,
        _S24_SQL,
    ),
    QuerySpec(
        "s25_stream_before_image",
        "S",
        "before-image rebuild: stream-static AS-OF join vs SCD2 history",
        s25_stream_before_image,
        _S25_SQL,
    ),
    QuerySpec(
        "s20_stream_partitioned_sink",
        "S",
        "stream -> day-partitioned lake append, equal to batch recompute",
        s20_stream_partitioned_sink,
        """WITH e AS (
  SELECT (epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000)
          % 86400000000) // 86400000000 AS day,
    CAST(FLOOR(value * 1000000) AS BIGINT) AS vm
  FROM events)
SELECT day, COUNT(*) AS n_events,
  CAST(SUM(vm) AS BIGINT) AS sum_value_micros
FROM e GROUP BY day""",
    ),
]
