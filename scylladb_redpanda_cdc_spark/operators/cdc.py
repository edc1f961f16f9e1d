"""CDC / envelope operators (SURVEY.md §2.A — the reference's own surface).

Each function is a composable DataFrame -> DataFrame transform. The chain

    decode_envelope -> classify_op -> materialize_latest -> (deletes dropped)

reproduces the reference pipeline's purpose: replaying the topic reconstructs
the current ``orders`` table (reference README.md:24,212), with the update at
offset 6 superseding the insert at offset 5 for key (1,6)
(rpk_topic_consume.json:44,52).

Correctness trap encoded here (SURVEY.md §4.4): compaction trusts OFFSET
order, never the ``op`` code — a CQL INSERT on an existing key is an upsert
that still emits ``op:"c"``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from scylladb_redpanda_cdc_spark.schemas import ENVELOPE_SCHEMA, KEY_SCHEMA

#: Wire wrapper: JsonConverter with ``schemas.enable=true`` emits
#: ``{"schema": …, "payload": …}`` (connect-standalone.properties:2-3).
#: ``from_json`` skips fields absent from the target schema, so parsing with
#: a payload-only wrapper drops the embedded schema — internal plans carry
#: StructType, not per-row schemas (SURVEY.md §4.1).
WIRE_VALUE_SCHEMA = StructType([StructField("payload", ENVELOPE_SCHEMA)])
WIRE_KEY_SCHEMA = StructType([StructField("payload", KEY_SCHEMA)])


# -- A2 / A3 ----------------------------------------------------------------
def decode_envelope(records: DataFrame) -> DataFrame:
    """A2 ``envelope_decode``: typed envelope from the JSON ``value``.

    Input: Kafka frame (topic,key,value,timestamp,partition,offset —
    rpk_topic_consume.json:2-7). Output: frame metadata + ``envelope`` struct.
    """
    return records.withColumn(
        "envelope", F.from_json(F.col("value"), WIRE_VALUE_SCHEMA).getField("payload")
    )


def decode_key(records: DataFrame) -> DataFrame:
    """A3 ``key_decode``: typed PK struct from the JSON ``key``
    (rpk_topic_consume.json:3; PK columns per README.md:96-100)."""
    return records.withColumn(
        "pk", F.from_json(F.col("key"), WIRE_KEY_SCHEMA).getField("payload")
    )


# -- A4 ---------------------------------------------------------------------
def op_kind(op: Column) -> Column:
    """A4 ``op_classify``: 'c'->insert, 'u'->update, else delete
    (rpk_topic_consume.json:4,52; 'd' contract README.md:166)."""
    return (
        F.when(op == "c", "insert").when(op == "u", "update").otherwise("delete")
    )


# -- A5 ---------------------------------------------------------------------
def cell_value(image: Column, column: str) -> Column:
    """A5 ``cell_flatten``: the Cell-wrapped column's value (may be NULL)."""
    return image.getField(column).getField("value")


def cell_touched(image: Column, column: str) -> Column:
    """A5: was this column touched by the change? (cell present vs absent —
    the three-state null semantics of ...product.Cell,
    rpk_topic_consume.json:4)."""
    return image.getField(column).isNotNull()


# -- A6 / A10 / A11 — the compaction kernel ----------------------------------
def materialize_latest(
    changes: DataFrame,
    key_cols: list[str],
    order_col: str = "offset",
    op_col: str = "op",
    drop_deletes: bool = True,
) -> DataFrame:
    """A6 ``latest_state_materialize``: change log -> current state per PK.

    Last-write-wins by ``order_col`` (the per-partition offset authority,
    A11 — offsets strictly increase, rpk_topic_consume.json:7..55), then
    delete tombstones drop their key (A10, README.md:166). This single kernel
    also backs A9 upserts (base ∪ delta -> materialize) and S10 foreachBatch.

    Scale: one shuffle on the PK — identical to the topic's own partitioning,
    so on a real Kafka source with partition = hash(PK) this is a local sort.
    The window + filter compiles to WholeStageCodegen; no Python in the path.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_deletes:
        # Tombstone drop: the latest event for the key being a delete removes
        # the key (left-anti semantics folded into the same window pass —
        # strictly better than a second anti-join shuffle at scale).
        latest = latest.filter(F.col(op_col) != "d")
    return latest


# -- A30 / S22 — the SCD2 version clock -------------------------------------
def with_next_offset(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Each event's successor offset on its key as ``next_offset`` (NULL on
    the key's latest event): one lead() per key, offset-ordered. A30 runs
    it once over the whole log; S22 re-runs it over the touched keys'
    accumulated events per micro-batch — lead() over a key's complete
    event set does not depend on how the events were batched."""
    w = Window.partitionBy(*key_cols).orderBy("offset")
    return events.withColumn("next_offset", F.lead("offset").over(w))


def scd2_versions(history: DataFrame, key_cols: list[str]) -> DataFrame:
    """SCD Type-2 version rows of the orders payload from
    :func:`with_next_offset` history: each insert/update opens a version
    valid from its own offset to ``next_offset - 1``; a delete closes the
    open version without opening one, and a version with no successor is
    current."""
    return history.filter(F.col("op").isin("c", "u")).select(
        *key_cols,
        "totalprice",
        "orderstatus",
        F.col("offset").alias("valid_from"),
        (F.col("next_offset") - 1).alias("valid_to"),
        F.col("next_offset").isNull().alias("is_current"),
    )


# -- A20 / S17 — incremental MV apply ----------------------------------------
def apply_mv_diff(diff: DataFrame) -> DataFrame:
    """The per-customer MV after a delta: the standing ``n_live`` /
    ``revenue_cents`` minus the affected keys' old contribution
    (``o_n`` / ``o_c``) plus their new one (``n_n`` / ``n_c``), a missing
    side counting zero. ``diff`` carries all six on ``customer_id`` (the
    full outer join of MV, old and new contributions). BIGINT cents keep
    prev − old + new exactly equal to a from-scratch aggregate."""
    z = F.lit(0).cast("long")
    return diff.select(
        "customer_id",
        (
            F.coalesce("n_live", z)
            - F.coalesce("o_n", z)
            + F.coalesce("n_n", z)
        ).alias("n_live"),
        (
            F.coalesce("revenue_cents", z)
            - F.coalesce("o_c", z)
            + F.coalesce("n_c", z)
        ).alias("revenue_cents"),
    )


# -- A12 / A13 / A15 ---------------------------------------------------------
def derive_topic_name(namespace: Column, keyspace: Column, table: Column) -> Column:
    """A12 ``topic_name_derive``: ``{scylla.name}.{keyspace}.{table}``
    (connector.properties:6-7; consumed at README.md:215)."""
    return F.concat_ws(".", namespace, keyspace, table)


def project_source_metadata(decoded: DataFrame) -> DataFrame:
    """A13 ``source_metadata_project``: the provenance block every event
    carries (rpk_topic_consume.json:4)."""
    return decoded.select("offset", "envelope.source.*")


def split_snapshot(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A15 ``snapshot_vs_live_split``: initial-snapshot events
    (snapshot in {'true','last'}) vs live changes ('false') —
    Debezium enum at rpk_topic_consume.json:4; README.md:117."""
    snap = F.col("envelope.source.snapshot")
    return decoded.filter(snap != "false"), decoded.filter(snap == "false")


# -- A14 ---------------------------------------------------------------------
def encode_envelope(state: DataFrame, key_cols: list[str], schema_name: str) -> DataFrame:
    """A14 ``envelope_encode``: re-serialize rows as ``{schema,payload}`` JSON
    key/value pairs — the JsonConverter wire form
    (connect-standalone.properties:2-3; connector.properties:3-4).

    The embedded ``schema`` is a name stub: internal plans carry StructType;
    full Connect-style schema trees only matter to a JVM JsonConverter peer.
    """
    value_cols = [c for c in state.columns if c not in key_cols]
    key_struct = F.struct(
        F.struct(F.lit(f"{schema_name}.Key").alias("name")).alias("schema"),
        F.struct(*[F.col(c) for c in key_cols]).alias("payload"),
    )
    val_struct = F.struct(
        F.struct(F.lit(f"{schema_name}.Envelope").alias("name")).alias("schema"),
        F.struct(*[F.col(c) for c in state.columns]).alias("payload"),
    )
    return state.select(
        F.to_json(key_struct).alias("key"),
        F.to_json(val_struct).alias("value"),
        *[F.col(c) for c in key_cols],
        *[F.col(c) for c in value_cols],
    )
