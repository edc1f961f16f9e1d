"""The reference's golden CDC capture, reconstructed as a test fixture —
in TWO clearly-separated flavors.

**Capture-exact (``extended=False``).** The reference checks in the exact 7
change events its pipeline produces for the scripted CQL workload (reference
rpk_topic_consume.json:1-56; workload scylladb_cql_statements.md:18-34): six
``op:"c"`` inserts at offsets 0-5 and one ``op:"u"`` update at offset 6
rewriting key (1,6) from 'pasta' to 'spaghetti'. Matching the real capture's
wire semantics: ``snapshot`` is ``"false"`` on ALL events and ``before`` is
``null`` even on the update (Scylla CDC emits no preimages) —
rpk_topic_consume.json:4,44. Consumers coded against this fixture see exactly
what the reference pipeline produces.

**Synthetic extension (``extended=True``).** A DELIBERATE superset, NOT part
of the capture: appends the in-contract-but-uncaptured delete (README.md:166),
fabricates a snapshot phase for the first three events (the Debezium snapshot
enum ``true/last/false`` documented at README.md:117 — the connector *would*
emit these had it started after rows existed), and populates before-images on
u/d events (the generic Debezium envelope shape, which Scylla CDC leaves null
but the decode layer must still handle as Cell-wrapped 3-state columns).
Specs that exercise delete/tombstone, snapshot-phase, or 3-state-null
semantics build on this flavor and say so.

We do NOT copy the capture file. The events below are re-synthesized from the
documented semantics (FIXTURES.md §1): same keys/products/ops/offsets — the
semantic contract — with synthetic deterministic timestamps. Each record is
built once as a Python dict and rendered BOTH as a Spark DataFrame and as a
DuckDB ``VALUES`` literal, so the driver's oracle runs byte-identical inputs.

Wire form: ``{"schema": …, "payload": …}`` because the reference enables
schema embedding (connect-standalone.properties:2-3). Internally we carry
only StructType (SURVEY.md §4.1) — the embedded schema is an opaque stub the
decoder skips, exactly as a consumer that trusts its compiled schema would.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from scylladb_redpanda_cdc_spark.operators.checkpoint import session_frame
from scylladb_redpanda_cdc_spark.schemas import RECORD_SCHEMA

#: Topic name = ``{scylla.name}.{keyspace}.{table}``
#: (reference connector.properties:6-7; consumed at README.md:215).
NAMESPACE = "QuickstartConnectorNamespace"
KEYSPACE = "quickstart_keyspace"
TABLE = "orders"
TOPIC = f"{NAMESPACE}.{KEYSPACE}.{TABLE}"

#: Deterministic synthetic time bases (epoch ms). The capture's real
#: timestamps are tutorial pacing, not semantics (BASELINE.md); only the
#: *ordering* and the source-ts < envelope-ts relationship matter.
_SOURCE_TS0 = 1_683_357_282_000
_ENVELOPE_LAG_MS = 60_000
_BROKER_LAG_MS = 500

# The scripted workload: (customer_id, order_id, product, op, before_product).
# Offsets are list positions (single topic partition, offsets 0..6 —
# rpk_topic_consume.json:7..55). The sixth insert is (1,6,'pasta'): the
# capture is ground truth over the tutorial text's (1,5) typo (SURVEY.md §4.4).
_WORKLOAD: list[tuple[int, int, str | None, str, str | None]] = [
    (1, 1, "pizza", "c", None),
    (1, 2, "cookies", "c", None),
    (1, 3, "tea", "c", None),
    (1, 4, "chips", "c", None),
    (1, 5, "lollies", "c", None),
    (1, 6, "pasta", "c", None),
    (1, 6, "spaghetti", "u", "pasta"),
]

#: Extension-only 8th event exercising the delete contract (README.md:166).
#: NOT in the capture.
_DELETE_EVENT: tuple[int, int, str | None, str, str | None] = (1, 2, None, "d", "cookies")

#: Extension-only snapshot phases: the tutorial narrates starting the
#: connector after 3 rows exist (README.md:117), so the extension labels the
#: first three events as snapshot reads ("true","true","last") per the
#: Debezium snapshot enum. The REAL capture carries "false" on all events
#: (rpk_topic_consume.json:4) — capture-exact mode reproduces that.
_EXT_SNAPSHOT_FLAGS = ["true", "true", "last", "false", "false", "false", "false", "false"]


def _row_image(customer_id: int, order_id: int, product: str | None, *, touched: bool) -> dict[str, Any] | None:
    """Build a Before/After image with Cell-wrapped non-key columns.

    Three-state nulls (rpk_topic_consume.json:4, ``...product.Cell``):
    cell absent  -> column untouched by this change;
    cell present with value None -> column explicitly set to NULL.
    """
    image: dict[str, Any] = {"customer_id": customer_id, "order_id": order_id}
    image["product"] = {"value": product} if touched else None
    return image


def golden_records(extended: bool = False) -> list[dict[str, Any]]:
    """The change events as Kafka-frame dicts (RECORD_SCHEMA shape).

    ``extended=False``: the 7 capture-exact events (snapshot always "false",
    before always null — the wire form the reference pipeline really emits).
    ``extended=True``: the 8-event labeled synthetic extension (delete +
    snapshot phases + before-images); see the module docstring.
    """
    records = []
    workload = list(_WORKLOAD) + ([_DELETE_EVENT] if extended else [])
    for offset, (cust, order, product, op, before_product) in enumerate(workload):
        source_ts_ms = _SOURCE_TS0 + offset * 10_000
        envelope_ts_ms = source_ts_ms + _ENVELOPE_LAG_MS
        key = {"customer_id": cust, "order_id": order}
        payload = {
            "source": {
                "version": "1.0.1",
                "connector": "scylla",
                "name": NAMESPACE,
                "ts_ms": source_ts_ms,
                "snapshot": _EXT_SNAPSHOT_FLAGS[offset] if extended else "false",
                "db": KEYSPACE,
                "keyspace_name": KEYSPACE,
                "table_name": TABLE,
                "ts_us": source_ts_ms * 1000 + offset,
            },
            "before": (
                _row_image(cust, order, before_product, touched=True)
                if extended and op in ("u", "d")
                else None
            ),
            "after": (
                _row_image(cust, order, product, touched=True) if op in ("c", "u") else None
            ),
            "op": op,
            "ts_ms": envelope_ts_ms,
            "transaction": None,
        }
        records.append(
            {
                "topic": TOPIC,
                "key": json.dumps({"schema": {"name": f"{TOPIC}.Key"}, "payload": key}),
                "value": json.dumps({"schema": {"name": f"{TOPIC}.Envelope"}, "payload": payload}),
                "timestamp": envelope_ts_ms + _BROKER_LAG_MS,
                "partition": 0,
                "offset": offset,
            }
        )
    return records


@session_frame
def golden_stream_df(spark: SparkSession, extended: bool = False) -> DataFrame:
    """The golden capture (or its labeled extension) as a Spark DataFrame in
    the Kafka record frame. Cached per session: every A-group query decodes
    the same 7/8 rows, so the local relation is built once and reused."""
    return spark.createDataFrame(golden_records(extended), RECORD_SCHEMA)


def values_sql(records: list[dict[str, Any]]) -> str:
    """Kafka-frame ``records`` as the rows of a DuckDB VALUES relation.

    Used inside oracle SQL as
    ``WITH raw(topic, key, value, timestamp, partition, offset) AS (VALUES …)``
    so DuckDB decodes byte-identical JSON to what Spark decodes.
    """
    rows = []
    for r in records:
        key_lit = r["key"].replace("'", "''")
        val_lit = r["value"].replace("'", "''")
        rows.append(
            f"('{r['topic']}', '{key_lit}', '{val_lit}', "
            f"{r['timestamp']}, {r['partition']}, {r['offset']})"
        )
    return ",\n    ".join(rows)


def golden_raw_cte(extended: bool = False) -> str:
    """``raw(...) AS (VALUES ...)`` CTE body for oracle SQL strings."""
    return (
        'raw(topic, "key", "value", "timestamp", "partition", "offset") AS (\n'
        f"  VALUES\n    {values_sql(golden_records(extended))}\n)"
    )
