"""events.ts fixture-vintage regression (round-5 verdict item 8).

The driver has shipped ``events.parquet`` with three different physical ts
layouts across rounds — TIMESTAMP(NANOS) (rounds 1-3, read as long nanos
under ``nanosAsLong``), naive TIMESTAMP(MICROS) (round 4+, read as
TIMESTAMP_NTZ), and the plain UTC-adjusted TIMESTAMP(MICROS) any external
producer would write. The round-4 vintage flip cost a full round because
only the shipped layout was exercised; this file synthesizes a mini
events table in ALL THREE vintages and proves ``load_table`` normalizes
every one to identical epoch micros — through the batch loader and
through the events file stream, which declares the schema it reads from
the same footer.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.sources.tables import load_table
from scylladb_redpanda_cdc_spark.streaming.core import events_stream, run_to_table

#: Three instants incl. a non-midnight, non-second-aligned value with
#: sub-millisecond micros — the part a ms-rounding bug would destroy.
_EPOCH_US = [1_700_000_000_000_000, 1_700_003_723_456_789, 1_700_086_400_000_001]


def _write(dirpath: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["a", "b", "c"], pa.string()),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"], pa.string()),
        }
    )
    pq.write_table(table, dirpath + "/events.parquet")
    return dirpath


@pytest.fixture(scope="module")
def vintage_dirs(tmp_path_factory):
    us = pa.array(_EPOCH_US, pa.int64())
    return {
        "nanos": _write(
            str(tmp_path_factory.mktemp("v_nanos")),
            pa.array([u * 1000 for u in _EPOCH_US], pa.int64()).cast(
                pa.timestamp("ns")
            ),
        ),
        "ntz_micros": _write(
            str(tmp_path_factory.mktemp("v_ntz")), us.cast(pa.timestamp("us"))
        ),
        "utc_micros": _write(
            str(tmp_path_factory.mktemp("v_utc")),
            us.cast(pa.timestamp("us", tz="UTC")),
        ),
    }


_READERS = {
    "batch": lambda spark, d: load_table(spark, d, "events"),
    "stream": lambda spark, d: run_to_table(events_stream(spark, d)),
}


def test_all_vintages_normalize_to_identical_epoch_micros(spark, vintage_dirs):
    results = {}
    for vintage, d in vintage_dirs.items():
        for reader, read in _READERS.items():
            df = read(spark, d)
            assert dict(df.dtypes)["ts"] == "timestamp", (vintage, reader, df.dtypes)
            rows = (
                df.select("event_id", F.unix_micros("ts").alias("us"))
                .orderBy("event_id")
                .collect()
            )
            results[vintage, reader] = [(r["event_id"], r["us"]) for r in rows]
    expected = list(zip([1, 2, 3], _EPOCH_US))
    for key, got in results.items():
        assert got == expected, (key, got)


def test_vintages_survive_hostile_session_timezone(spark, vintage_dirs):
    """The ntz vintage is the dangerous one: a naive timestamp read under a
    non-UTC session would shift. load_table pins UTC on every load, so the
    epoch micros must be identical even when the caller session starts in
    another timezone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for vintage, d in vintage_dirs.items():
            df = load_table(spark, d, "events")
            got = [
                r["us"]
                for r in df.select(F.unix_micros("ts").alias("us"))
                .orderBy("event_id")
                .collect()
            ]
            assert got == _EPOCH_US, (vintage, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
