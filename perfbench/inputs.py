"""Seeded input generators for the CDC workloads.

Both generators are pure functions of ``(seed, size)``: the same arguments
give byte-identical rows. Outputs are cached under the benchmark's work
directory, keyed by ``(seed, size)``, so a repeated run with the same seed
skips generation (and generation time is never part of ``setup_s``).

- :func:`trickle_changelog` writes a keyed change log in the program's
  ``CHANGELOG_STREAM_DDL`` layout: one snapshot file of inserts, then
  small Zipf-skewed batches of updates, deletes and new inserts. Offsets
  strictly increase across the whole log; each batch is one parquet file
  whose mtime is pinned, so a ``maxFilesPerTrigger=1`` file stream reads
  exactly one file per micro-batch, in order.
- :func:`bulk_orders` writes an ``orders.parquet`` with the columns the
  program's ``synth_changelog`` reads, with unique order keys.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Arbitrary fixed epoch for pinned file mtimes (seconds); file ``i`` gets
#: ``MTIME_BASE + i`` so stream order equals file order.
MTIME_BASE = 1_600_000_000
#: Distinct customers the order keys are spread over.
N_CUSTOMERS = 10_000
#: Zipf exponent for the trickle's hot keys.
ZIPF_A = 1.2
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

CHANGELOG_SCHEMA = pa.schema(
    [
        ("customer_id", pa.int64()),
        ("order_id", pa.int64()),
        ("op", pa.string()),
        ("totalprice", pa.float64()),
        ("orderstatus", pa.string()),
        ("ts_ms", pa.int64()),
        ("offset", pa.int64()),
    ]
)


def _cached(path: str, build) -> str:
    """Run ``build(tmp)`` once per ``path``; a marker file makes a
    half-written cache entry (an interrupted run) invisible."""
    marker = os.path.join(path, ".done")
    if os.path.exists(marker):
        os.utime(marker)  # most recently used, for prune()
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _write_batch(path: str, index: int, cols: dict) -> None:
    pq.write_table(pa.table(cols, schema=CHANGELOG_SCHEMA), path)
    mtime = MTIME_BASE + index
    os.utime(path, (mtime, mtime))


def trickle_batches(seed: int, keys: int, batches: int, events: int):
    """Yield the trickle log as ``batches + 1`` column dicts: the snapshot
    (``keys`` inserts) first, then ``batches`` change batches of
    ``events`` events each — ~90% updates and ~5% deletes on Zipf-skewed
    existing keys, ~5% inserts of new keys."""
    rng = np.random.default_rng(seed)
    max_keys = keys + batches * events
    customer_of = rng.integers(0, N_CUSTOMERS, size=max_keys, dtype=np.int64)
    hot_order = rng.permutation(keys).astype(np.int64)
    offset = 0

    def cols(order_id, op, price, status):
        nonlocal offset
        n = len(order_id)
        offs = np.arange(offset, offset + n, dtype=np.int64)
        offset += n
        return {
            "customer_id": customer_of[order_id],
            "order_id": order_id,
            "op": op,
            "totalprice": price,
            "orderstatus": status,
            "ts_ms": 1_500_000_000_000 + offs,
            "offset": offs,
        }

    oid = np.arange(keys, dtype=np.int64)
    yield cols(
        oid,
        np.full(keys, "c"),
        np.round(rng.uniform(900.0, 500_000.0, keys), 2),
        STATUSES[rng.integers(0, 3, keys)],
    )
    next_key = keys
    for _ in range(batches):
        rank = (rng.zipf(ZIPF_A, events) - 1) % keys
        order_id = hot_order[rank]
        kind = rng.random(events)
        op = np.where(kind < 0.90, "u", np.where(kind < 0.95, "d", "c"))
        fresh = op == "c"
        n_fresh = int(fresh.sum())
        order_id[fresh] = np.arange(next_key, next_key + n_fresh, dtype=np.int64)
        next_key += n_fresh
        deleted = op == "d"
        price = np.round(rng.uniform(900.0, 500_000.0, events), 2)
        status = STATUSES[rng.integers(0, 3, events)].astype(object)
        status[deleted] = None
        yield cols(
            order_id,
            op,
            pa.array(price, mask=deleted),
            status,
        )


def trickle_changelog(work: str, seed: int, keys: int, batches: int, events: int) -> str:
    """Directory of ``batches + 1`` parquet files ``NNNNN.parquet`` (file 0
    is the snapshot), cached per ``(seed, keys, batches, events)``."""

    def build(out: str) -> None:
        for i, c in enumerate(trickle_batches(seed, keys, batches, events)):
            _write_batch(os.path.join(out, f"{i:05d}.parquet"), i, c)

    name = f"trickle-s{seed}-k{keys}-b{batches}-e{events}"
    return _cached(os.path.join(work, name), build)


def orders_table(seed: int, rows: int) -> pa.Table:
    """``rows`` orders with unique ``o_orderkey`` values in random order."""
    rng = np.random.default_rng(seed)
    days = rng.integers(8_035, 10_440, size=rows)  # 1992-01-01 .. 1998-08-02
    return pa.table(
        {
            "o_orderkey": rng.permutation(rows).astype(np.int64),
            "o_custkey": rng.integers(0, max(1, rows // 10), size=rows, dtype=np.int64),
            "o_orderstatus": STATUSES[rng.integers(0, 3, rows)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, rows), 2),
            "o_orderdate": pa.array(days * 86_400_000_000, pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, rows)],
        }
    )


def bulk_orders(work: str, seed: int, rows: int) -> str:
    """Dataset directory holding one generated ``orders.parquet`` (the
    layout ``stage_changelog_stream``'s ``sf_dir`` expects), cached per
    ``(seed, rows)``."""

    def build(out: str) -> None:
        pq.write_table(orders_table(seed, rows), os.path.join(out, "orders.parquet"))

    return _cached(os.path.join(work, f"orders-s{seed}-r{rows}"), build)


def prune(work: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently used cache entries (and
    any half-written ones), so a checkout that runs many seeds does not
    fill its disk."""
    entries = []
    for name in os.listdir(work):
        path = os.path.join(work, name)
        marker = os.path.join(path, ".done")
        if os.path.exists(marker):
            entries.append((os.path.getmtime(marker), path))
        else:
            shutil.rmtree(path, ignore_errors=True)
    for _, path in sorted(entries, reverse=True)[keep:]:
        shutil.rmtree(path, ignore_errors=True)
