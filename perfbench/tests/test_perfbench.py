"""The benchmark's own tests: seeded inputs, the tail rule, the spread,
span accounting and the event-log parser. No JVM needed:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


# -- inputs ------------------------------------------------------------------


def _read_dir(path):
    names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    return names, [pq.read_table(os.path.join(path, n)) for n in names]


def test_trickle_same_seed_same_rows(tmp_path):
    a = inputs.trickle_changelog(str(tmp_path / "a"), 7, 500, 4, 100)
    b = inputs.trickle_changelog(str(tmp_path / "b"), 7, 500, 4, 100)
    (na, ta), (nb, tb) = _read_dir(a), _read_dir(b)
    assert na == nb and len(na) == 5
    assert all(x.equals(y) for x, y in zip(ta, tb))
    c = inputs.trickle_changelog(str(tmp_path / "c"), 8, 500, 4, 100)
    assert not all(x.equals(y) for x, y in zip(ta, _read_dir(c)[1]))


def test_trickle_layout(tmp_path):
    path = inputs.trickle_changelog(str(tmp_path), 3, 1_000, 6, 200)
    names, tables = _read_dir(path)
    assert tables[0].num_rows == 1_000
    assert set(tables[0].column("op").to_pylist()) == {"c"}
    assert [t.num_rows for t in tables[1:]] == [200] * 6
    offsets = [o for t in tables for o in t.column("offset").to_pylist()]
    assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)
    mtimes = [os.path.getmtime(os.path.join(path, n)) for n in names]
    assert mtimes == [inputs.MTIME_BASE + i for i in range(len(names))]
    ops = [o for t in tables[1:] for o in t.column("op").to_pylist()]
    assert 0.8 < ops.count("u") / len(ops) < 0.97
    assert ops.count("d") > 0 and ops.count("c") > 0
    # a key keeps its customer across the whole log
    owner = {}
    for t in tables:
        for cust, oid in zip(t.column("customer_id").to_pylist(), t.column("order_id").to_pylist()):
            assert owner.setdefault(oid, cust) == cust
    # deletes carry no payload
    for t in tables[1:]:
        for op, price in zip(t.column("op").to_pylist(), t.column("totalprice").to_pylist()):
            assert (price is None) == (op == "d")


def test_trickle_keys_are_skewed(tmp_path):
    path = inputs.trickle_changelog(str(tmp_path), 5, 10_000, 2, 2_000)
    _, tables = _read_dir(path)
    keys = tables[1].column("order_id").to_pylist()
    top = max(keys.count(k) for k in set(keys))
    assert top > 50  # uniform draws over 10k keys would repeat a handful of times


def test_bulk_orders_same_seed_unique_keys(tmp_path):
    a = inputs.orders_table(11, 5_000)
    assert a.equals(inputs.orders_table(11, 5_000))
    assert not a.equals(inputs.orders_table(12, 5_000))
    keys = a.column("o_orderkey").to_pylist()
    assert len(set(keys)) == len(keys) == 5_000
    assert {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"} <= set(
        a.column_names
    )
    path = inputs.bulk_orders(str(tmp_path), 11, 5_000)
    assert pq.read_table(os.path.join(path, "orders.parquet")).equals(a)


def test_prune_keeps_most_recently_used(tmp_path):
    import time

    work = str(tmp_path)
    paths = [inputs.bulk_orders(work, seed, 100) for seed in range(4)]
    now = time.time()
    for i, p in enumerate(paths):  # seed 0 oldest ... seed 3 newest
        os.utime(os.path.join(p, ".done"), (now - 100 + i, now - 100 + i))
    inputs.bulk_orders(work, 0, 100)  # a cache hit makes seed 0 the newest
    os.makedirs(os.path.join(work, "half-written.tmp"))
    inputs.prune(work, keep=2)
    assert sorted(os.listdir(work)) == sorted(os.path.basename(p) for p in (paths[0], paths[3]))


# -- statistics --------------------------------------------------------------


def test_tail_rule():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert metrics.tail(list(range(10))) == (9.0, 100.0, 10)
    xs = list(range(1, 21))  # 20 samples: the 10th has 10 above it
    assert metrics.tail(xs) == (10.0, 50.0, 20)
    xs = list(range(1, 101))
    assert metrics.tail(xs) == (90.0, 90.0, 100)
    value, pct, n = metrics.tail(list(range(1, 33)))
    assert (value, n) == (22.0, 32) and pct == pytest.approx(68.75)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_spread():
    assert metrics.spread([10.0] * 5) == 0.0
    assert metrics.spread([9.0, 10.0, 10.0, 10.0, 11.0]) == pytest.approx(0.1)


# -- spans -------------------------------------------------------------------


def test_self_times_account_for_the_root():
    spans = [
        {"name": "bench.timed", "start": 0.0, "end": 10.0, "trace": "w"},
        {"name": "bench.unit", "start": 0.0, "end": 10.0, "trace": "w/u0"},
        {"name": "streaming.trigger", "start": 1.0, "end": 9.0, "trace": "w/u0/b1"},
        {"name": "merge.add_batch", "start": 2.0, "end": 8.0, "trace": "w/u0/b1"},
        {"name": "merge.job", "start": 3.0, "end": 5.0, "trace": ""},
        {"name": "state.write", "start": 5.0, "end": 7.0, "trace": ""},
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx(
        {
            "bench.timed": 0.0,
            "bench.unit": 2.0,
            "streaming.trigger": 2.0,
            "merge.add_batch": 2.0,
            "merge.job": 2.0,
            "state.write": 2.0,
        }
    )
    assert sum(st.values()) == pytest.approx(10.0)
    tree = tracing.assign_parents(spans)
    job = next(s for s in tree if s["name"] == "merge.job")
    assert job["trace"] == "w/u0/b1"


def test_wrapper_records_span_and_result():
    class Mod:
        @staticmethod
        def width(x):
            return x * 2

    tr = tracing.Tracer()
    tr.trace = "w/u0"
    tr.wrap(Mod, "width", "streaming.width", record_result=True)
    assert Mod.width(4) == 8
    assert tr.counts["streaming.width"] == [8]
    assert [s["name"] for s in tr.spans] == ["streaming.width"]
    tr.unwrap()
    assert Mod.width(1) == 2 and len(tr.spans) == 1


# -- event log ---------------------------------------------------------------


def test_event_log_parser_on_recorded_log():
    with open(EVENT_LOG, encoding="utf-8") as fh:
        log = metrics.parse_event_log(fh)
    jobs = log["jobs"]  # a two-batch drain: 14 jobs in the batches, 1 final read
    assert len(jobs) == 15
    assert all(j["end"] is not None and j["end"] >= j["start"] for j in jobs.values())
    streaming = [j for j in jobs.values() if j["batch"] is not None]
    assert {j["batch"] for j in streaming} == {"0", "1"}
    assert len({j["query"] for j in streaming}) == 1
    assert len(log["tasks"]) == 17
    assert sum(t["shuffle_write"] for t in log["tasks"]) > 0
    writes = metrics.state_write_executions(log)
    assert len(writes) == 2 and all(w["end"] >= w["start"] for w in writes)

    t0 = min(j["start"] for j in jobs.values())
    t1 = max(j["end"] for j in jobs.values())
    ex = metrics.exec_metrics(log, t0, t1, cores=2)
    assert ex["exec.jobs"] == (15, "count")
    assert ex["exec.tasks"] == (17, "count")
    assert ex["exec.shuffle_read_mb"][0] == pytest.approx(ex["exec.shuffle_write_mb"][0])
    assert 0.0 <= ex["exec.idle_s"][0] <= (t1 - t0) / 1e3
    per = metrics.batch_jobs(log, {streaming[0]["query"]})
    assert sorted(b for _, b in per) == [0, 1]
    assert sum(r["jobs"] for r in per.values()) == len(streaming)
