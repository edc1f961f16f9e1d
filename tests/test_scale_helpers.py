"""operators/scale.py — the one sizing gate and formula.

Pins the three contracts every sized count rests on:

1. The GATE: below GATE_BYTES of source bytes (every fixture SF) a sized
   count is its floor and the fan-out helper returns None, so the floored
   plans are byte-identical.
2. The formula above the gate: ceil(bytes / per-task bytes), clamped to
   [floor, cap]; the fan-out helper folds its in-flight multiplier into
   the per-task bytes and is further floored by the session
   shuffle-partition count.
3. Semantics under the guard: forcing the adaptive path at fixture scale
   changes x11's and x39's RESULTS not at all.
"""

from __future__ import annotations

import os

import pytest

from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.plans import clear_session_frame_caches


def test_fs_bytes_prices_a_real_file(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    n = scale.fs_bytes(spark, path)
    assert n == os.path.getsize(path)


def test_fs_bytes_none_on_missing_path(spark):
    assert scale.fs_bytes(spark, "/root/testdata/nope/does-not-exist") is None


def test_sized_count_gate_formula_cap_and_floor(monkeypatch):
    gate = scale.GATE_BYTES
    for nbytes, per_task, floor, cap, expected in (
        (0, 1, 16, 4096, 16),  # below the gate: the floor, whatever the target
        (gate - 1, 1, 3, 4096, 3),
        (gate, gate / 4, 1, 4096, 4),  # at the gate: the formula
        (gate + 1, gate / 4, 1, 4096, 5),  # ceil, not floor
        (gate * 100, 1024, 1, 64, 64),  # the cap
        (gate, gate / 4, 16, 4096, 16),  # above the gate the floor still wins
    ):
        assert scale.sized_count(nbytes, per_task, floor, cap) == expected
    # the gate is read per call, so tests can open it
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    assert scale.sized_count(10, 3, 1, 4096) == 4


def test_session_conf_read_defensive():
    """A platform exposing a non-numeric spark.sql.shuffle.partitions
    (e.g. "auto" — open-source Spark validates the set, managed platforms
    do not) must not turn the guard into a builder crash: the helper
    falls back to Spark's own 200 default."""

    class FakeConf:
        def __init__(self, value):
            self._v = value

        def get(self, key, default=None):
            return self._v if self._v is not None else default

    class FakeSpark:
        def __init__(self, value):
            self.conf = FakeConf(value)

    assert scale._session_shuffle_partitions(FakeSpark("auto")) == 200
    assert scale._session_shuffle_partitions(FakeSpark(None)) == 200
    assert scale._session_shuffle_partitions(FakeSpark("64")) == 64


def test_bytes_variant_gate_formula_and_floor(spark, sf_dir, monkeypatch):
    path = os.path.join(sf_dir, "lineitem.parquet")
    # Below the gate: None, regardless of multiplier.
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=1e9)
        is None
    )
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    nbytes = os.path.getsize(path)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Multiplier sized so n = 4 * sess: must return exactly that.
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", nbytes)
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=4 * sess)
        == 4 * sess
    )
    # n == sess: the session default suffices -> None.
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=sess)
        is None
    )


def test_session_floor_and_hard_cap(spark, sf_dir, monkeypatch):
    path = os.path.join(sf_dir, "lineitem.parquet")
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Tiny source at the default 64 MB target: the session default wins.
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=1)
        is None
    )
    # The hard cap bounds a runaway count.
    monkeypatch.setattr(
        scale, "FANOUT_TARGET_PARTITION_BYTES", os.path.getsize(path)
    )
    monkeypatch.setattr(scale, "FANOUT_MAX_PARTITIONS", 2 * sess)
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=4 * sess)
        == 2 * sess
    )


@pytest.mark.slow
def test_b31_result_invariant_under_forced_adaptive_path(
    spark, sf_dir, monkeypatch
):
    """Force both driver-side bounds open at sf0.001 so b31 takes the
    repartitioned salted plan; the aggregate must be identical to the
    default plan's (the guard is physical layout only)."""
    from scylladb_redpanda_cdc_spark.plans import batch_queries

    def agg():
        df = batch_queries.b31_join_skew_salted(spark, sf_dir)
        return sorted(
            (r["o_orderpriority"], r["n_items"], r["sum_qty"])
            for r in df.collect()
        )

    baseline = agg()
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(scale, "BROADCAST_INFEASIBLE_BYTES", 0)
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 1024)
    forced = agg()
    assert forced == baseline and len(baseline) > 0


@pytest.mark.slow
def test_x11_result_invariant_under_forced_adaptive_path(
    spark, sf_dir, monkeypatch
):
    """Force the gate open at sf0.001 so x11 and x39 take their
    repartitioned plans, and compare each full result set against the
    default plan's: the guard must be a physical-layout change only."""
    import io
    from contextlib import redirect_stdout

    from scylladb_redpanda_cdc_spark.plans import llm_queries

    def x11():
        df = llm_queries.x11_dedup_ngram_jaccard(spark, sf_dir)
        rows = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        }
        return df, rows

    def x39():
        df = llm_queries.x39_dedup_containment(spark, sf_dir)
        rows = {
            (
                r["doc_a"],
                r["doc_b"],
                r["n_shared_spans"],
                r["n_spans_a"],
                round(r["containment"], 12),
            )
            for r in df.collect()
        }
        return df, rows

    for kernel in (x11, x39):
        with monkeypatch.context() as m:
            clear_session_frame_caches()
            _, baseline = kernel()

            clear_session_frame_caches()
            m.setattr(scale, "GATE_BYTES", 0)
            # A tiny per-task target guarantees the adaptive count beats
            # the session setting even on tiny fixtures.
            m.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 4096)
            m.setattr(scale, "FANOUT_MAX_PARTITIONS", 96)
            df, forced = kernel()

            # The mechanism, not just the result: the forced plan carries
            # the guard's numbered repartition on the join key
            # (REPARTITION_BY_NUM survives AQE), which the fixture-scale
            # default plan must not.
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(True)
            clear_session_frame_caches()
            assert "REPARTITION_BY_NUM" in buf.getvalue(), kernel.__name__

        assert forced == baseline and len(baseline) > 0, kernel.__name__
