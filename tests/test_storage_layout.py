"""Physical-layout invariants for the O group (plans/storage_queries.py).

The oracle equality proves the DATA round-trips; these tests pin the
LAYOUT claims the aggregates cannot see: partition pruning reaches the
scan, compaction really changes the file count, clustered files are
internally sorted, and z-order buckets are tight in both dimensions.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.plans import storage_queries as SQ
from scylladb_redpanda_cdc_spark.streaming import core


def _layout(spark, sf_dir, name):
    """The dir layout ``name`` was staged in, read from the one staging
    memo; a miss fails instead of staging."""

    def unstaged(_base):
        raise AssertionError(f"layout {name} was not staged")

    return core.staged(spark, f"o_{name}", (sf_dir,), unstaged)


@pytest.fixture(scope="module")
def o1_base(spark, sf_dir):
    SQ.o1_partitioned_write(spark, sf_dir).collect()
    return _layout(spark, sf_dir, "o1")


def test_o1_layout_is_hive_partitioned(o1_base):
    # two-level directory scheme, one level per partition column
    flags = glob.glob(os.path.join(o1_base, "l_returnflag=*"))
    assert flags, o1_base
    statuses = glob.glob(
        os.path.join(o1_base, "l_returnflag=*", "l_linestatus=*")
    )
    assert statuses
    # one file per leaf partition (the repartition-before-write contract:
    # files == partitions, not tasks x partitions)
    for leaf in statuses:
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, (leaf, files)


def test_o1_read_back_prunes_partitions(spark, o1_base):
    """A filter on the partition column must become a PartitionFilter on
    the scan (whole directories skipped), not a post-scan Filter."""
    back = spark.read.parquet(o1_base).where(F.col("l_returnflag") == "R")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_o2_compaction_file_counts(spark, sf_dir):
    SQ.o2_compact_small_files(spark, sf_dir).collect()
    base = _layout(spark, sf_dir, "o2")
    small = glob.glob(os.path.join(base, "small", "*.parquet"))
    compact = glob.glob(os.path.join(base, "compact", "*.parquet"))
    assert len(small) == 64
    assert len(compact) == 4


def test_o3_files_sorted_within_and_disjoint_across(spark, sf_dir):
    rows = SQ.o3_clustered_write(spark, sf_dir).collect()
    base = _layout(spark, sf_dir, "o3")
    # bucket ranges disjoint by construction -> every [min,max] interval
    # is inside its 64-day epoch and no two buckets overlap
    spans = sorted((r.bucket, r.min_day, r.max_day) for r in rows)
    for b, lo, hi in spans:
        assert b * 64 <= lo <= hi < (b + 1) * 64, (b, lo, hi)
    for (_, _, hi_prev), (_, lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next
    # one file per bucket dir, rows sorted by l_shipdate inside the file
    leaves = glob.glob(os.path.join(base, "bucket=*"))
    assert leaves
    for leaf in leaves:
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, (leaf, files)
        col = (
            pq.read_table(os.path.join(leaf, files[0]), columns=["l_shipdate"])
            .column("l_shipdate")
            .to_pylist()
        )
        assert col == sorted(col), leaf


def test_o4_buckets_tight_in_both_dimensions(spark, sf_dir):
    """A z-bucket of 4096 contiguous z-values is exactly a 64x64 tile of
    the (zx, zy) plane: per-bucket span <= 63 in BOTH dimensions — the
    two-column file-skipping guarantee a 1-D sort cannot give (sorting by
    zx alone leaves zy spans at the full 0..1023 range)."""
    rows = SQ.o4_zorder_layout(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.max_x - r.min_x <= 63, r
        assert r.max_y - r.min_y <= 63, r


def test_o5_only_min_day_restated(spark, sf_dir):
    """The dynamic overwrite doubled exactly the earliest day: read the
    layout back and compare against the source-of-truth recompute."""
    out = {
        r.day: (r.n_events, r.value_micros)
        for r in SQ.o5_dynamic_partition_overwrite(spark, sf_dir).collect()
    }
    from scylladb_redpanda_cdc_spark.sources.tables import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))"
                " DIV 86400000000"
            ).alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.sum("vm").alias("vm"))
        .collect()
    )
    truth = {r.day: (r.n, r.vm) for r in e}
    d0 = min(truth)
    assert set(out) == set(truth)
    for day, (n, vm) in truth.items():
        want = (n, vm * 2 if day == d0 else vm)
        assert out[day] == want, (day, out[day], want)


def test_o6_merge_read_nulls_only_old_vintage(spark, sf_dir):
    SQ.o6_schema_merge_read(spark, sf_dir).collect()
    base = _layout(spark, sf_dir, "o6")
    back = spark.read.option("mergeSchema", "true").parquet(base)
    rows = back.groupBy((F.col("doc_id") % 2).alias("par")).agg(
        F.count("*").alias("n"),
        F.count("lang").alias("n_lang"),
    ).collect()
    by = {r.par: r for r in rows}
    assert by[0].n_lang == 0        # old vintage: lang absent everywhere
    assert by[1].n_lang == by[1].n  # new vintage: lang present everywhere


def test_zorder_interleave_is_bijective_tile_mapping():
    """Property: the Morton interleave is a bijection on 20 bits, and a
    4096-cell z-bucket is exactly one 64x64 tile (the file-skipping
    guarantee o4's layout rests on)."""
    from hypothesis import given, strategies as st

    def z(x: int, y: int, bits: int = 10) -> int:
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i + 1)
            out |= ((y >> i) & 1) << (2 * i)
        return out

    @given(st.integers(0, 1023), st.integers(0, 1023))
    def check(x, y):
        v = z(x, y)
        assert 0 <= v < 1 << 20
        # invert: de-interleave recovers (x, y) -> bijection
        xi = sum(((v >> (2 * i + 1)) & 1) << i for i in range(10))
        yi = sum(((v >> (2 * i)) & 1) << i for i in range(10))
        assert (xi, yi) == (x, y)
        # tile: the bucket index determines (x>>6, y>>6) — de-interleave
        # the bucket's base z-value and compare tile coordinates
        base = (v // 4096) * 4096
        bx = sum(((base >> (2 * i + 1)) & 1) << i for i in range(10))
        by = sum(((base >> (2 * i)) & 1) << i for i in range(10))
        assert (bx >> 6, by >> 6) == (x >> 6, y >> 6)

    check()


def test_zorder_bucket_is_single_tile():
    """Exhaustive on a sub-grid: every z-bucket's members share the same
    (x>>6, y>>6) tile coordinates — per-bucket span <= 63 in both dims."""
    def z(x, y):
        out = 0
        for i in range(10):
            out |= ((x >> i) & 1) << (2 * i + 1)
            out |= ((y >> i) & 1) << (2 * i)
        return out

    from collections import defaultdict

    tiles = defaultdict(set)
    for x in range(0, 256, 3):
        for y in range(0, 256, 3):
            tiles[z(x, y) // 4096].add((x >> 6, y >> 6))
    assert all(len(t) == 1 for t in tiles.values())


def test_o8_both_vintages_keep_their_own_pruning(spark, sf_dir):
    """Partition-scheme evolution must not cost pruning: a day filter on
    the new (day-partitioned) vintage is a PartitionFilter, and the SAME
    logical day range prunes the old vintage after translating to its
    month convention (day DIV 32) — the predicate mapping a catalog
    records at the cutover."""
    SQ.o8_partition_evolution(spark, sf_dir).collect()
    base = _layout(spark, sf_dir, "o8")

    # new vintage: native day pruning
    v2 = spark.read.parquet(base + "/v_day")
    some_day = v2.select(F.min("day_pt").alias("d")).collect()[0]["d"]
    plan = (
        v2.where(F.col("day_pt") == some_day)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "day_pt" in pf, plan

    # old vintage: the translated month predicate prunes directories
    v1 = spark.read.parquet(base + "/v_month")
    some_month = v1.select(F.min("month").alias("m")).collect()[0]["m"]
    plan = (
        v1.where(F.col("month") == some_month)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "month" in pf, plan


def test_o11_point_probe_scans_one_bucket(spark, sf_dir):
    """O11's claim, pinned physically: the IN-probe on the bucket key must
    select only the probes' buckets at scan time (the file-set shrinks
    BEFORE min/max skipping runs), and because the groupBy key is the
    bucket key the aggregate plan must contain no Exchange at all."""
    from scylladb_redpanda_cdc_spark.plans import storage_queries as SQ2

    plan = (
        SQ2.o11_bucket_pruned_scan(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of 8", plan)
    assert m, plan
    assert int(m.group(1)) <= len(SQ2.O11_PROBE_KEYS), plan
    assert "Exchange" not in plan, plan
