"""The ×N scale corpus and the event-log stage report of ``tests/_scale.py``
(JVM-free: DuckDB builds the corpus, the report reads a recorded log)."""

from __future__ import annotations

import os

import duckdb
import pytest

import _scale
from conftest import SF_DIR as SRC
EVENT_LOG = os.path.join(_scale.ROOT, "perfbench", "tests", "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def x3(tmp_path_factory):
    return _scale.build_scaled(SRC, 3, str(tmp_path_factory.mktemp("x3")))


def _rows(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}')").fetchall()


def test_replicas_have_unique_shifted_keys(x3):
    con = duckdb.connect()
    for t in _scale.REPLICATED:
        n_src, n_out = (
            con.sql(f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
            for d in (SRC, x3)
        )
        assert n_out == 3 * n_src, t
    for t, key in (
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        n, distinct = con.sql(
            f"SELECT count(*), count(DISTINCT {key}) FROM read_parquet('{x3}/{t}.parquet')"
        ).fetchone()
        assert n == distinct, t
    orphans = con.sql(
        f"SELECT count(*) FROM read_parquet('{x3}/lineitem.parquet') l"
        f" ANTI JOIN read_parquet('{x3}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    assert orphans == 0
    for t in _scale.LINKED:
        assert os.path.islink(os.path.join(x3, f"{t}.parquet")), t
        assert _rows(con, f"{x3}/{t}.parquet") == _rows(con, f"{SRC}/{t}.parquet")


def test_build_is_deterministic_and_idempotent(x3, tmp_path):
    again = _scale.build_scaled(SRC, 3, str(tmp_path / "again"))
    con = duckdb.connect()
    for t in _scale.REPLICATED:
        a, b = (sorted(_rows(con, f"{d}/{t}.parquet")) for d in (x3, again))
        assert a == b, t
    stamp = os.path.getmtime(os.path.join(again, "orders.parquet"))
    _scale.build_scaled(SRC, 3, again)  # matching marker: reused, not rebuilt
    assert os.path.getmtime(os.path.join(again, "orders.parquet")) == stamp
    with pytest.raises(FileExistsError):  # never clears a dir it did not build
        _scale.build_scaled(SRC, 3, os.path.dirname(again))


def test_stage_report_sums_to_exec_metrics(tmp_path):
    os.symlink(EVENT_LOG, tmp_path / "app")
    log = _scale.metrics.read_event_log(str(tmp_path))
    info = _scale.read_stage_info(str(tmp_path))
    t0 = min(j["start"] for j in log["jobs"].values())
    t1 = max(j["end"] for j in log["jobs"].values())
    stages = _scale.stage_table(log, info, t0, t1)
    ex = _scale.metrics.exec_metrics(log, t0, t1, cores=2)
    assert len(stages) == ex["exec.stages"][0] > 0
    assert sum(r["tasks"] for r in stages) == ex["exec.tasks"][0]
    for col, key in (
        ("run_s", "exec.task_run_s"),
        ("shuffle_read_mb", "exec.shuffle_read_mb"),
        ("shuffle_write_mb", "exec.shuffle_write_mb"),
    ):
        assert sum(r[col] for r in stages) == pytest.approx(ex[key][0]), col
    assert sum(r["input_mb"] for r in stages) > 0
    assert max(r["max_task_mb"] for r in stages) > 0
    for r in stages:
        assert r["max_task_mb"] <= r["input_mb"] + r["shuffle_read_mb"] + 1e-9, r
    assert [r["run_s"] for r in stages] == sorted((r["run_s"] for r in stages), reverse=True)
