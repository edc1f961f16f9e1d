"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All three functions are derived from the single declarative registry in
``scylladb_redpanda_cdc_spark.plans`` — one QuerySpec per SURVEY.md §2 ID.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Callable

# Import must work regardless of the caller's cwd.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession

from scylladb_redpanda_cdc_spark.plans import registry
from scylladb_redpanda_cdc_spark.streaming.core import tmpdir

SMOKE_SF_DIR = "/root/testdata/sf0.001"

_dist_for: set[str] = set()


def _ensure_dist(spark: SparkSession) -> None:
    """Ship the package to executors. Python workers import module-level
    functions (pandas UDFs, mapInPandas bodies) BY NAME, so a driver whose
    cwd/PYTHONPATH doesn't include this repo would fail inside tasks.
    addPyFile puts a zip of the package on every worker's sys.path."""
    app_id = spark.sparkContext.applicationId
    if app_id in _dist_for:
        return
    pkg_dir = os.path.join(_REPO_DIR, "scylladb_redpanda_cdc_spark")
    zip_path = os.path.join(tmpdir("dist"), "scylladb_redpanda_cdc_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_DIR))
    spark.sparkContext.addPyFile(zip_path)
    _dist_for.add(app_id)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Synthesized CDC change log from ``orders`` -> latest-state
    materialization (offset-authoritative, tombstones dropped) ->
    per-customer aggregate. See SURVEY.md §3.3 / §7 stage 0.
    """
    _ensure_dist(spark)
    specs = registry()
    return specs["flagship_cdc_materialize"].build(spark, SMOKE_SF_DIR)


def _with_dist(
    build: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_dist(spark)
        return build(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {qid: _with_dist(spec.build) for qid, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys get rows-only checks."""
    return {
        qid: spec.oracle for qid, spec in registry().items() if spec.oracle is not None
    }
