"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (and the LLM-data-pipeline extensions) with DuckDB oracles.
Implementations live in ``modware_loader_spark``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import modware_loader_spark.plans.driver_queries  # noqa: E402,F401
import modware_loader_spark.plans.export_queries  # noqa: E402,F401
import modware_loader_spark.plans.pipeline_queries  # noqa: E402,F401
import modware_loader_spark.plans.analytics_queries  # noqa: E402,F401
import modware_loader_spark.plans.curation_queries  # noqa: E402,F401
from modware_loader_spark.plans.registry import ORACLES, QUERIES  # noqa: E402

_SHIPPED_TO: set[str] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to Python workers via ``addPyFile``.

    The driver owns the SparkSession, so the package directory this file
    was imported from may not be on the *workers'* sys.path (the JVM
    spawns workers with its own PYTHONPATH, not the driver's runtime
    ``sys.path`` mutations). Arrow ``mapInPandas`` stages deserialize
    closures by module reference, so without this a vanilla session run
    from any other cwd fails with ModuleNotFoundError. Zipping ~once per
    SparkContext is cheap; if workers could already import the package,
    the extra sys.path entry is inert.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED_TO:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "modware_loader_spark")
    base = os.path.join(tempfile.mkdtemp(prefix="mls_pyfiles_"), "modware_loader_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="modware_loader_spark")
    sc.addPyFile(zip_path)
    _SHIPPED_TO.add(key)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q5_region_revenue"](spark, "/root/testdata/sf0.001")


def _last_green() -> dict[str, int]:
    """Each query's last round with a fully green row (rows, schema and
    hash all match) in the recorded ``CORRECTNESS_r<round>.json`` files."""
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        with open(path) as fh:
            data = json.load(fh)
        for k, v in data.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                last[k] = max(last.get(k, 0), int(m.group(1)))
    return last


def _ordered(d: dict) -> dict:
    """``d`` stalest first. The external driver records the FIRST 50
    queries, so the head holds the names whose last green round is
    oldest (never-green names first); ties keep registry order. Every
    name stays covered each round by tests/test_oracle_parity.py."""
    last = _last_green()
    return {k: d[k] for k in sorted(d, key=lambda k: last.get(k, 0))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered({k: _wrap(v) for k, v in QUERIES.items()})


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted → rows-only check)."""
    return _ordered(dict(ORACLES))
