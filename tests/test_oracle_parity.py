"""Replicates the driver's t2 gate locally: every queries() entry must
hash-match its DuckDB oracle at sf0.001 (fast) — run with
``SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01`` for the full-size check."""

from __future__ import annotations

import os

import pytest

from tests.oracle_harness import compare

SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def _registry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


QUERIES, ORACLES = _registry()


def _case(name):
    """s13's golden VALUES oracle mirrors the reference checkout's
    ``literature/test.bib``, which the repo does not hold: that case runs
    only where the file exists."""
    if name != "s13_bibtex2chado_pub":
        return name
    from modware_loader_spark.plans.export_queries import _BIBTEX_FIXTURE

    return pytest.param(
        name,
        marks=pytest.mark.skipif(
            not os.path.exists(_BIBTEX_FIXTURE),
            reason=f"BibTeX fixture {_BIBTEX_FIXTURE} not present",
        ),
    )


@pytest.mark.parametrize("name", [_case(n) for n in sorted(QUERIES)])
def test_query_matches_oracle(spark, name):
    res = compare(spark, SF, name, QUERIES[name], ORACLES.get(name))
    assert res["ok"], res


def test_harness_rejects_array_columns(spark):
    """The local gate must fail an oracle-backed query that returns an
    array column with a clear message — the driver's pandas canon cannot
    sort list cells (r6's embed_quantize_int8 failure mode)."""

    def arrays(sp, sf_dir):
        return sp.range(3).selectExpr("id", "array(id, id + 1) AS codes")

    res = compare(spark, SF, "fake_array_query", arrays, "SELECT 1 AS one")
    assert not res["ok"]
    assert res["status"] == "non_scalar_columns"
    assert res["non_scalar_columns"] == ["codes"]


def test_harness_rejects_decimal_landing_mismatch(spark):
    """A DECIMAL result column lands float64 in duckdb.fetchdf but
    object(Decimal) in Spark toPandas — the exact r10 failure mode of
    pipeline_export_shards. The guard must reject it locally even
    though every VALUE is identical."""

    def decimals(sp, sf_dir):
        return sp.range(3).selectExpr(
            "id", "CAST(id * 1000 AS DECIMAL(38,0)) AS big"
        )

    res = compare(
        spark,
        SF,
        "fake_decimal_query",
        decimals,
        "SELECT range AS id, CAST(range * 1000 AS DECIMAL(38,0)) AS big FROM range(3)",
    )
    assert not res["ok"]
    assert [d["column"] for d in res["dtype_drift"]] == ["big"]
    assert res["dtype_drift"][0]["spark_kind"] == "O"
    assert res["dtype_drift"][0]["oracle_kind"] == "f"


def test_harness_rejects_hugeint_landing_mismatch(spark):
    """The r4 class stays covered by the general guard: DuckDB
    sum(BIGINT) is HUGEINT → float64 while Spark's pure-int column
    stays int64."""

    def ints(sp, sf_dir):
        return sp.range(3).selectExpr("id", "id * 2 AS doubled")

    res = compare(
        spark,
        SF,
        "fake_hugeint_query",
        ints,
        "SELECT range AS id, sum(range * 2) OVER (PARTITION BY range)"
        " AS doubled FROM range(3)",
    )
    assert not res["ok"]
    assert [d["column"] for d in res["dtype_drift"]] == ["doubled"]


def test_harness_allows_array_columns_rows_only(spark):
    """Rows-only entries skip the driver's canon, so shapes are free."""

    def arrays(sp, sf_dir):
        return sp.range(3).selectExpr("id", "array(id) AS codes")

    res = compare(spark, SF, "fake_rows_only", arrays, None)
    assert res["ok"] and res["status"] == "rows_only"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
