"""Catalog persistence round-trip: save loader state to parquet, restore
into a fresh loader, continue with the incremental update load — golden
counts must match the in-memory run exactly."""

from __future__ import annotations

import os

import pytest

from modware_loader_spark.catalog import (
    ChadoCatalog,
    restore_loader_state,
    save_loader_state,
)
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader
from tests.test_gff3_load import EXPECT_CREATE, EXPECT_UPDATE, FIXTURES


def test_persisted_catalog_continues_incremental_load(spark, tmp_path):
    if not os.path.isdir(FIXTURES):
        pytest.skip("reference fixtures not available")
    loader = ChadoGFF3Loader(spark)
    assert loader.load_file(os.path.join(FIXTURES, "test1.gff3")) == EXPECT_CREATE
    catalog = ChadoCatalog(spark, str(tmp_path / "chado"))
    save_loader_state(loader, catalog)

    fresh = ChadoGFF3Loader(spark)
    restore_loader_state(fresh, catalog)
    assert fresh.chado.auto_counter == loader.chado.auto_counter  # persisted in _meta.json
    assert fresh.tables["feature"].count() == 53
    counts = fresh.load_file(os.path.join(FIXTURES, "test2.gff3"))
    assert counts == EXPECT_UPDATE
    # persisted feature table partitions prune on read (smoke: filter scan)
    feats = catalog.load(["feature"])["feature"]
    assert feats.filter("uniquename = 'Contig1'").count() == 1


def test_resave_of_restored_tables_keeps_data(spark, tmp_path):
    """Re-saving a restored (lazily self-reading) table must not destroy it.

    A plain overwrite deletes the parquet files the restored plan still
    scans; save() writes aside and swaps, so this round-trips losslessly
    (the obo2chado/oboclosure2chado save-after-restore path)."""
    catalog = ChadoCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(100).withColumnRenamed("id", "k")
    catalog.save({"t": df})
    restored = catalog.load(["t"])["t"]
    # no materialization between load and save: restored still scans the dir
    catalog.save({"t": restored})
    assert catalog.load(["t"])["t"].count() == 100
    # and a second generation with a derived plan over the same path
    derived = catalog.load(["t"])["t"].filter("k < 50")
    catalog.save({"t": derived})
    assert catalog.load(["t"])["t"].count() == 50


def test_bucketed_catalog_join_colocated(spark, tmp_path):
    """save_bucketed: both fact tables bucketed on the join key → the
    re-loaded join plan has no Exchange on that key (the 100 TB payoff:
    every future merge skips the fact-table shuffle)."""
    import pyspark.sql.functions as F

    from modware_loader_spark.catalog import ChadoCatalog

    cat = ChadoCatalog(spark, str(tmp_path / "bcat"))
    feature = spark.range(5000).select(
        F.col("id").alias("feature_id"), F.concat(F.lit("F"), F.col("id")).alias("uniquename")
    )
    floc = spark.range(5000).select(
        F.col("id").alias("feature_id"), (F.col("id") % 97).alias("fmin")
    )
    cat.save_bucketed(
        {"feature": feature, "featureloc": floc},
        {"feature": (["feature_id"], 8), "featureloc": (["feature_id"], 8)},
    )
    got = cat.load_bucketed(["feature", "featureloc"])
    joined = got["feature"].hint("merge").join(got["featureloc"], "feature_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert joined.count() == 5000
