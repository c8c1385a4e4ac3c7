"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (and the LLM-data-pipeline extensions) with DuckDB oracles.
Implementations live in ``modware_loader_spark``.
"""

from __future__ import annotations

import os
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


# The external driver records the FIRST 50 queries. Round-13 rotation
# (freshness invariant computed by
# tests/test_round4_invariants.py::test_driver_registry_contract from
# the CORRECTNESS_r*.json artifacts; with 131 registered names the
# adaptive window is ceil(131/50) = 3 recorded rounds). The head holds:
# (a) all THIRTY-EIGHT names whose last green row is r10 — they hit the
# window bound at r13, so every one is a MANDATORY head slot (q1,
# m14, e8/e9/e10/e10b, u4/u6, closure_transitive_paths, the three
# events_* rows, t6 and 25 LLM-data-pipeline operators);
# (b) TWELVE of the 43 r11-green names, pre-staggered because the r11
# cohort hits the window bound at r14: the first twelve in registry
# order (e1_e2, e3, e4, e12, e13, the four minhash/simhash/cluster/
# ngram dedup pair rows and the three cosine-similarity pair rows), so
# the remaining 31 fit r14's head alongside r14's own new/changed rows.
# The tail below = the other 31 r11 names, then the 50 r13-green names
# (registry order within each cohort), all in-window at r13.
# Everything deprioritized stays covered every round by
# tests/test_oracle_parity.py, which iterates the full dict.
_DEPRIORITIZED = [
    "similarity_brute_force_topk",
    "similarity_lsh_bucket_topk",
    "text_token_stats",
    "text_langid",
    "text_quality_score",
    "text_pii_scrub",
    "text_winnow_fingerprints",
    "similarity_ivfpq_topk",
    "similarity_pq_adc_topk",
    "similarity_pq_rerank_topk",
    "embed_random_projection",
    "embed_outlier_flags",
    "window_running_total",
    "sample_stratified_hash",
    "sample_frequency_cap",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "text_repetition_gopher",
    "text_gopher_quality_keep",
    "text_ngram_topk",
    "similarity_hamming_topk",
    "similarity_hamming_rerank_topk",
    "text_bm25_topk",
    "sample_dsir_weights",
    "dedup_image_dhash_pairs",
    "similarity_matryoshka_rerank_topk",
    "search_hybrid_rrf_topk",
    "dedup_substring_rewrite",
    "text_classifier_train",
    "pipeline_curation_v2",
    "pipeline_export_shards",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "m1_new_keys_anti_join",
    "m2_existing_keys_semi_join",
    "m3_scoped_prune_set",
    "m4_delete_with_join",
    "m5_key_resolution_joins",
    "m6_except_idempotent_insert",
    "m8_scd1_update_from_join",
    "m9_refresh_child_sets",
    "m10_grown_groups",
    "m11_window_dedup",
    "m12_distinct_insert",
    "m13_deterministic_id_generation",
    "e7_multi_join_isin_filter",
    "u2_normalize_id",
    "t1_interval_overlap_groups",
    "t2_t3_cutoff_and_regex_extract",
    "s11_blast_report_gff3",
    "s5_genbank_load_features",
    "s13_bibtex2chado_pub",
    "similarity_ann_banded_topk",
    "similarity_ivf_topk",
    "similarity_ivf_incremental_topk",
    "dedup_semantic_incremental",
    "similarity_index_drift",
    "dedup_semantic_keep",
    "dedup_semantic_keep_2l",
    "dedup_semantic_keep_capped",
    "sample_cluster_balanced",
    "graph_pagerank",
    "graph_pagerank_deep",
    "graph_pagerank_links",
    "graph_pagerank_dangling",
    "graph_pagerank_weighted",
    "graph_pagerank_weighted_dangling",
    "pipeline_curation_prior_gate",
    "m7_closure_refresh_delete",
    "multimodal_dhash_fingerprint",
    "pipeline_training_data_e2e",
    "text_lm_perplexity",
    "source_warc_html_text",
    "text_main_content",
    "source_warc_files",
    "source_warc_main_content",
    "sample_temperature",
    "text_bpe_train_merges",
    "text_bpe_encode",
    "pack_training_shards",
    "pipeline_crawl_e2e",
]


def _ordered(d: dict) -> dict:
    head = {k: v for k, v in d.items() if k not in _DEPRIORITIZED}
    tail = {k: d[k] for k in _DEPRIORITIZED if k in d}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered({k: _wrap(v) for k, v in QUERIES.items()})


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted → rows-only check)."""
    return _ordered(dict(ORACLES))
