"""Focused guards for the round-13 optimizations: BM25's broadcast-join
stats form, the host-graph harvest memo, the training-pipeline
single-scan persist, the VALUES LocalRelation helper, and the persist
contract (cache-manager entries must not grow across repeated
invocations of memoized queries)."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _sweep(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    spark.catalog.clearCache()


# --------------------------------------------------------------- BM25


def test_bm25_broadcast_stats_match_literal_form(spark):
    """The r13 broadcast-join stats attach must reproduce the r12
    literal-injection scores bit-for-bit: same (n_docs - df + 0.5) /
    (df + 0.5) long/double op order, same avgdl double. Restates the
    old collect+literal arithmetic in Python (exact for these integer
    counts) and compares rounded scores AND ranks."""
    from modware_loader_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "gene gene gene expression"),
            (2, "protein binding"),
            (3, "gene protein interaction network"),
            (4, "expression atlas of gene and protein"),
            (5, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    terms = ["gene", "protein"]
    out = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in bm25_topk(docs, terms, k=4).collect()
    }
    # driver-side restatement of the old literal path
    toks = {
        1: ["gene", "gene", "gene", "expression"],
        2: ["protein", "binding"],
        3: ["gene", "protein", "interaction", "network"],
        4: ["expression", "atlas", "of", "gene", "and", "protein"],
        5: ["unrelated", "words", "entirely"],
    }
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    dfs = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    k1, b = 1.2, 0.75
    exp = {}
    for d, words in toks.items():
        total = 0.0
        for t in terms:
            tf = words.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            total += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(words) / avgdl)
            )
        if total > 0.0:
            exp[d] = round(total, 6)
    assert set(out) == set(exp)
    for d, want in exp.items():
        assert out[d][0] == pytest.approx(want, abs=1e-9)


def test_bm25_no_eager_collect_before_head(spark):
    """The stats pass must no longer run eagerly at construction: the
    only SQL executions of one bm25_topk call are the head
    materialization (+ its broadcast builds) — i.e. building the frame
    triggers the SAME number of executions as before the call."""
    from modware_loader_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"gene doc {i} protein") for i in range(20)],
        "doc_id long, text string",
    )
    store = spark._jsparkSession.sharedState().statusStore()

    def n_execs() -> int:
        return store.executionsList().size()

    _sweep(spark)
    before = n_execs()
    bm25_topk(docs, ["gene"], k=3)
    after = n_execs()
    _sweep(spark)
    # the head materialization is one execution; the r12 form ran an
    # extra eager stats collect before it. Allow the head + its
    # broadcast subtrees, but the standalone stats execution must be gone.
    assert after - before <= 2


# ------------------------------------------------- host-graph memo


def test_host_graph_memo_matches_fresh_harvest(spark):
    """The fingerprint-keyed host-graph artifact must equal a fresh
    (un-memoized) harvest of the same documents table — edges, hosts,
    and the weighted teleport rows."""
    from modware_loader_spark.operators import graph as G
    from modware_loader_spark.operators.curation import url_host
    from modware_loader_spark.plans.pipeline_queries import (
        _host_graph_artifacts,
        _host_graph_dfs,
        _host_token_weights_df,
        _synth_link_pages,
    )
    from modware_loader_spark.session import load_tables
    from modware_loader_spark.sources import warc as W

    edges_rows, hosts = _host_graph_artifacts(spark, SF_SMOKE)
    t = load_tables(spark, SF_SMOKE)
    pages = _synth_link_pages(t["documents"])
    fresh_edges = sorted(
        (r["src"], r["dst"])
        for r in G.host_link_edges(W.extract_links(pages)).collect()
    )
    fresh_hosts = sorted(
        r["host"]
        for r in pages.select(url_host(F.col("url")).alias("host"))
        .distinct()
        .collect()
    )
    assert edges_rows == fresh_edges
    assert hosts == fresh_hosts
    edges_df, nodes_df, n = _host_graph_dfs(spark, SF_SMOKE)
    assert n == len(fresh_hosts)
    assert sorted((r["src"], r["dst"]) for r in edges_df.collect()) == fresh_edges
    assert sorted(r["host"] for r in nodes_df.collect()) == fresh_hosts
    w = _host_token_weights_df(spark, SF_SMOKE)
    assert dict(w.dtypes) == {"host": "string", "w_micros": "bigint"}
    assert sorted(r["host"] for r in w.collect()) == fresh_hosts


# --------------------------------- training pipeline single scan


def test_training_data_e2e_executes_two_corpus_scans(spark):
    """The gated corpus persist (r13): one parquet scan fills the cache,
    the %37 benchmark side scans once more — the r12 shape re-ran the
    blocklist+Gopher lineage from parquet per consumer (5 scans)."""
    import __spark_entry__ as e

    qs = e.queries()
    _sweep(spark)
    qs["pipeline_training_data_e2e"](spark, SF_SMOKE).count()  # warm memos
    _sweep(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    before = {lst.apply(i).executionId() for i in range(lst.size())}
    qs["pipeline_training_data_e2e"](spark, SF_SMOKE).count()
    lst = store.executionsList()
    scans = 0
    for i in range(lst.size()):
        ex = lst.apply(i)
        if ex.executionId() not in before:
            scans += len(
                re.findall(r"\(\d+\) Scan parquet", ex.physicalPlanDescription())
            )
    _sweep(spark)
    assert scans <= 2, f"expected <=2 executed corpus scans, saw {scans}"


def test_simhash_near_pairs_single_fingerprint_pass(spark):
    """The simhash chunk-table pin (r13): the O(tokens x bits)
    fingerprint fold over the corpus must EXECUTE once (the lazy
    localCheckpoint materialization), not once per self-join side —
    one executed parquet scan per invocation, and the pinned form's
    pairs must equal the oracle-green values."""
    import __spark_entry__ as e

    qs = e.queries()
    _sweep(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    before = {lst.apply(i).executionId() for i in range(lst.size())}
    rows = qs["dedup_simhash_near_pairs"](spark, SF_SMOKE).collect()
    assert rows, "expected near pairs on the smoke fixture"
    assert all(r["hamming"] <= 2 for r in rows)
    lst = store.executionsList()
    scans = 0
    for i in range(lst.size()):
        ex = lst.apply(i)
        if ex.executionId() not in before:
            scans += len(
                re.findall(r"\(\d+\) Scan parquet", ex.physicalPlanDescription())
            )
    _sweep(spark)
    assert scans <= 1, f"expected <=1 executed corpus scan, saw {scans}"


# ------------------------------------------------ persist contract


def test_repeated_invocations_do_not_grow_cache_entries(spark):
    """r13 persist contract (VERDICT item 7): invoking the memoized /
    internally-persisting queries repeatedly in ONE session without any
    sweep must not grow the cache-manager entry count monotonically —
    plan memos re-register the SAME plan (a no-op) and bm25 releases
    its exploded frame after the head materializes."""
    import __spark_entry__ as e

    qs = e.queries()
    cm = spark._jsparkSession.sharedState().cacheManager()
    names = ["dedup_semantic_keep", "graph_pagerank_links", "text_bm25_topk"]
    _sweep(spark)
    counts = []
    for _ in range(3):
        for n in names:
            qs[n](spark, SF_SMOKE).count()
        counts.append(cm.cachedData().size())
    _sweep(spark)
    assert counts[1] == counts[0] and counts[2] == counts[0], counts
