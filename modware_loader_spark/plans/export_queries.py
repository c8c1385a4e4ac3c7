"""Export-side (E), upsert (U) and transform (T) operators from SURVEY.md
§2.4-2.6, mapped onto the synthetic tables with DuckDB oracles.

Same determinism rules as ``driver_queries``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.functions import normalize_id
from modware_loader_spark.operators.asof import asof_join
from modware_loader_spark.operators.closure import transitive_closure
from modware_loader_spark.operators.intervals import overlap_groups, sessionize
from modware_loader_spark.plans.blast2gff3 import blast_report_to_gff3_rows
from modware_loader_spark.plans.registry import query
from modware_loader_spark.session import load_tables

__all__: list[str] = []


@query(
    "e1_e2_filter_computed_column",
    """
    SELECT doc_id, lang, source, length(text) AS txt_len
    FROM documents WHERE lang = 'en'
    """,
)
def e1_e2_filter_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 organism-filter + E2 computed column (``lib/Modware/EventHandler/
    FeatureReader/Chado.pm:50-67`` adds ``LENGTH(residues)``): selection plus
    a derived length column, pushed to the scan."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "source", F.length("text").alias("txt_len"))
    )


@query(
    "e3_disjunctive_filter",
    """
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE p_name LIKE '%green%' OR p_brand = 'Brand#33' OR p_type LIKE 'SMALL%'
    """,
)
def e3_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 disjunctive reference-by-id filter (``FeatureReader/Chado.pm:26-48``:
    ``name = ? OR uniquename = ? OR dbxref.accession = ?``)."""
    t = load_tables(spark, sf_dir)
    return t["part"].filter(
        F.col("p_name").like("%green%")
        | (F.col("p_brand") == "Brand#33")
        | F.col("p_type").like("SMALL%")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@query(
    "e4_not_in_subquery",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
        AND l.l_linestatus = 'F' AND l.l_returnflag = 'R')
    """,
)
def e4_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 NOT-IN-subquery (nuclear vs mito split,
    ``FeatureReader/Chado.pm:70-110``) as a left-anti join."""
    t = load_tables(spark, sf_dir)
    mito = (
        t["lineitem"]
        .filter(
            (F.col("l_quantity") >= 49)
            & (F.col("l_linestatus") == "F")
            & (F.col("l_returnflag") == "R")
        )
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return t["supplier"].join(mito, ["s_suppkey"], "left_anti").select("s_suppkey", "s_name")


@query(
    "e7_multi_join_isin_filter",
    """
    SELECT n.n_name, o.o_orderpriority, count(*) AS n_orders,
           round(sum(CAST(o.o_totalprice AS DECIMAL(38,6))), 2)::DOUBLE AS total
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
      AND o.o_orderstatus <> 'F'
    GROUP BY n.n_name, o.o_orderpriority
    """,
)
def e7_gaf_base_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 GAF-export base query shape (``lib/Modware/Export/GAF.pm:193-224``):
    fact ⋈ two dims, IN-list filter on 3 aspects, obsolete-filter toggle."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
            & (F.col("o_orderstatus") != "F")
        )
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "e8_pivot_props",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click_count,
           count(*) FILTER (WHERE event_type = 'view') AS view_count,
           count(*) FILTER (WHERE event_type = 'error') AS error_count,
           round(coalesce(sum(CAST(value AS DECIMAL(38,6))) FILTER (WHERE event_type = 'purchase'), 0), 2)::DOUBLE AS purchase_value,
           round(coalesce(sum(CAST(value AS DECIMAL(38,6))) FILTER (WHERE event_type = 'signup'), 0), 2)::DOUBLE AS signup_value
    FROM events GROUP BY user_id
    """,
)
def e8_pivot_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 pivot-the-prop-table-once (replaces the reference's per-row
    correlated qualifier/with/date lookups, ``lib/Modware/Export/
    GAF.pm:239-253``): conditional aggregation by prop type — one shuffle
    instead of N+1 point queries."""
    t = load_tables(spark, sf_dir)
    dec_val = F.col("value").cast("decimal(38,6)")

    def cnt(et):
        return F.count(F.when(F.col("event_type") == et, F.lit(1)))

    def sval(et):
        return (
            F.round(F.coalesce(F.sum(F.when(F.col("event_type") == et, dec_val)), F.lit(0)), 2)
            .cast("double")
        )

    return t["events"].groupBy("user_id").agg(
        cnt("click").alias("click_count"),
        cnt("view").alias("view_count"),
        cnt("error").alias("error_count"),
        sval("purchase").alias("purchase_value"),
        sval("signup").alias("signup_value"),
    )


@query(
    "e9_collect_to_delimited_string",
    """
    SELECT n.n_name,
           string_agg(c.c_name, '|' ORDER BY c.c_name) AS members,
           count(*) AS n_members
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal < 0
    GROUP BY n.n_name
    """,
)
def e9_collect_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 collect-to-pipe-delimited aggregation (``lib/Modware/Export/
    GAF.pm:352-386`` get_synonyms/get_xrefs): sorted collect_list +
    concat_ws — the distributed replacement for per-row string joins."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_acctbal") < 0)
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_list("c_name"))).alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@query(
    "e10_ordered_assembly",
    """
    SELECT l_orderkey,
           string_agg(l_returnflag || l_linestatus || CAST(CAST(l_quantity AS INT) AS VARCHAR),
                      '' ORDER BY l_linenumber, l_returnflag || l_linestatus || CAST(CAST(l_quantity AS INT) AS VARCHAR)) AS assembled,
           count(*) AS n_segments
    FROM lineitem GROUP BY l_orderkey
    """,
)
def e10_ordered_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 spliced-sequence assembly (``lib/Modware/Export/Command/
    chado2fasta.pm:432-465``: exons ordered by fmin, substrings concatenated):
    ordered collect of per-segment strings, concatenated in segment order —
    ``sort_array(collect_list(struct(order_key, segment)))`` then join."""
    t = load_tables(spark, sf_dir)
    seg = F.concat(
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("l_quantity").cast("int").cast("string"),
    )
    pair = F.struct(F.col("l_linenumber").alias("pos"), seg.alias("seg"))
    return (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(pair)), lambda s: s.seg), ""
            ).alias("assembled"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


@query(
    "e10b_splice_revcomp",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1
                THEN reverse(translate(substr(text, 1, 40) || substr(text, 81, 40), 'aeiou', 'AEIOU'))
                ELSE substr(text, 1, 40) || substr(text, 81, 40)
           END AS spliced
    FROM documents
    """,
)
def e10b_splice_revcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 string half: substring extraction + conditional
    reverse-'complement' (``chado2fasta.pm:380-414``; complement done as
    translate(reverse(s))) — all JVM built-ins, no UDF."""
    t = load_tables(spark, sf_dir)
    spliced = F.concat(
        F.substring(F.col("text"), 1, 40), F.substring(F.col("text"), 81, 40)
    )
    rc = F.reverse(F.translate(spliced, "aeiou", "AEIOU"))
    return t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, rc).otherwise(spliced).alias("spliced"),
    )


@query(
    "e12_sample_limit",
    """
    SELECT o_orderkey, o_custkey, round(CAST(o_totalprice AS DECIMAL(38,6)), 2)::DOUBLE AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def e12_sample_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 sample/limit (``lib/Modware/Export/GAF.pm:21-27`` sample_run
    rows=>2000): deterministic top-N — TakeOrderedAndProject, no full sort."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice").cast("decimal(38,6)"), 2)
            .cast("double")
            .alias("o_totalprice"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "e13_skip_list_filter",
    """
    SELECT s_suppkey, s_name, s_nationkey FROM supplier
    WHERE s_suppkey NOT IN (3, 7, 11, 42, 77)
    """,
)
def e13_skip_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 skip-list filter (``lib/Modware/Export/GAF.pm:137-153``): drop
    rows whose key is in a user-supplied skip file — anti-join against the
    (broadcast) skip set."""
    t = load_tables(spark, sf_dir)
    skip = local_frame(spark, [3, 7, 11, 42, 77], "s_suppkey long")
    return (
        t["supplier"]
        .join(F.broadcast(skip), ["s_suppkey"], "left_anti")
        .select("s_suppkey", "s_name", "s_nationkey")
    )


# --- U — upsert / point-lookup operators (§2.4) -----------------------------


@query(
    "u2_normalize_id",
    """
    WITH ids AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'DOC:' || CAST(doc_id AS VARCHAR)
                  ELSE CAST(doc_id AS VARCHAR) END AS raw_id
      FROM documents)
    SELECT doc_id, raw_id,
           CASE WHEN instr(raw_id, ':') > 0 THEN split_part(raw_id, ':', 1)
                ELSE 'internal' END AS db,
           CASE WHEN instr(raw_id, ':') > 0 THEN split_part(raw_id, ':', 2)
                ELSE raw_id END AS accession
    FROM ids
    """,
)
def u2_normalize_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 normalize_id (``lib/Modware/Loader/Role/WithChadoHelper.pm:131-155``):
    split ``DB:ACC`` prefixed ids, defaulting bare ids to db 'internal'."""
    t = load_tables(spark, sf_dir)
    raw = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("DOC:"), F.col("doc_id").cast("string"))
    ).otherwise(F.col("doc_id").cast("string"))
    df = t["documents"].select("doc_id", raw.alias("raw_id"))
    db, acc = normalize_id(F.col("raw_id"))
    return df.select("doc_id", "raw_id", db.alias("db"), acc.alias("accession"))


@query(
    "u4_next_rank",
    """
    SELECT l_orderkey, max(l_linenumber) + 1 AS next_rank
    FROM lineitem GROUP BY l_orderkey
    """,
)
def u4_next_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 get_rank (``lib/Modware/Loader/GAF.pm:64-84``): next rank =
    max(rank)+1 per natural key — groupBy.max, not a per-row ORDER BY DESC
    LIMIT 1 query like the reference."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg((F.max("l_linenumber") + 1).alias("next_rank"))
    )


@query(
    "u6_fk_resolution_validity",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, s.s_name
    FROM lineitem l
    LEFT JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size >= 25
    LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_quantity >= 49 AND p.p_name IS NOT NULL AND s.s_name IS NOT NULL
    """,
)
def u6_fk_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 GAF foreign-key resolution + validity filter
    (``lib/Modware/Loader/GAF/Manager.pm:88-92``, ``GAF/Row.pm:71-83``):
    broadcast lookups, then drop rows with unresolved ids (the reference's
    ``is_valid`` check → dropna on resolved columns)."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_size") >= 25).select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    supp = t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    return (
        t["lineitem"]
        .filter(F.col("l_quantity") >= 49)
        .join(F.broadcast(part), ["l_partkey"], "left")
        .join(F.broadcast(supp), ["l_suppkey"], "left")
        .dropna(subset=["p_name", "s_name"])
        .select("l_orderkey", "l_linenumber", "p_name", "s_name")
    )


# --- T — transform operators (§2.6) -----------------------------------------


@query(
    "t1_interval_overlap_groups",
    """
    WITH iv AS (
      SELECT user_id,
             floor(epoch(ts))::BIGINT AS start_s,
             floor(epoch(ts))::BIGINT + 600 AS end_s
      FROM events WHERE event_type IN ('click', 'view')
    ), flagged AS (
      SELECT user_id, start_s, end_s,
             CASE WHEN max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, end_s
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR start_s > max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, end_s
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), grouped AS (
      SELECT user_id, start_s, end_s,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY start_s, end_s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS interval_group
      FROM flagged
    )
    SELECT user_id, interval_group,
           min(start_s) AS grp_start, max(end_s) AS grp_end, count(*) AS n_intervals
    FROM grouped GROUP BY user_id, interval_group
    """,
)
def t1_interval_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 non-overlapping interval grouping (``lib/Modware/Transform/Command/
    blast2chadogff3.pm:246-300`` ``non_overlapping``): the reference's O(n²)
    per-hit loop becomes running-max + cumulative-sum windows — one shuffle
    on the partition key, linear per group."""
    t = load_tables(spark, sf_dir)
    iv = (
        t["events"]
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            F.col("ts").cast("timestamp").cast("long").alias("start_s"),
            (F.col("ts").cast("timestamp").cast("long") + 600).alias("end_s"),
        )
    )
    grouped = overlap_groups(iv, ["user_id"], "start_s", "end_s")
    return grouped.groupBy("user_id", "interval_group").agg(
        F.min("start_s").alias("grp_start"),
        F.max("end_s").alias("grp_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "t2_t3_cutoff_and_regex_extract",
    """
    SELECT regexp_extract(props, '"k": ([0-9]+)', 1) AS k_id,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(38,6))), 2)::DOUBLE AS total_value
    FROM events
    WHERE value <= 5.0 AND event_type = 'error'
    GROUP BY 1
    """,
)
def t2_t3_cutoff_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 evalue-cutoff filter (``blast2chadogff3.pm:100-105``) + T3
    id-parser regexp projection (``blast2chadogff3.pm:106-129``):
    threshold filter then regexp_extract id."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter((F.col("value") <= 5.0) & (F.col("event_type") == "error"))
        .groupBy(F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("k_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


# --- closure + streaming-shaped (batch) -------------------------------------


@query(
    "closure_transitive_paths",
    """
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS subject, p_partkey // 2 AS object
      FROM part WHERE p_partkey >= 1
    ), paths (subject, object, pathdistance) AS (
      SELECT subject, object, 1 FROM edges
      UNION
      SELECT p.subject, e.object, p.pathdistance + 1
      FROM paths p JOIN edges e ON p.object = e.subject
    )
    SELECT subject, object, min(pathdistance) AS pathdistance
    FROM paths GROUP BY subject, object
    """,
)
def closure_transitive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native transitive closure (reference delegates to owltools and only
    ingests, ``oboclosure2chado.pm:11-17``; we compute it): iterative
    self-join, pathdistance = min hops. Edge set: the binary-tree parent
    chain partkey → partkey//2 (depth ~log2(n))."""
    t = load_tables(spark, sf_dir)
    edges = (
        t["part"]
        .filter(F.col("p_partkey") >= 1)
        .select(
            F.col("p_partkey").alias("subject"),
            (F.col("p_partkey") / 2).cast("long").alias("object"),
        )
    )
    # transitive_closure already emits one min-distance row per
    # (subject, object) — doubling re-aggregates every round, BFS finds
    # min-hop first — so no re-aggregation shuffle here.
    return transitive_closure(edges)


@query(
    "events_sessionization",
    """
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
                    OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(38,6))), 2)::DOUBLE AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) — the batch twin of the
    Structured Streaming session-window pipeline in
    ``modware_loader_spark.streaming``; same lag+cumsum windows as T1."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "ts", "value", "event_id")
    sess = sessionize(ev, ["user_id"], "ts", 1800, tie_break=["event_id"])
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("session_value"),
    )


@query(
    "events_tumbling_window",
    """
    SELECT date_trunc('hour', ts)::VARCHAR AS window_start, event_type,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(38,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — batch twin of the streaming
    windowed agg (watermark + window in ``modware_loader_spark.streaming``)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "events_asof_last_purchase",
    """
    WITH l AS (SELECT event_id, user_id, ts
               FROM events WHERE event_type IN ('view', 'click')),
         r AS (SELECT user_id, ts, value FROM (
                 SELECT user_id, ts, value, event_id,
                        row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id DESC) AS rn
                 FROM events WHERE event_type = 'purchase') WHERE rn = 1)
    SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts, r.value AS asof_value
    FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every view/click picks up the user's most recent
    preceding purchase. Spark lacks ASOF JOIN (the oracle uses DuckDB's
    native one); ``operators/asof.py`` realizes it as a union-scan with a
    running ``last(payload, ignorenulls)`` carry — one shuffle of
    |left|+|right| rows, no inequality-join pair explosion."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    left = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    return asof_join(
        left, right, on="user_id", ts_col="ts",
        payload_cols=["value"], tie_col="event_id", how="inner",
    ).select(
        "event_id", "user_id", "ts",
        F.col("asof_ts"), F.col("asof_value"),
    )


# --- S11 raw BLAST report → GFF3 (golden-fixture oracle) ---------------------

_BLAST_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "blastn_report.txt",
)


@query(
    "s11_blast_report_gff3",
    """
    SELECT * FROM (VALUES
      ('chr1', 'nucleotide_match', 101::BIGINT, 160::BIGINT, 1e-20::DOUBLE, 1,
       'chr1.q1.1.0', NULL, NULL, NULL),
      ('chr1', 'nucleotide_match', 871::BIGINT, 900::BIGINT, 1e-20::DOUBLE, -1,
       'chr1.q1.-1.0', NULL, NULL, NULL),
      ('chr2', 'nucleotide_match', 501::BIGINT, 530::BIGINT, 1e-05::DOUBLE, 1,
       'chr2.q1.1.0', NULL, NULL, NULL),
      ('chr2', 'nucleotide_match', 2001::BIGINT, 2040::BIGINT, 1e-110::DOUBLE, 1,
       'chr2.q2.1.0', NULL, NULL, NULL),
      ('chr1', 'match_part', 101::BIGINT, 160::BIGINT, 1e-20::DOUBLE, 1,
       'chr1.q1.1.0.1', 'chr1.q1.1.0', 'q1 1 60 +', '60M'),
      ('chr1', 'match_part', 871::BIGINT, 900::BIGINT, 2e-05::DOUBLE, -1,
       'chr1.q1.-1.0.1', 'chr1.q1.-1.0', 'q1 61 89 +', '10M 2I 14M 1D 4M'),
      ('chr2', 'match_part', 501::BIGINT, 530::BIGINT, 1e-05::DOUBLE, 1,
       'chr2.q1.1.0.1', 'chr2.q1.1.0', 'q1 1 30 +', '30M'),
      ('chr2', 'match_part', 2001::BIGINT, 2040::BIGINT, 1e-110::DOUBLE, 1,
       'chr2.q2.1.0.1', 'chr2.q2.1.0', 'q2 1 40 +', '40M')
    ) AS t(seq_id, type, start, "end", score, strand, id, parent, target, gap)
    """,
)
def s11_blast_report_gff3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 end-to-end: raw BLAST text report (fixture) → parsed HSPs →
    match/match_part GFF3 rows, flattened to scalar columns. The oracle is
    the golden expected output of the fixture — the same golden-fixture
    style as the reference's own tests (``t/lib/ChadoGFF3.pm:120-162``).
    Parser: ``sources/blast.py`` (Bio::SearchIO text parity,
    ``blast2chadogff3.pm:191-233``)."""
    rows = blast_report_to_gff3_rows(spark, _BLAST_FIXTURE)
    attr = lambda k: F.element_at(F.col("attributes"), k).getItem(0)  # noqa: E731
    return rows.select(
        "seq_id",
        "type",
        "start",
        "end",
        "score",
        "strand",
        attr("ID").alias("id"),
        attr("Parent").alias("parent"),
        attr("Target").alias("target"),
        attr("Gap").alias("gap"),
    )


# --- T6 blast2gbrowsegff3 + Tblastn filters (golden-fixture oracle) ----------

_GBROWSE_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "tblastn_gbrowse.txt",
)


@query(
    "t6_blast_gbrowse_gff3",
    """
    SELECT * FROM (VALUES
      ('s1', 'protein_match', 100::BIGINT, 190::BIGINT, '1e-20', 1,
       's1-p1-p1.0', NULL, NULL, NULL),
      ('s1', 'match_part', 100::BIGINT, 190::BIGINT, '1e-20', 1,
       NULL, 's1-p1-p1.0', 'p1 1 30', '30M')
    ) AS t(seq_id, type, start, "end", score, strand, id, parent, target, gap)
    """,
)
def t6_blast_gbrowse_gff3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 end-to-end: tblastn report fixture → frame-context split +
    orf_only codon filters + max-intron split + containment merge →
    GBrowse GFF3 rows (``plans/blast2gbrowse.py``; reference
    ``blast2gbrowsegff3.pm`` + ``Role/Tblastn/Filter.pm``). Golden VALUES
    oracle: of five HSPs only the frame-p1 chunk 0 group survives (stop
    codon kills p2, M/X start kills m1, the 4.8 kb intron chunk starts at
    query 40, and the contained HSP is merged away)."""
    from modware_loader_spark.plans.blast2gbrowse import blast_to_gbrowse_rows
    from modware_loader_spark.sources.blast import read_blast_report

    hsps = read_blast_report(spark, _GBROWSE_FIXTURE)
    rows = blast_to_gbrowse_rows(
        hsps, "tblastn", orf_only=True, max_intron_length=4000, merge_contained=True
    )
    attr = lambda k: F.element_at(F.col("attributes"), k).getItem(0)  # noqa: E731
    return rows.select(
        "seq_id",
        "type",
        "start",
        "end",
        "score",
        "strand",
        attr("ID").alias("id"),
        attr("Parent").alias("parent"),
        attr("Target").alias("target"),
        attr("Gap").alias("gap"),
    )


# --- S5 GenBank → Chado load (golden-fixture oracle) -------------------------

_GENBANK_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "mini.genbank",
)


@query(
    "s5_genbank_load_features",
    """
    SELECT * FROM (VALUES
      ('SCF0001', 'SCF0001', 'supercontig', 360::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::INT),
      ('DDB_G0001', 'abcA', 'gene', 270::BIGINT, 10::BIGINT, 280::BIGINT, 1),
      ('DDB_G0001.t00', 'DDB_G0001.t00', 'mRNA', 220::BIGINT, 10::BIGINT, 280::BIGINT, 1),
      ('DDB_G0002', 'DDB_G0002', 'gene', 40::BIGINT, 300::BIGINT, 340::BIGINT, -1),
      ('DDB_G0002.t00', 'DDB_G0002.t00', 'tRNA', 40::BIGINT, 300::BIGINT, 340::BIGINT, -1),
      ('DDB_G0001.t00.e0', NULL, 'exon', NULL::BIGINT, 10::BIGINT, 100::BIGINT, 1),
      ('DDB_G0001.t00.e1', NULL, 'exon', NULL::BIGINT, 150::BIGINT, 280::BIGINT, 1),
      ('DDB_G0001.p00', 'DDB_G0001.p00', 'polypeptide', 50::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::INT),
      ('DDB_G0002.t00.e0', NULL, 'exon', NULL::BIGINT, 300::BIGINT, 340::BIGINT, -1)
    ) AS t(uniquename, fname, ftype, seqlen, fmin, fmax, strand)
    """,
)
def s5_genbank_load_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 end-to-end: GenBank fixture → gb2chado load → feature table with
    resolved type names + interbase featureloc. Golden VALUES oracle, same
    style as s11 (reference: ``lib/Modware/Loader/Genome/GenBank.pm:
    384-780``; pipeline: ``plans/genbank_load.py``)."""
    from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

    ldr = GenBankChadoLoader(spark)
    ldr.load_file(_GENBANK_FIXTURE)
    types = ldr.chado.term_ids("sequence").select(
        F.col("cvterm_id").alias("type_id"), F.col("name").alias("ftype")
    )
    locs = ldr.tables["featureloc"].select("feature_id", "fmin", "fmax", "strand")
    return (
        ldr.tables["feature"]
        .join(F.broadcast(types), "type_id", "left")
        .join(locs, "feature_id", "left")
        .select(
            "uniquename",
            F.col("name").alias("fname"),
            "ftype",
            "seqlen",
            "fmin",
            "fmax",
            "strand",
        )
    )


# --- S13 bibtex2chado pub load (golden-fixture oracle) -----------------------

_BIBTEX_FIXTURE = "/root/reference/t/test_data/literature/test.bib"


@query(
    "s13_bibtex2chado_pub",
    """
    SELECT * FROM (VALUES
      ('20443635', 'journal_article', 'PubMed', '2010', '9', '3495-510', 4::BIGINT, 5::BIGINT),
      ('20504816', 'journal_article', 'PubMed', '2010', '6', '800-2', 3::BIGINT, 5::BIGINT),
      ('3187', 'unpublished', 'ENDNOTE', '2002', '43', '1477-1480', 7::BIGINT, 0::BIGINT),
      ('11067', 'unpublished', 'CURATOR', NULL, NULL, NULL, 1::BIGINT, 1::BIGINT),
      ('0000004', 'unpublished', 'GO_REF', '2000', NULL, NULL, 1::BIGINT, 1::BIGINT)
    ) AS t(uniquename, pub_type, pubplace, pyear, volume, pages, n_authors, n_props)
    """,
)
def s13_bibtex2chado_pub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 end-to-end: BibTeX fixture → pub/pubauthor/pubprop load →
    per-pub summary. Golden VALUES oracle mirroring the reference's own
    golden counts (``t/loader/bibtex2chado.t``: 5 pubs / 16 authors /
    12 pubprops; pipeline ``plans/bibtex_load.py``)."""
    from modware_loader_spark.plans.bibtex_load import BibTeXLoader

    loader = BibTeXLoader(spark)
    loader.load_file(_BIBTEX_FIXTURE)
    t = loader.tables
    types = F.broadcast(
        loader.chado.term_ids("pub_type").select(
            F.col("cvterm_id").alias("type_id"), F.col("name").alias("pub_type")
        )
    )
    n_auth = t["pubauthor"].groupBy("pub_id").agg(F.count(F.lit(1)).alias("n_authors"))
    n_prop = t["pubprop"].groupBy("pub_id").agg(F.count(F.lit(1)).alias("n_props"))
    return (
        t["pub"]
        .join(types, "type_id")
        .join(n_auth, "pub_id", "left")
        .join(n_prop, "pub_id", "left")
        .select(
            "uniquename",
            "pub_type",
            "pubplace",
            "pyear",
            "volume",
            "pages",
            F.coalesce("n_authors", F.lit(0)).alias("n_authors"),
            F.coalesce("n_props", F.lit(0)).alias("n_props"),
        )
    )
