"""Corpus-curation operators: Gopher document-quality rules, CCNet-style
line-level deduplication, and corpus n-gram frequency reports.

These complete the curation family around ``operators/text.py`` (which
holds the per-document scoring/fingerprinting primitives) with the
corpus-level verbs an LLM training-data pipeline runs before training:

- **Gopher quality rules** (Rae et al. 2021, "Scaling Language Models",
  appendix A1.1): word-count bounds, mean-word-length bounds, minimum
  alphabetic-word fraction, minimum distinct-stopword hits, boilerplate
  markers. Pure column expressions — a zero-shuffle map stage at any
  scale. (The *repetition* half of Gopher's filters lives in
  ``text.repetition_stats``; this is the quality half.)
- **Line-level dedup** (CCNet, Wenzek et al. 2020; RefinedWeb): drop
  every line that occurs verbatim in >= ``min_docs`` distinct documents
  (navigation chrome, cookie banners, boilerplate headers), keeping
  per-document line order. One shuffle on the md5 line key (uniform by
  construction) to count document frequency, one to reassemble — the
  same two-shuffle shape at 100 TB, with AQE free to pick the join.
- **n-gram top-k**: corpus-wide most-frequent word n-grams with total
  and document frequency — the report that drives stopword lists,
  contamination screens, and boilerplate discovery. explode → groupBy
  (uniform md5-free string keys, map-side partial aggregation) → one
  small ordered head.

Everything is built-in ``pyspark.sql.functions``; no Python UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.text import tokens

# Gopher's "must contain >= 2 of these" stopword list (Rae et al. 2021
# A1.1 — the eight common English words the rule is defined over).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_stats(text_col: Column) -> dict[str, Column]:
    """Per-document inputs to the Gopher quality rules, as columns.

    ``mean_word_len`` is computed as one double division at the end
    (exact integer sum of lengths / exact count) so an external oracle
    reproduces it bit-for-bit.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    lowered = F.lower(text_col)
    return {
        "n_words": n_words,
        "mean_word_len": F.round(sum_len.cast("double") / n_words, 6),
        "frac_alpha_words": F.round(n_alpha.cast("double") / n_words, 6),
        "stopword_hits": stop_hits,
        "has_lorem": lowered.contains("lorem ipsum").cast("int"),
        "has_brace": lowered.contains("{").cast("int"),
    }


def gopher_quality_keep(
    stats: dict[str, Column],
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """The Gopher keep decision over ``gopher_quality_stats`` columns.

    Thresholds default to the published values; they are parameters
    because every corpus re-tunes them.
    """
    return (
        stats["n_words"].between(min_words, max_words)
        & stats["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (stats["frac_alpha_words"] >= min_alpha_frac)
        & (stats["stopword_hits"] >= min_stopword_hits)
        & (stats["has_lorem"] == 0)
        & (stats["has_brace"] == 0)
    )


def reline_tokens(tokens_col: Column, words_per_line: int) -> Column:
    """``reline`` over an already-materialized token array — use this
    form when the tokens live in a projected column, so the split is not
    re-inlined (and re-evaluated) once per output line."""
    n_lines = F.ceil(F.size(tokens_col) / F.lit(words_per_line)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(
            F.slice(
                tokens_col, (i - F.lit(1)) * words_per_line + 1, words_per_line
            ),
            " ",
        ),
    )
    return F.array_join(lines, "\n")


def reline(text_col: Column, words_per_line: int) -> Column:
    """Deterministically re-wrap whitespace text into ``words_per_line``-
    word lines joined by ``\\n``.

    Line-level operators act on real newlines; corpora that arrive as
    single-line text (like the synthetic test tables) get a reproducible
    line structure from this pure column expression so the line-level
    machinery is exercised end to end. Prefer projecting ``tokens(...)``
    first and calling ``reline_tokens`` in hot paths.
    """
    return reline_tokens(tokens(text_col), words_per_line)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_delim: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Drop every line occurring in >= ``min_docs`` distinct documents.

    Returns one row per document: ``(id, n_lines, n_kept, n_dropped,
    cleaned_fp)`` where ``cleaned_fp`` is the md5 of the document with
    its duplicated lines removed (order of surviving lines preserved).
    Comparison happens on the fingerprint so the result stays narrow at
    any corpus size.

    Scale shape: lines explode map-side; document frequency is one
    groupBy on the md5 line hash (uniform key); the count joins back on
    the same hash (AQE may broadcast it when the distinct-line set is
    small); reassembly is one groupBy on the document id. A line that
    appears on *every* page of a crawl is a hot hash in the doc-frequency
    aggregation — two-phase partial aggregation (Spark's default here)
    absorbs it because counts combine associatively.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_delim)).alias(
            "__line_no", "__line"
        ),
    ).withColumn("__lh", F.md5(F.lower(F.trim(F.col("__line")))))
    doc_freq = lines.groupBy("__lh").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    flagged = lines.join(doc_freq, "__lh").withColumn(
        "__dup", (F.col("__df") >= min_docs).cast("int")
    )
    kept_struct = F.array_sort(
        F.collect_list(
            F.when(
                F.col("__dup") == 0,
                F.struct(F.col("__line_no"), F.col("__line")),
            )
        )
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(1 - F.col("__dup")).cast("long").alias("n_kept"),
        F.sum("__dup").cast("long").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(kept_struct, lambda s: s["__line"]), "\n"
            )
        ).alias("cleaned_fp"),
    )


def ngram_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams: ``(gram, total, doc_freq)``
    ordered by (total desc, gram asc) — fully deterministic.

    ``doc_freq`` piggybacks on the same shuffle (count_distinct over the
    exploded (gram, doc) pairs). The final global head is a TakeOrdered
    over per-partition heads — no single-partition sort of the full gram
    table.
    """
    # materialize the token array through a projection so the split runs
    # once per row — element-wise gram construction referencing the raw
    # split expression would re-inline (and re-evaluate) it per position
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = toked.select(F.col(id_col), F.explode(grams).alias("gram"))
    return (
        exploded.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.count_distinct(F.col(id_col)).alias("doc_freq"),
        )
        .orderBy(F.desc("total"), F.asc("gram"))
        .limit(k)
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_delim: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """The md5 hashes of lines occurring in >= ``min_docs`` distinct
    documents — the batch half of the batch-then-stream line-dedup
    pattern (CCNet runs this over a crawl snapshot; the stream then
    scrubs against the frozen list)."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), line_delim)).alias("__line"),
    ).select(id_col, F.md5(F.lower(F.trim(F.col("__line")))).alias("lh"))
    return (
        lines.groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
        .select("lh", "doc_freq")
    )


def scrub_lines(
    df: DataFrame,
    boilerplate_hashes: list[str],
    text_col: str = "text",
    line_delim: str = "\n",
) -> DataFrame:
    """Remove every line whose normalized md5 is in the boilerplate list,
    preserving the order of survivors. Stateless column expression —
    identical under Structured Streaming. The list is snapshot-sized
    (distinct boilerplate lines, not corpus lines); at the high end swap
    the literal array for the Bloom probe in ``operators.decontam``.
    """
    lit_set = F.array(*[F.lit(h) for h in boilerplate_hashes])
    kept = F.filter(
        F.split(F.col(text_col), line_delim),
        lambda ln: ~F.array_contains(lit_set, F.md5(F.lower(F.trim(ln)))),
    )
    return df.withColumn(text_col, F.array_join(kept, line_delim))


def wordlist_flags(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """Blocked-wordlist tagging (the C4/Dolma "badwords" stage): per-doc
    ``(id, n_tokens, n_hits, hit_ratio, flagged)`` against a literal,
    case-insensitively matched term set.

    Zero shuffle: the list inlines as an array literal and the count is
    one ``filter``/``size`` fold over the token array — the same
    stateless row-expression class as the Gopher rules, so it runs
    unchanged under Structured Streaming. Wordlists are snapshot-sized
    (hundreds of terms); a million-term list belongs in the
    ``linear_classifier_score`` broadcast-table shape instead.
    ``flagged = n_hits >= min_hits`` (C4 drops on any hit; raise
    ``min_hits`` or threshold on ``hit_ratio`` downstream for softer
    policies).
    """
    norm = sorted({t.strip().lower() for t in terms if t and t.strip()})
    if not norm:
        raise ValueError("wordlist_flags needs at least one term")
    lit_terms = F.array(*[F.lit(t) for t in norm])
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(lit_terms, F.lower(t)))
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_hits.alias("n_hits"),
        F.round(n_hits.cast("double") / n_tokens, 6).alias("hit_ratio"),
        (n_hits >= F.lit(int(min_hits))).cast("int").alias("flagged"),
    )


#: tracking parameters stripped by url_canonicalize — the common
#: analytics/click-id noise (utm_*, Facebook, Google, generic ref)
_TRACKING_PARAM = r"(utm_[A-Za-z0-9]+|fbclid|gclid|msclkid|ref)"


def url_canonicalize(url_col: Column) -> Column:
    """Canonical URL for exact-URL dedup: fragment stripped, tracking
    params removed, scheme+host lowercased, default ports (:80/:443)
    dropped, bare trailing slash trimmed. Path/query case and order are
    preserved (reordering params changes semantics on some sites).

    Pure column expressions over the Java-regex/RE2 shared subset (no
    lookarounds), so a DuckDB oracle applies the identical rewrites —
    same portability contract as the BPE pretokenizer. The crawl-dedup
    key this produces catches the ``?utm_source=`` near-duplicates that
    byte-identical URL matching misses.
    """
    u = F.regexp_replace(url_col, r"#.*", "")  # fragment
    u = F.regexp_replace(u, r"([?&])" + _TRACKING_PARAM + r"=[^&]*", "$1")
    u = F.regexp_replace(u, r"\?&+", "?")  # collapse dangling separators
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    hostport = F.when(
        scheme == "http", F.regexp_replace(hostport, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, r":443$", "")
    ).otherwise(hostport)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+", "")
    rest = F.when(rest == "/", F.lit("")).otherwise(rest)
    return F.when(
        scheme == "", u  # not a scheme://host URL: rewrites above only
    ).otherwise(F.concat(scheme, F.lit("://"), hostport, rest))


def url_host(url_col: Column) -> Column:
    """Normalized host of a URL: scheme/path stripped, lowercased,
    leading ``www.`` removed — the key CommonCrawl-style pipelines
    block/cap/sample on. Pure column expressions, zero shuffle."""
    host = F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    return F.regexp_replace(F.lower(host), r"^www\.", "")


def url_blocklist_flags(
    df: DataFrame,
    url_col: str,
    blocklist: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc blocklist verdict on the normalized host.

    Blocklist entries get the same normalization as ``url_host``
    (lowercase, leading ``www.`` stripped) so a ``WWW.Example.com``
    entry matches the lowercased host. The blocklist ships as a
    single-column frame and the verdict is a left join + null test, so
    at 100 TB the corpus side stays a map stage. ``F.broadcast`` is a
    HARD hint (it overrides ``autoBroadcastJoinThreshold`` — a
    millions-of-domains list would be force-broadcast into executor
    OOM), so the hint is gated on list size; past the gate the plain
    equi-join lets AQE pick broadcast vs shuffle from the real size.
    An empty blocklist short-circuits to blocked=0/keep=1.
    Returns (id, url_host, blocked, keep).
    """
    spark = df.sparkSession
    hosts = df.select(
        F.col(id_col), url_host(F.col(url_col)).alias("url_host")
    )
    norm = sorted(
        {
            re.sub(r"^www\.", "", d.strip().lower())
            for d in blocklist
            if d and d.strip()
        }
    )
    if not norm:
        return hosts.select(
            F.col(id_col),
            "url_host",
            F.lit(0).alias("blocked"),
            F.lit(1).alias("keep"),
        )
    bl = local_frame(
        spark,
        norm,
        T.StructType([T.StructField("url_host", T.StringType(), False)]),
    ).withColumn("__blocked", F.lit(1))
    if len(norm) <= 100_000:
        bl = F.broadcast(bl)
    return (
        hosts.join(bl, "url_host", "left")
        .select(
            F.col(id_col),
            "url_host",
            F.coalesce("__blocked", F.lit(0)).alias("blocked"),
            (F.coalesce("__blocked", F.lit(0)) == 0).cast("int").alias("keep"),
        )
    )
