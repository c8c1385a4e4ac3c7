"""Distributed BPE merge-rule training (Sennrich et al. 2016) in
relational algebra.

``text_bpe_token_count`` (operators/text.py) applies a GPT-2-style
PRE-tokenizer; this module trains the merge table itself — the other
half of a tokenizer pipeline, and a canonical "iterative algorithm on
Spark" shape:

- the corpus collapses to a WORD-FREQUENCY table once (one shuffle —
  ``word_symbols``); every subsequent step runs on that vocabulary-sized
  frame, never the corpus. This is exactly the classic BPE regime: the
  distributed part is word counting, the merge loop touches only
  ``(word, count)`` rows;
- each merge step is (a) one adjacent-pair aggregation over the symbol
  arrays (``arrays_zip`` of the array against its own tail — every
  adjacent position counts, overlapping included, the Sennrich
  ``get_stats`` convention), (b) a 1-row deterministic arg-max collect
  (count desc, then lexicographic pair — the same bounded-artifact class
  as IVF centroids / PQ codebooks), and (c) a pure-projection fold
  (``F.aggregate``) that rewrites each word's symbol string, merging
  non-overlapping occurrences LEFT-TO-RIGHT — the ``re.sub`` semantics
  of the reference implementation;
- the fold is engine-portable: DuckDB replays it with ``list_reduce``
  over the same space-joined symbol strings (the oracle of
  ``text_bpe_train_merges`` unrolls the full k-step chain).

At 100 TB: the word table is |vocab| rows (~10^8 worst case). Each merge
step of the relational loop shuffles pair keys (near-uniform) and costs
one JOB — measured ~0.2 s/merge regardless of corpus size (py4j +
scheduling is the floor; SCALE.md round-10, "BPE merge training at
depth"), so at production depth (~30k merges) the job overhead
dominates. The production path is ``train_merges_driver``: the
distributed corpus pass runs once, the vocabulary table collects to
the driver (bounded by |vocab| — the centroid/codebook
bounded-artifact class, one tier larger), and the classic in-memory
incremental-count loop trains at memory speed (~140x the relational
rate measured, output exact-equivalent by construction and by test). The relational loop
stays for cluster-sized vocabularies; ``checkpoint_every`` truncates its
fold-chain lineage (sweep knee: 25).

Reference scope: none (extension scope — tokenizer leg of the
text-analysis family in the north-star baseline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.text import tokens

END_OF_WORD = "</w>"


def _symbol_string(word_col: str = "word"):
    """Initial BPE symbol string for a word column: characters
    space-joined plus the terminal ``</w>`` marker — THE symbol-string
    convention; training (``word_symbols``) and encoding
    (``encode_token_counts``) must always share it."""
    return F.concat(
        F.expr(
            f"concat_ws(' ', transform(sequence(1, length({word_col})),"
            f" i -> substring({word_col}, i, 1)))"
        ),
        F.lit(" " + END_OF_WORD),
    )


def word_symbols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Collapse a corpus to its word-frequency table with initial BPE
    symbol strings: ``(word, n, s)`` where ``s`` is the word's
    characters space-joined plus a terminal ``</w>`` marker.

    One corpus-wide shuffle (the word groupBy); everything downstream
    of BPE training operates on this vocabulary-sized frame.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("s", _symbol_string("word"))
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol-pair frequencies over the word table:
    ``(left, right, cnt)`` with every adjacent position counted
    (overlapping occurrences included — the ``get_stats`` convention).
    One vocabulary-sized shuffle on near-uniform pair keys."""
    arr = F.split(F.col("s"), " ")
    pairs = words.select(
        F.col("n"),
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("l"),
                F.slice(arr, 2, F.size(arr) - 1).alias("r"),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("left"), F.col("p.r").alias("right")
    ).agg(F.sum("n").alias("cnt"))


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every word's symbol string with one merge rule applied
    to non-overlapping occurrences left-to-right (``re.sub`` order — a
    run like ``a a a`` under rule (a,a) becomes ``aa a``).

    Implemented as a pure-projection fold over the symbol array
    (``F.aggregate``): append each symbol unless the accumulator's tail
    symbol is exactly ``left`` and the incoming symbol is ``right``, in
    which case splice the merged symbol in. Zero shuffle; DuckDB
    replays the identical fold with ``list_reduce`` (the oracle path).
    """
    merged = left + right
    la = len(left)
    acc_ends_with_left = (
        f"(acc = '{_q(left)}' OR substring(acc, -{la + 1}, {la + 1})"
        f" = ' {_q(left)}')"
    )
    fold = (
        "aggregate(split(s, ' '), CAST('' AS STRING), (acc, x) -> "
        "CASE WHEN acc = '' THEN x "
        f"WHEN x = '{_q(right)}' AND {acc_ends_with_left} "
        f"THEN concat(substring(acc, 1, length(acc) - {la}), '{_q(merged)}') "
        "ELSE concat(acc, ' ', x) END)"
    )
    return words.withColumn("s", F.expr(fold))


def _q(s: str) -> str:
    """Escape a symbol for embedding in a SQL single-quoted literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def train_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    persist: bool = True,
    checkpoint_every: int = 0,
) -> list[tuple[int, str, str, int]]:
    """Train ``n_merges`` BPE merge rules; returns
    ``[(step, left, right, pair_count), ...]`` (1-based steps).

    Stops early if no adjacent pair remains (fully merged vocabulary).
    Ties break deterministically: highest count, then lexicographically
    smallest (left, right) — identical in the SQL oracle. The word
    table is persisted for the loop and unpersisted before returning;
    ``checkpoint_every > 0`` truncates the fold-chain lineage with
    ``localCheckpoint`` for deep merge runs.
    """
    words = word_symbols(df, text_col=text_col)
    base = words.persist() if persist else words
    try:
        cur = base
        steps: list[tuple[int, str, str, int]] = []
        for step in range(1, n_merges + 1):
            top = (
                pair_counts(cur)
                .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
            steps.append((step, left, right, cnt))
            cur = apply_merge(cur, left, right)
            if checkpoint_every and step % checkpoint_every == 0:
                cur = cur.localCheckpoint(eager=True)
        return steps
    finally:
        if persist:
            base.unpersist()


def train_merges_driver(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Production-DEPTH merge training: identical output to
    ``train_merges`` (property-tested), different execution shape.

    The round-10 depth measurement (SCALE.md round-10) showed the
    relational loop is driver/job-overhead-bound: ~0.2 s per merge
    REGARDLESS of corpus size (sf0.1 vs sf0.01 ratio 0.91 — py4j +
    job scheduling is the floor), i.e. ~100 minutes at a production
    30k-merge depth. The classic fix — what reference BPE trainers do —
    is to run the distributed corpus pass ONCE (``word_symbols``: the
    only stage that touches the corpus) and train on the collected
    vocabulary table in memory with incremental pair-count maintenance
    (Sennrich et al. 2016 reference algorithm + a lazy-deletion heap
    for the argmax). The collect is bounded by |vocab| — the same
    bounded-artifact class as IVF centroids / PQ codebooks, one tier
    larger (~10^8 × ~20 B worst case at 100 TB: a driver-sized table,
    collected once). Use ``train_merges`` (never collects words) when
    the vocabulary itself is cluster-sized; use this at real depth.

    Exact-equivalence notes: pair counts weight every adjacent
    position (overlapping included — ``get_stats``); the argmax
    tie-break is count desc then lexicographically smallest (left,
    right) (Python str comparison = UTF-8 code-point order = Spark's
    binary string ordering for these symbols); rewrites merge
    non-overlapping occurrences left-to-right; training stops when no
    adjacent pair remains.
    """
    import heapq
    from collections import defaultdict

    rows = word_symbols(df, text_col=text_col).select("n", "s").collect()
    words: list[tuple[list[str], int]] = [
        (r["s"].split(" "), int(r["n"])) for r in rows
    ]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    heap: list[tuple[int, tuple[str, str]]] = []

    def bump(pair: tuple[str, str], delta: int, wi: int | None = None) -> None:
        counts[pair] += delta
        if wi is not None:
            index[pair].add(wi)
        heapq.heappush(heap, (-counts[pair], pair))

    for wi, (syms, n) in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            bump((a, b), n, wi)

    steps: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        # lazy-deletion heap argmax: entries are (−count-at-push, pair);
        # an entry is valid only if it matches the CURRENT count.
        best = None
        while heap:
            negc, pair = heapq.heappop(heap)
            if counts.get(pair, 0) == -negc and -negc > 0:
                best = (pair, -negc)
                break
        if best is None:
            break
        (left, right), cnt = best
        steps.append((step, left, right, cnt))
        merged = left + right
        for wi in index.pop((left, right), set()):
            syms, n = words[wi]
            out: list[str] = []
            i = 0
            changed = False
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            if not changed:  # stale index entry
                continue
            for a, b in zip(syms, syms[1:]):
                bump((a, b), -n)
            words[wi] = (out, n)
            for a, b in zip(out, out[1:]):
                bump((a, b), n, wi)
        counts.pop((left, right), None)
    return steps


def merge_table(spark, steps: list[tuple[int, str, str, int]]) -> DataFrame:
    """The trained merge rules as a DataFrame: ``(step, left_sym,
    right_sym, merged_sym, pair_count)`` — a LocalRelation (the rules
    were already reduced to driver scale by construction)."""
    rows = [(s, l, r, l + r, c) for s, l, r, c in steps]
    return local_frame(
        spark,
        rows,
        "step int, left_sym string, right_sym string,"
        " merged_sym string, pair_count long",
    )


def apply_merges_to_words(words: DataFrame, merges) -> DataFrame:
    """Apply an ordered list of trained merge rules ``[(left, right),
    ...]`` to the word table — one zero-shuffle fold per rule, chained.
    Rule order matters (later rules consume earlier rules' symbols)."""
    cur = words
    for left, right in merges:
        cur = apply_merge(cur, left, right)
    return cur


def encode_token_counts(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE ENCODING under a trained merge table, reduced to per-document
    token counts: ``(id, n_words, n_sym0, n_tokens_bpe)`` — symbol count
    before merges (chars + </w> per word) and after.

    The fold runs once per DISTINCT word (the word table), not per
    occurrence — the same vocabulary-collapse trick as training: a
    corpus-wide groupBy to (doc, word) counts, the merge folds on the
    |vocab|-sized side, and a join-back keyed on the word. At 100 TB
    both shuffles carry near-uniform word keys; the merge table rides
    as plan literals (``train_merges`` already reduced it to driver
    scale). Token-budget planning for packing/chunking is the consumer:
    this is the real-tokenizer count the ``text_bpe_token_count``
    regex estimate approximates.
    """
    occurrences = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    vocab = occurrences.select("word").distinct().withColumn(
        "s", _symbol_string("word")
    )
    encoded = apply_merges_to_words(vocab, merges).select(
        "word",
        (F.length("word") + F.lit(1)).alias("n_sym0"),
        F.size(F.split(F.col("s"), " ")).alias("n_sym"),
    )
    per_doc = (
        occurrences.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sym0")).alias("n_sym0"),
            F.sum(F.col("n_occ") * F.col("n_sym")).alias("n_tokens_bpe"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_sym0", F.lit(0)).cast("long").alias("n_sym0"),
            F.coalesce("n_tokens_bpe", F.lit(0)).cast("long").alias("n_tokens_bpe"),
        )
    )
