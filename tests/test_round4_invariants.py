"""Seeded randomized invariants for the round-4 operators:

- tblastn intron chaining: within each produced hit group, consecutive
  HSPs (by hit start) never gap wider than max_intron_length; across a
  chunk boundary they always do;
- merge_contained: the kept set per group is exactly the strictly
  end-increasing prefix scan (no survivor is contained in an earlier
  survivor; every dropped HSP is contained in some survivor's span);
- assembly coordinate walk: element lengths are conserved (fmax - fmin ==
  declared length) and elements tile contiguously after the anchor;
- n-gram Jaccard prefix filter: lossless vs the exhaustive index on
  random token soup.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from modware_loader_spark.operators.dedup import ngram_jaccard_pairs
from modware_loader_spark.plans.blast2gbrowse import (
    merge_contained_hsps,
    tblastn_hit_groups,
)

SEED = 20260813


def _random_hsps(spark, n=400):
    rnd = random.Random(SEED)
    rows = []
    for i in range(n):
        start = rnd.randrange(1, 500_000)
        rows.append(
            (
                f"q{rnd.randrange(4)}",
                f"s{rnd.randrange(3)}",
                rnd.choice([1, -1]),
                rnd.choice([1, 2, 3]),
                start,
                start + rnd.randrange(30, 5000),
                rnd.randrange(1, 300),
                rnd.randrange(300, 600),
            )
        )
    return spark.createDataFrame(
        rows,
        "query_id string, hit_id string, strand int, hit_frame int, "
        "hit_start long, hit_end long, query_start long, query_end long",
    )


def test_intron_chaining_gap_invariant(spark):
    L = 2000
    hsps = _random_hsps(spark)
    grouped = tblastn_hit_groups(hsps, by_frame=True, max_intron_length=L)
    w = Window.partitionBy("query_id", "hit_name").orderBy("hit_start", "hit_end")
    gaps = grouped.withColumn("prev_end", F.lag("hit_end").over(w)).filter(
        F.col("prev_end").isNotNull()
    )
    # inside one chunked group: never a gap > L
    assert gaps.filter(F.col("hit_start") - F.col("prev_end") > L).count() == 0
    # chunk ordinals within a (query, hit, ctx) family are consecutive
    fam = F.regexp_replace("hit_name", r"\.\d+$", "")
    chunks = (
        grouped.withColumn("fam", fam)
        .withColumn("chunk", F.regexp_extract("hit_name", r"\.(\d+)$", 1).cast("int"))
        .groupBy("query_id", "fam")
        .agg(F.max("chunk").alias("mx"), F.count_distinct("chunk").alias("n"))
    )
    assert chunks.filter(F.col("mx") + 1 != F.col("n")).count() == 0


def test_merge_contained_invariants(spark):
    hsps = tblastn_hit_groups(_random_hsps(spark), by_frame=False)
    kept = merge_contained_hsps(hsps)
    w = Window.partitionBy("query_id", "hit_name").orderBy("hit_start", F.desc("hit_end"))
    # survivors are strictly end-increasing in start order → none contained
    bad = (
        kept.withColumn("prev_max", F.max("hit_end").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ))
        .filter(F.col("prev_max").isNotNull() & (F.col("hit_end") <= F.col("prev_max")))
        .count()
    )
    assert bad == 0
    # every dropped HSP is contained in some survivor's running span
    dropped = hsps.select("query_id", "hit_name", "hit_start", "hit_end").exceptAll(
        kept.select("query_id", "hit_name", "hit_start", "hit_end")
    )
    spans = kept.groupBy("query_id", "hit_name").agg(
        F.min("hit_start").alias("lo"), F.max("hit_end").alias("hi")
    )
    uncovered = (
        dropped.join(spans, ["query_id", "hit_name"])
        .filter((F.col("hit_start") < F.col("lo")) | (F.col("hit_end") > F.col("hi")))
        .count()
    )
    assert uncovered == 0


def test_assembly_walk_conservation(spark):
    from modware_loader_spark.plans.genbank_assembly import (
        assembly_to_gff3_rows,
    )
    from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

    rnd = random.Random(SEED)
    elements, pos = [], 0
    cursor = rnd.randrange(1, 100)
    first_start = None
    for i in range(40):
        if i % 2 == 0:
            length = rnd.randrange(50, 3000)
            start = cursor if i else rnd.randrange(1, 50)
            if first_start is None:
                first_start = start
            elements.append(("SCF", pos, f"CTG{i:04d}.1:{start}..{start + length - 1}"))
        else:
            elements.append(("SCF", pos, f"gap({rnd.randrange(10, 500)})"))
        pos += 1
    el = spark.createDataFrame(elements, "locus string, pos int, element string")
    ldr = GenBankChadoLoader(spark)
    features, _ = assembly_to_gff3_rows(ldr, el)
    rows = features.orderBy("line_idx").collect()
    # contiguity: each element starts where the previous ended (interbase)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.start - 1 == prev.end
    # anchor: first element starts at its declared start - 1
    assert rows[0].start - 1 == first_start - 1
    # length conservation for gaps and contigs alike
    import re

    for row, (_, _, elem) in zip(rows, elements):
        m = re.match(r"^gap\((?:unk)?(\d+)\)$", elem)
        declared = (
            int(m.group(1))
            if m
            else int(elem.split(":")[1].split("..")[1])
            - int(elem.split(":")[1].split("..")[0])
            + 1
        )
        assert row.end - (row.start - 1) == declared


def test_prefix_filter_lossless_random(spark):
    rnd = random.Random(SEED)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (f"d{i}", " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(20, 60))))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for t in (0.2, 0.5, 0.8):
        a = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        b = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=False
            ).collect()
        }
        assert a == b, f"threshold {t}"


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee (MOSS): two documents sharing a substring of
    length >= k + w - 1 (= 11 here) always share a fingerprint; and each
    doc's fingerprints are a subset of its k-gram hashes."""
    from modware_loader_spark.operators.text import winnow_fingerprints

    import hashlib
    import random

    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    common = "".join(rng.choice(alpha) for _ in range(20))
    docs = []
    for i in range(10):
        pre = "".join(rng.choice(alpha) for _ in range(rng.randrange(5, 40)))
        suf = "".join(rng.choice(alpha) for _ in range(rng.randrange(5, 40)))
        docs.append((i, pre + common + suf))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", winnow_fingerprints("text", k=8, w=4).alias("fps")
        ).collect()
    }
    # pairwise shared fingerprint through the planted common substring
    for i in range(10):
        for j in range(i + 1, 10):
            assert got[i] & got[j], (i, j)
    # fingerprints ⊆ gram hashes, and selection is non-empty
    for i, text in docs:
        grams = {
            hashlib.md5(text[p : p + 8].encode()).hexdigest()[:8]
            for p in range(len(text) - 7)
        }
        assert got[i] and got[i] <= grams


def test_repetition_stats_match_python_recompute(spark):
    """Gopher repetition metrics vs an independent plain-Python
    recompute on random token soup (including highly repetitive docs)."""
    from collections import Counter

    from modware_loader_spark.operators import text as TX

    rnd = random.Random(SEED)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(60):
        m = rnd.randrange(1, 40)
        words = [rnd.choice(vocab) for _ in range(m)]
        if i % 3 == 0:  # inject heavy repetition
            words = words[:3] * (m // 3 + 1)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = TX.repetition_stats(TX.tokens(F.col("text")))
    got = {r.doc_id: r for r in df.select("doc_id", *[c.alias(k) for k, c in stats.items()]).collect()}
    for doc_id, text in docs:
        toks = text.split(" ")
        m = len(toks)
        c1 = Counter(toks)
        assert got[doc_id].dup_word_frac == round(sum(v - 1 for v in c1.values()) / max(m, 1), 6)
        for n in (2, 3, 4):
            grams = Counter(
                " ".join(toks[i:i + n]) for i in range(m - n + 1)
            ) if m >= n else Counter()
            best = max(grams.values(), default=0)
            expect = round(min(1.0, best * n / max(m, 1)), 6)
            assert abs(got[doc_id][f"top{n}_gram_frac"] - expect) < 1e-9, (doc_id, n)
        for n in (5, 6, 7):
            grams = Counter(
                " ".join(toks[i:i + n]) for i in range(m - n + 1)
            ) if m >= n else Counter()
            dups = sum(v - 1 for v in grams.values())
            expect = round(dups / max(m - n + 1, 1), 6)
            assert abs(got[doc_id][f"dup{n}_gram_frac"] - expect) < 1e-9, (doc_id, n)


def test_semdedup_keep_rule_vs_bruteforce(spark):
    """SemDeDup keep set == brute-force recompute of 'no smaller-id
    near-neighbor in my cell' on random vectors."""
    import math

    from modware_loader_spark.operators.ivf import ivf_assign, ivf_train
    from modware_loader_spark.operators.semdedup import semantic_dedup

    rnd = random.Random(SEED)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    # clone a few vectors to force near-duplicates
    rows += [(100 + i, rows[i * 7][1][:]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    th = 0.9
    kept = sorted(r.vec_id for r in semantic_dedup(df, nlist=8, threshold=th).collect())
    cents = ivf_train(df, nlist=8)
    cells = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
    # float32 round trip like Spark's array<float> storage
    vecs = {r.vec_id: [float(f"{x:.9g}") for x in r.embedding]
            for r in df.select("vec_id", "embedding").collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))), 6)

    expect = []
    ids = sorted(vecs)
    for i in ids:
        if not any(
            j < i and cells[j] == cells[i] and cos(vecs[i], vecs[j]) >= th
            for j in ids
        ):
            expect.append(i)
    assert kept == expect and any(v >= 100 for v in ids if v not in kept)


def test_driver_registry_contract():
    """The driver records the FIRST 50 queries() entries — pin the
    contract the rotation depends on: every name unique, every query has
    a same-named oracle (or a deliberate rows-only omission), and the
    head window is exactly 50 (a rename or over-demotion silently
    shrinks driver coverage)."""
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    names = list(qs)
    assert len(names) == len(set(names))
    assert set(osql) <= set(qs)
    head = names[:50]
    assert len(head) == 50
    # rotation freshness goal, computed from the recorded CORRECTNESS
    # artifacts (self-maintaining — the r5/r6 versions of this test
    # hardcoded the tail set and went stale): every query that has
    # NEVER earned a driver-green row, or whose last green row is
    # ``window`` or more recorded rounds old, must sit in the head so
    # the next driver run re-verifies it on current code. The window is
    # adaptive: 50 head slots can re-verify at most 50 names per round,
    # so with N registered names the tightest achievable re-verify
    # cadence is ceil(N / 50) rounds (window 2 up to 100 names — the
    # r4-r8 behavior — and 3 from 101; the head always carries the
    # stalest cohort, which is the optimum any policy can reach).
    import glob
    import json
    import math
    import os
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    latest = 0
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        with open(path) as fh:
            data = json.load(fh)
        for k, v in data.items():
            ok = (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            )
            if ok:
                last_green[k] = max(last_green.get(k, 0), rnd)
    window = max(2, math.ceil(len(names) / 50))
    stale = {n for n in names if last_green.get(n, 0) <= latest - window}
    assert stale <= set(head), sorted(stale - set(head))
