"""Deterministic sampling / capping / quantile-threshold operators for
training-data pipelines.

A 100 TB corpus is never fed to training whole: pipelines stratify by
language/source, cap per-domain document counts (frequency capping, cf.
CCNet/RefinedWeb-style pipelines), and gate on per-stratum quality
quantiles. The primitives here are all pure built-in-function map/agg
stages so Catalyst keeps them inside whole-stage codegen:

- ``hash_uniform`` — a *deterministic* uniform(0,1) draw per key via
  md5, reproducible across engines (the DuckDB oracle computes the
  identical value with ``CAST('0x'||substr(md5(..),1,8) AS UBIGINT)``),
  unlike ``rand(seed)`` whose value depends on partitioning. At 100 TB
  determinism-per-row matters: re-runs, retries and speculative tasks
  all agree on which rows are in-sample, so the sample is stable under
  failure/recompute (Spark's ``sample()`` is only stable per-partition-
  layout).
- ``stratified_sample`` — per-stratum Bernoulli sampling with exact,
  engine-independent membership; no shuffle at all (filter on a map-side
  expression), versus ``df.stat.sampleBy`` which is partition-layout
  dependent.
- ``frequency_cap`` — keep at most ``cap`` rows per group, choosing a
  deterministic hash-ordered subset: one shuffle on the group key, then
  a bounded per-group ``row_number``. Skewed groups (one domain with
  10^8 docs) are the known hazard; the window only needs the top-``cap``
  rows so AQE skew-split plus the rank filter keeps per-task state
  bounded — for extreme skew, pre-filter with ``hash_uniform() <
  cap*fudge/approx_count`` before the window (documented, not default).
- ``group_quantile_thresholds`` — exact per-group interpolated
  percentile (matches DuckDB ``quantile_cont``); the scale path swaps in
  ``approx_percentile`` (t-digest, single pass, no sort) — same API,
  documented accuracy trade.

Reference scope: the reference has no sampling surface (its E12 'sample'
is LIMIT-style, ``lib/Modware/Export/Command/chado2fasta.pm`` sample
option); these operators are the extension scope mandated by the
north-star baseline (BASELINE.json §extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.text import tokens

# 2^32: the md5 prefix is 8 hex digits = 32 bits, so dividing by 2^32
# maps it onto [0, 1).
_HASH_SPACE = float(1 << 32)


def hash_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic uniform(0,1) per key: first 32 bits of
    ``md5(salt || key)`` scaled to [0,1).

    Engine-portable: DuckDB computes the same double with
    ``CAST(('0x' || substr(md5(salt || key), 1, 8)) AS UBIGINT) /
    4294967296.0``. Spark's ``conv(...,16,10)`` returns a decimal string;
    cast through long before the divide.
    """
    prefix = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    return F.conv(prefix, 16, 10).cast("long") / F.lit(_HASH_SPACE)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum Bernoulli sample with deterministic membership.

    ``fractions`` maps stratum value -> keep probability; strata not
    listed fall back to ``default_fraction``. Pure filter — no shuffle,
    no sort, survives any partitioning. The per-row draw is keyed on
    ``key_col`` so adding/removing *other* rows never flips a row's
    membership (critical for incremental 100 TB reprocessing).
    """
    frac = F.lit(float(default_fraction))
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(p))).otherwise(frac)
    return df.filter(hash_uniform(F.col(key_col), salt=salt) < frac)


def frequency_cap(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep a deterministic hash-ordered subset of at most ``cap`` rows
    per group (domain/source frequency capping).

    One hash shuffle on ``group_cols``; rank by the uniform draw (ties
    broken by key, so total order is deterministic) and keep rank <=
    cap. The rank filter is pushed into the window operator
    (``WindowGroupLimit`` in Spark 3.5+/4.x physical plans), so each
    task retains only ``cap`` rows per group instead of buffering the
    group.
    """
    u = hash_uniform(F.col(key_col), salt=salt)
    w = Window.partitionBy(*group_cols).orderBy(u.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def group_quantile_thresholds(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    prob: float,
    approx: bool = False,
) -> DataFrame:
    """Per-group quantile of ``value_col`` → one row per group with a
    ``threshold`` column.

    ``approx=False`` uses exact interpolated ``percentile`` — identical
    semantics to DuckDB ``quantile_cont`` (the oracle path). At 100 TB
    pass ``approx=True``: ``approx_percentile`` is a single-pass
    mergeable sketch (no per-group sort buffer), the standard trade for
    a quality-gate threshold that tolerates ±ε rank error.
    """
    agg = (
        F.percentile_approx(F.col(value_col), prob)
        if approx
        else F.percentile(F.col(value_col), prob)
    )
    return df.groupBy(*group_cols).agg(agg.alias("threshold"))


def quantile_gate(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    prob: float,
    approx: bool = False,
) -> DataFrame:
    """Keep rows at-or-above their group's ``prob`` quantile.

    The thresholds frame is group-cardinality-sized (languages, domains
    — thousands at most), so the re-attach join is explicitly
    broadcast: the big side never shuffles.
    """
    thresholds = group_quantile_thresholds(df, group_cols, value_col, prob, approx=approx)
    return df.join(F.broadcast(thresholds), on=group_cols, how="inner").filter(
        F.col(value_col) >= F.col("threshold")
    )


def mixture_rates(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    budget: int | None = None,
) -> DataFrame:
    """Per-source keep rates that rebalance the corpus to a target
    mixture: ``(source, n_rows, rate)``.

    ``weights`` are target proportions (need not sum to 1 — they are
    normalized). ``budget`` is the desired total sampled size; omitted,
    it defaults to the **max feasible** total without upsampling —
    ``min_s(n_s / w_s)`` — i.e. the largest corpus in which the scarcest
    source can still meet its share. ``rate_s = min(1, w_s * budget /
    n_s)``; sources absent from ``weights`` get rate 0.

    One aggregation over the corpus; everything after operates on the
    source-cardinality frame (dozens-to-thousands of rows — the same
    dim-sized driver arithmetic class as header/max-id fetches).
    """
    total_w = float(sum(weights.values()))
    norm = {s: w / total_w for s, w in weights.items()}
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if budget is None:
        feas = [counts[s] / w for s, w in norm.items() if w > 0 and s in counts]
        budget = int(min(feas)) if feas else 0
    # NULL-source rows are a real corpus condition (missing lang/source
    # tags): they sort last and get rate 0 rather than crashing the
    # None-vs-str comparison; rebalance's join then drops them, which is
    # the documented "absent from weights" behavior.
    rows = [
        (s, int(n), min(1.0, norm.get(s, 0.0) * budget / n) if n else 0.0)
        for s, n in sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    ]
    return local_frame(
        df.sparkSession,
        rows or [("", 0, 0.0)],
        f"{source_col} string, n_rows long, rate double",
    )


def rebalance_mixture(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    budget: int | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Downsample each source to hit a target mixture, deterministically.

    Rates come from ``mixture_rates``; membership is the engine-portable
    ``hash_uniform`` draw keyed on ``key_col``, so re-runs, retries and
    incremental reprocessing keep identical row sets (expected realized
    mixture = target, binomial jitter only). The rates frame broadcasts;
    the corpus side is a pure map-stage filter — zero shuffle.
    """
    rates = mixture_rates(df, source_col, weights, budget=budget).select(
        source_col, "rate"
    )
    return (
        df.join(F.broadcast(rates), source_col, "left")
        .filter(hash_uniform(F.col(key_col), salt=salt) < F.coalesce("rate", F.lit(0.0)))
        .drop("rate")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    group_cols: list[str] | None = None,
    salt: str = "wrs",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: keep ``n`` rows (per group,
    or globally) with inclusion probability proportional to
    ``weight_col`` — Efraimidis & Spirakis (2006) A-ES reservoir keys.

    Each row scores ``ln(u) / w`` with ``u`` the deterministic
    ``hash_uniform`` draw shifted into (0, 1]; the top ``n`` scores win
    (equivalent to the classical ``u^(1/w)`` key, monotone in log
    space). Because ``u`` is md5-derived, the sample is identical across
    engines, re-runs, retries and repartitionings — the same
    determinism contract as ``stratified_sample``, which matters when a
    100 TB sampling job is recomputed after a failure.

    Shapes at scale: grouped → one hash shuffle on ``group_cols`` and a
    rank window whose filter pushes into WindowGroupLimit (per-task
    state bounded by ``n``); global → ``orderBy().limit(n)`` =
    TakeOrderedAndProject over per-partition heads, no global sort, no
    single-partition exchange. Rows with NULL or non-positive weight are
    excluded (standard A-ES domain). The score is rounded to 6dp with a
    ``key_col`` tie-break so rank order is engine-portable (``ln`` may
    differ by 1 ulp between libms — same convention as the cosine
    operators); emitted as ``wrs_score`` for oracle comparison.
    """
    w = F.col(weight_col).cast("double")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(_HASH_SPACE)
    # + 0.0 normalizes IEEE negative zero: a just-under-zero score rounds
    # to -0.0 in engines that keep the sign through round() (DuckDB) but
    # to 0.0 in Spark — the canonical hash would split on the repr
    scored = df.filter(w.isNotNull() & (w > 0)).withColumn(
        "wrs_score", F.round(F.log(u) / w, 6) + F.lit(0.0)
    )
    if group_cols:
        rank_w = Window.partitionBy(*group_cols).orderBy(
            F.col("wrs_score").desc(), F.col(key_col).asc()
        )
        return (
            scored.withColumn("__rk", F.row_number().over(rank_w))
            .filter(F.col("__rk") <= n)
            .drop("__rk")
        )
    return scored.orderBy(F.col("wrs_score").desc(), F.col(key_col).asc()).limit(n)


def dsir_log_weights(
    df: DataFrame,
    target_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by the log-likelihood ratio of its tokens under a *target* unigram
    model vs the *raw corpus* unigram model, both add-1 smoothed over the
    shared corpus vocabulary.

    ``weight(d) = sum_{token occurrences w in d} ln(p_target(w) / p_raw(w))``

    Documents whose vocabulary looks like the target slice score > 0;
    importance resampling then keeps rows with probability proportional
    to ``exp(weight)`` — here we emit the weights plus the sign gate, the
    resample itself composes with ``hash_uniform``.

    Cross-engine determinism: each per-token log-ratio is rounded to
    integer *micro-nats* (``round(lr * 1e6)``) before the per-document
    sum, so the aggregate is exact integer arithmetic — order-free, no
    float-accumulation drift between engines, and stable under any
    partitioning. At 100 TB the plan is two token-count aggregates
    (corpus + target slice, one uniform shuffle each), a broadcast of
    the (vocabulary-sized, i.e. tiny) log-ratio table back onto the
    exploded tokens, and one groupBy on ``id_col`` — no skew hazard
    because token-hash keys are uniform.

    Returns ``(doc_id, n_tokens, weight_micros, keep)``.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        target_filter.cast("int").alias("__is_target"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum("__is_target").alias("c_tgt"),
    )
    # groupBy(lit(0)), not a global agg: hashes instead of funneling
    # through an Exchange SinglePartition (repo-wide plan guard)
    totals = (
        counts.groupBy(F.lit(0).alias("__g"))
        .agg(
            F.sum("c_all").alias("tot_all"),
            F.sum("c_tgt").alias("tot_tgt"),
            F.count(F.lit(1)).alias("vocab"),
        )
        .drop("__g")
    )
    ratio = (
        counts.join(F.broadcast(totals))
        .withColumn(
            "__lr",
            F.log(
                (F.col("c_tgt") + F.lit(1.0))
                / (F.col("tot_tgt") + F.col("vocab"))
            )
            - F.log(
                (F.col("c_all") + F.lit(1.0))
                / (F.col("tot_all") + F.col("vocab"))
            ),
        )
        .select(
            "tok",
            F.round(F.col("__lr") * F.lit(1e6), 0).cast("long").alias("lr_micros"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micros").alias("weight_micros"),
        )
        .withColumn("keep", (F.col("weight_micros") > 0).cast("int"))
    )


def temperature_rates(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.6,
) -> DataFrame:
    """Multinomial temperature-sampling keep rates: ``(source, n_rows,
    rate)`` with per-source sampling share proportional to
    ``n_rows^alpha`` (the XLM-R / mT5 / Llama mixture recipe — alpha < 1
    upweights small sources relative to proportional sampling).

    ``budget = floor(budget_frac * total_rows)`` rows are targeted;
    ``rate_s = min(1, budget * (n_s^alpha / sum n^alpha) / n_s)`` —
    scarce sources saturate at 1 (no upsampling; the realized total then
    lands slightly under budget, the standard convention).

    Fully relational — unlike ``mixture_rates`` there is no driver
    collect: one aggregation to source cardinality, a 1-row broadcast
    totals attach (the DSIR/LM-stats shape), and the corpus never
    shuffles. ``alpha = 0.5`` is computed with ``sqrt`` (IEEE
    correctly-rounded, hence engine-portable bit-for-bit); other alphas
    go through ``pow``, whose last-ulp behavior is libm-specific — fine
    operationally, but pin 0.5 where an external oracle must agree.
    """
    counts = df.groupBy(F.col(source_col).alias(source_col)).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = (
        F.sqrt(F.col("n_rows").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_rows").cast("double"), F.lit(float(alpha)))
    )
    # Quantize per-source weights to integer micros BEFORE summing: a
    # float sum over sources would be accumulation-order-dependent
    # (different last-ulp per engine/partitioning); integer sums are
    # order-free — the repo-wide micro-units discipline (DSIR, LM).
    weighted = counts.select(
        source_col,
        "n_rows",
        F.round(w * F.lit(1e6)).cast("long").alias("w_micros"),
    )
    # groupBy(lit(0)), not a global agg: hashes instead of funneling
    # through an Exchange SinglePartition (repo-wide plan guard)
    totals = (
        weighted.groupBy(F.lit(0).alias("__g"))
        .agg(
            F.sum("n_rows").alias("total_rows"),
            F.sum("w_micros").alias("total_w_micros"),
        )
        .drop("__g")
    )
    return weighted.join(F.broadcast(totals)).select(
        source_col,
        "n_rows",
        F.least(
            F.lit(1.0),
            F.floor(F.lit(float(budget_frac)) * F.col("total_rows"))
            * (F.col("w_micros") / F.col("total_w_micros"))
            / F.col("n_rows"),
        ).alias("rate"),
    )


def temperature_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.6,
    salt: str = "temp",
) -> DataFrame:
    """Per-row temperature-sampling verdicts: the input plus
    ``(n_source, rate_micros, keep)``.

    Membership is the deterministic ``hash_uniform`` draw on
    ``key_col`` — identical under repartitioning, retries and engines.
    The rates frame (source cardinality) broadcasts; the corpus side is
    a zero-shuffle map filter. Emitting the keep FLAG (not just kept
    rows) lets downstream audit realized vs target mixture; filter on
    ``keep = 1`` for the sampled corpus.
    """
    rates = temperature_rates(
        df, source_col, alpha=alpha, budget_frac=budget_frac
    )
    # NULL-source rows never match the equi-join (NULL keys don't
    # join): coalesce the verdict columns so they audit as (0, 0, drop)
    # — the oracle's CASE and the streaming gate's unknown-source
    # behavior — instead of emitting NULLs that poison sum(keep) audits.
    return df.join(F.broadcast(rates), source_col, "left").select(
        *[F.col(c) for c in df.columns],
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_source"),
        F.coalesce(F.round(F.col("rate") * F.lit(1e6)), F.lit(0))
        .cast("long")
        .alias("rate_micros"),
        (hash_uniform(F.col(key_col), salt=salt) < F.col("rate"))
        .cast("int")
        .alias("keep"),
    ).withColumn("keep", F.coalesce(F.col("keep"), F.lit(0)))


def frequency_cap_flags(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """``frequency_cap`` with VERDICTS instead of a filtered subset: the
    input plus ``(pos_in_group, keep)`` where ``keep = pos <= cap`` on
    the deterministic hash-ordered rank. Same one-shuffle shape; emit
    flags when downstream wants to audit what was capped away (the same
    keep-flag convention as ``temperature_sample``)."""
    u = hash_uniform(F.col(key_col), salt=salt)
    w = Window.partitionBy(*group_cols).orderBy(u.asc(), F.col(key_col).asc())
    return df.select(
        *[F.col(c) for c in df.columns],
        F.row_number().over(w).alias("pos_in_group"),
    ).withColumn("keep", (F.col("pos_in_group") <= cap).cast("int"))
