"""``curation`` workload: registry queries over a corpus snapshot, first on
a snapshot the process has never read (fresh), then again on the same one
(repeat).

A snapshot is a new directory of hard links to ``corpus/`` (a copy where
linking fails). Its new path gives every table a new ``table_fingerprint``,
so no memo, table cache or file listing from an earlier pass carries over:
the fresh pass pays every memo build, the repeat pass is the interactive
re-query case that hits them. The timed action is a ``noop`` write, which
computes every output column. The seed shuffles the query order.

Set-up warms the process up by checking every query against its DuckDB
oracle on a throwaway snapshot (the fresh, memo-building path), then drops
what that left behind, so the timed fresh pass pays memo builds but not
JIT and code-generation warm-up. After the timed passes every query is
checked again on the run's snapshot (the repeat, memo-hit path). One query
per operator family is kept: those cheap enough that one process can warm
up, run both passes and verify them all within the benchmark's per-run
budget.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus")

QUERIES = (
    "q3_top_revenue_orders",
    "m11_window_dedup",
    "t1_interval_overlap_groups",
    "events_asof_last_purchase",
    "dedup_semantic_keep",
    "text_classifier_train",
    "multimodal_audio_mfcc",
    "sample_temperature",
)


def snapshot(dst: str) -> str:
    os.makedirs(dst)
    for name in sorted(os.listdir(CORPUS)):
        src = os.path.join(CORPUS, name)
        try:
            os.link(src, os.path.join(dst, name))
        except OSError:
            shutil.copy2(src, os.path.join(dst, name))
    return dst


def setup(work: str, seed: int, reps: int = 3) -> dict:
    """Registry and query order from the seed; ``reps`` snapshots (median
    creation time): the first is the warm-up's, the last the first timed
    iteration's."""
    import __spark_entry__ as entry

    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    times, snaps = [], []
    for r in range(reps):
        t = time.perf_counter()
        snaps.append(snapshot(os.path.join(work, f"snapshot0-{r}")))
        times.append(time.perf_counter() - t)
    return {"queries": entry.queries(), "oracles": entry.oracle_sql(), "order": order,
            "warmup_snapshot": snaps[0], "snapshot": snaps[-1],
            "snapshot_s": statistics.median(times)}


def verify(spark, state: dict, snap: str, label: str) -> list[tuple[str, bool, str]]:
    """Every query against its DuckDB oracle on ``snap``; checks are named
    ``oracle.<label>.<query>``."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tests"))
    import oracle_harness

    checks = []
    for name in state["order"]:
        fn, sql = state["queries"][name], state["oracles"].get(name)
        check = f"oracle.{label}.{name}"
        try:
            res = oracle_harness.compare(spark, snap, name, fn, sql)
            ok = bool(res["ok"]) and res.get("status") != "rows_only"
            checks.append((check, ok, "" if ok else str(res)[:300]))
        except Exception as exc:  # a failing query is a failed check, never a crash
            checks.append((check, False, f"{type(exc).__name__}: {exc}"[:300]))
    return checks


def iteration(tracer, spark, state: dict, work: str, i: int) -> None:
    """Fresh pass, then repeat pass, over one new snapshot."""
    snap = state["snapshot"] if i == 0 else snapshot(os.path.join(work, f"snapshot{i}"))
    state["last_snapshot"] = snap
    for label in ("fresh", "repeat"):
        with tracer.span(f"curation.{label}_pass"):
            for name in state["order"]:
                with tracer.span(f"query.{name}"):
                    with tracer.span("plans.build"):
                        df = state["queries"][name](spark, snap)
                    df.write.format("noop").mode("overwrite").save()
