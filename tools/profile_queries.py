"""Per-query optimization profiler (guide §1: measure first).

For each bench query, splits wall time into build (Python plan
construction incl. any driver-side jobs: counts, training memos,
persists), analysis (first schema touch), and execution (count(), the
bench's timed action), and summarizes the physical plan: Exchange
count, join strategies, Python-boundary nodes, scan count.

Usage: python tools/profile_queries.py [query ...] [--runs N] [--out F]
Writes JSON to --out (default /tmp/qprofile.json).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from modware_loader_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NODE_PATTERNS = {
    "exchanges": r"\bExchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
    "broadcast_exchanges": r"\bBroadcastExchange\b",
    "sort_merge_joins": r"\bSortMergeJoin\b",
    "broadcast_hash_joins": r"\bBroadcastHashJoin\b",
    "shuffled_hash_joins": r"\bShuffledHashJoin\b",
    "bnl_joins": r"\bBroadcastNestedLoopJoin\b",
    "python_eval": r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b",
    "scans": r"\bScan parquet\b|\bFileScan parquet\b",
    "windows": r"\bWindow\b",
    "sorts": r"\bSort \[",
    "aqe": r"\bAdaptiveSparkPlan\b",
}


def summarize_plan(txt: str) -> dict:
    return {k: len(re.findall(p, txt)) for k, p in _NODE_PATTERNS.items()}


def main() -> None:
    import __spark_entry__ as entrymod

    runs = 2
    out_path = "/tmp/qprofile.json"
    args: list[str] = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--runs":
            runs = int(argv[i + 1])
            i += 2
        elif a == "--out":
            out_path = argv[i + 1]
            i += 2
        else:
            args.append(a)
            i += 1
    spark = get_spark("modware-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = args or [n for n in __import__("bench").BENCH_QUERIES]
    # warm-ups (mirror bench.py)
    try:
        qs["q1_pricing_summary"](spark, SF_DIR).count()
        spark.range(spark.sparkContext.defaultParallelism).repartition(
            spark.sparkContext.defaultParallelism
        ).mapInPandas(lambda it: it, schema="id long").count()
    except Exception as exc:
        print(f"warmup failed: {exc}", file=sys.stderr)

    results: dict[str, dict] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        prof: dict = {}
        samples = []
        for r in range(runs):
            # one job group per run: the jobs of this run are exactly the
            # group's, whatever the status store has already evicted
            group = f"profile:{name}:{r}"
            sc.setJobGroup(group, f"{name} run {r}")
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, SF_DIR)
            except Exception as exc:
                prof["error"] = f"build: {type(exc).__name__}: {exc}"[:200]
                break
            t1 = time.perf_counter()
            df.schema  # force analysis
            t2 = time.perf_counter()
            try:
                df.count()
            except Exception as exc:
                prof["error"] = f"exec: {type(exc).__name__}: {exc}"[:200]
                break
            t3 = time.perf_counter()
            samples.append(
                {
                    "build": round(t1 - t0, 3),
                    "analyze": round(t2 - t1, 3),
                    "exec": round(t3 - t2, 3),
                    "total": round(t3 - t0, 3),
                }
            )
            if r == runs - 1:
                try:
                    plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                except Exception:
                    import contextlib
                    import io

                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    plan_txt = buf.getvalue()
                prof["plan"] = summarize_plan(plan_txt)
                prof["plan_chars"] = len(plan_txt)
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist()
            try:
                spark.catalog.clearCache()  # same sweep as bench.py
            except Exception:
                pass
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            prof.setdefault("jobs_per_run", []).append(
                len(tracker.getJobIdsForGroup(group))
            )
            sc._jsc.clearJobGroup()
        prof["samples"] = samples
        if samples:
            prof["warm"] = min(s["total"] for s in samples)
        results[name] = prof
        w = prof.get("warm")
        print(f"{name}: warm={w} {samples[-1] if samples else prof.get('error')}")
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
