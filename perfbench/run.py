"""Benchmark of the Chado commands and the curation query registry.

    python3 perfbench/run.py --workload {chado_genome,curation} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process starts one Spark session on
``local[<cpus available>]`` with the program's own defaults, sets up the
workload from the seed, checks the program's outputs, then repeats the
workload's timed iteration until ``--seconds`` have passed (at least once).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). Every file the run writes stays under
``perfbench/.work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1024 * 1024
DRIVER_MEM = "4g"  # the floor of the program's own sizing rule


def _rss_pids(spark) -> list[int]:
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def _reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _rss_mb(pids: list[int], field: str) -> float:
    """Sum of a /proc status field (VmRSS, VmHWM) over ``pids``."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    total += int(line.split()[1]) / 1024
    return total


def _retained_mb(spark) -> float:
    """JVM heap in use right after a full collection, plus the Python
    driver's RSS: the memory the session holds on to."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / MB + _rss_mb([os.getpid()], "VmRSS")


# The program's per-process memo dicts (module, attribute).
MEMOS = (
    ("modware_loader_spark.session", "_TABLE_CACHE"),
    ("modware_loader_spark.plans.pipeline_queries", "_INDEX_MEMO"),
    ("modware_loader_spark.plans.pipeline_queries", "_DF_MEMO"),
    ("modware_loader_spark.plans.curation_queries", "_TRAINED_LOGREG"),
    ("modware_loader_spark.plans.curation_queries", "_V2_RATES_MEMO"),
    ("modware_loader_spark.plans.curation_queries", "_WARC_FIXTURE_DIRS"),
    ("modware_loader_spark.plans.curation_queries", "_CRAWL_FIXTURE_DIRS"),
    ("modware_loader_spark.sinks.jsonl", "_TOKEN_MEMO"),
)


def _memo_dicts() -> list[dict]:
    """The memo dicts of the program modules loaded so far."""
    return [getattr(sys.modules[m], a) for m, a in MEMOS if m in sys.modules]


def _state(spark) -> dict:
    jsc = spark.sparkContext._jsc
    cached = sum(
        (info.memSize() + info.diskSize()) for info in jsc.sc().getRDDStorageInfo()
    )
    return {
        "memo_entries": sum(len(d) for d in _memo_dicts()),
        "persisted_rdds": jsc.getPersistentRDDs().size(),
        "cached_mb": cached / MB,
    }


def _release(spark) -> None:
    """Drop what a process exit would: cached tables, persisted and
    checkpointed blocks, and the program's memo dicts."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    for memo in _memo_dicts():
        memo.clear()


def _dir_size(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size / MB, files


def instrument(tracer) -> None:
    """Wrap the program's layer boundaries in spans. A function is
    replaced in every program module that holds it, since callers import
    it by name."""
    import modware_loader_spark.catalog as catalog
    import modware_loader_spark.cli  # noqa: F401  (its imported names are replaced too)
    import modware_loader_spark.plans.exports as exports
    import modware_loader_spark.plans.gff3_load as gff3_load
    import modware_loader_spark.sinks.gff3 as sink_gff3
    import modware_loader_spark.sources.gff3 as src_gff3

    def replace(owner, attr, span, after=None):
        orig = getattr(owner, attr)
        new = tracer.wrap(span, orig, after)
        if isinstance(owner, type):
            setattr(owner, attr, new)
            return
        for name, mod in list(sys.modules.items()):
            if name.startswith("modware_loader_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, new)

    def catalog_written(rec, args, _):
        self, tables = args[0], args[1]
        for name in tables:
            mb, files = _dir_size(os.path.join(self.root, name))
            rec["counts"]["written_mb"] = rec["counts"].get("written_mb", 0) + mb
            rec["counts"]["files_written"] = rec["counts"].get("files_written", 0) + files

    def sink_written(rec, args, _):
        rec["counts"]["written_mb"] = _dir_size(args[1])[0]

    replace(catalog.ChadoCatalog, "save", "catalog.save", catalog_written)
    replace(catalog.ChadoCatalog, "load", "catalog.restore")
    replace(catalog, "save_loader_state", "catalog.save")
    replace(catalog, "restore_loader_state", "catalog.restore")
    replace(src_gff3, "parse_gff3", "sources.parse")
    replace(gff3_load.ChadoGFF3Loader, "load_file", "plans.build")
    replace(exports, "chado2gff3_rows", "plans.build")
    replace(exports, "sequence_regions", "plans.build")
    replace(sink_gff3, "write_gff3", "sinks.write", sink_written)


def per_layer(raw: dict, queries: tuple, extra: dict) -> dict:
    """Map the tracer's raw sums onto the names BENCHMARK.json lists."""
    g = lambda k: raw.get(k, 0.0)  # noqa: E731
    out = {
        "cli.gff3tochado_s": g("cli.gff3tochado_s"),
        "cli.chado2gff3_s": g("cli.chado2gff3_s"),
        "catalog.save_s": g("catalog.save_s"),
        "catalog.restore_s": g("catalog.restore_s"),
        "catalog.written_mb": g("catalog.written_mb"),
        "catalog.files_written": g("catalog.files_written"),
        "sources.parse_s": g("sources.parse_s"),
        "sources.rows": g("sources.input_records"),
        "plans.build_s": g("plans.build_s"),
        "sinks.write_s": g("sinks.write_s"),
        "sinks.written_mb": g("sinks.written_mb"),
        "curation.fresh_pass_s": g("curation.fresh_pass_s"),
        "curation.repeat_pass_s": g("curation.repeat_pass_s"),
        "spark.jobs": g("spark.jobs"),
        "spark.stages": g("spark.stages"),
        "spark.job_wall_s": g("spark.job_wall_s"),
        "spark.driver_gap_s": g("spark.driver_gap_s"),
        "catalyst.analysis_s": g("catalyst.analysis_s"),
        "catalyst.optimization_s": g("catalyst.optimization_s"),
        "catalyst.planning_s": g("catalyst.planning_s"),
        "spark.tasks": g("stage.tasks"),
        "spark.failed_tasks": g("stage.failed_tasks"),
        "spark.executor_run_s": g("stage.executor_run_ms") / 1e3,
        "spark.executor_cpu_s": g("stage.executor_cpu_ns") / 1e9,
        "spark.gc_s": g("stage.gc_ms") / 1e3,
        "spark.shuffle_read_mb": g("stage.shuffle_read_b") / MB,
        "spark.shuffle_write_mb": g("stage.shuffle_write_b") / MB,
        "spark.spill_mb": (g("stage.mem_spill_b") + g("stage.disk_spill_b")) / MB,
        "spark.input_mb": g("stage.input_b") / MB,
        "spark.output_mb": g("stage.output_b") / MB,
        "python.data_sent_mb": g("python.python_sent_b") / MB,
        "python.data_received_mb": g("python.python_received_b") / MB,
    }
    out.update(extra)
    for name in queries:
        out[f"query.{name}_s"] = g(f"query.{name}_s")
    return out


@contextmanager
def session(name: str):
    """Scratch directory plus one Spark session; yields (spark, work,
    session start seconds). Everything is stopped and removed on exit."""
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    os.makedirs(work)
    # Spark, the JVM and Python scratch files stay inside the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The program sizes the driver heap as half the host's free memory
    # at start; a fixed size keeps heap ergonomics, and so times and
    # peak RSS, independent of what else the host runs.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    try:
        sys.path.insert(0, ROOT)
        from modware_loader_spark.session import get_spark

        t0 = time.perf_counter()
        cpus = len(os.sched_getaffinity(0))
        spark = get_spark("perfbench", master=f"local[{cpus}]")
        session_s = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        try:
            yield spark, work, session_s
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args) -> dict:
    import chado
    import curation
    from spans import Tracer

    with session(args.workload) as (spark, work, session_s):
        tracer = Tracer(spark, enabled=bool(args.trace))
        try:
            return _run_workload(args, work, spark, tracer, session_s, chado, curation)
        finally:
            tracer.close()


def _run_workload(args, work, spark, tracer, session_s, chado, curation) -> dict:
    checks = []
    if args.workload == "chado_genome":
        genome, gen_s = chado.setup(work, args.seed)
        setup_s = session_s + gen_s
        instrument(tracer)
    else:
        state = curation.setup(work, args.seed)
        t = time.perf_counter()
        checks += curation.verify(spark, state, state["warmup_snapshot"], "warmup")
        _release(spark)
        setup_s = session_s + state["snapshot_s"] + time.perf_counter() - t

    pids = _rss_pids(spark)
    if args.trace:
        _reset_peak_rss(pids)
    iters, roots, layer_extra = [], [], {}
    begin = time.perf_counter()
    i = 0
    while True:
        tracer.run_id = i
        memo_before = _state(spark)["memo_entries"]
        t = time.perf_counter()
        with tracer.span("run") as root:
            if args.workload == "chado_genome":
                got = chado.iteration(tracer, genome, work, i)
            else:
                got = {}
                curation.iteration(tracer, spark, state, work, i)
        got["run_s"] = time.perf_counter() - t
        st = _state(spark)
        st["memo_added"] = st["memo_entries"] - memo_before
        layer_extra = {f"state.{k}": v for k, v in st.items()}
        if args.workload == "chado_genome":
            checks += chado.verify(genome, got)
        if root is not None:
            roots.append(root["id"])
        iters.append(got)
        i += 1
        if time.perf_counter() - begin >= args.seconds:
            break
        _release(spark)
    if args.trace:
        layer_extra["state.peak_rss_mb"] = _rss_mb(pids, "VmHWM")
        layer_extra["state.retained_mb"] = _retained_mb(spark)
    if args.workload == "curation":
        checks += curation.verify(spark, state, state["last_snapshot"], "run")
    else:
        hashes = [g["export_sha256"] for g in iters]
        print(f"export sha256: {sorted(set(hashes))}", file=sys.stderr)
        checks += chado.verify_hashes(args.seed, hashes)

    failed = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED ' + detail}", file=sys.stderr)
    run_s = statistics.median(g["run_s"] for g in iters)
    if args.trace:
        raw = tracer.report(roots)
        print("spans: " + json.dumps(tracer.records()), file=sys.stderr)
        n = len(iters)
        raw = {k: v / n for k, v in raw.items()}
        layer_extra["trace.run_s"] = run_s
        values = per_layer(raw, curation.QUERIES, layer_extra)
    else:
        values = {"run_s": run_s, "setup_s": setup_s}
    metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
    return {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=("chado_genome", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
