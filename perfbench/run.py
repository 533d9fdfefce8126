"""Engine benchmark entry point.

    python3 perfbench/run.py --workload search-zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the `engine/` package. One
invocation is one workload in one fresh process: a fresh JVM and Python
workers, so no run inherits another's caches or warmed code. Everything the
run writes (indexes, Spark scratch, the event log) goes under
`.perfbench/` in the checkout and is removed at exit, except a small result
file per (workload, seed, trace) that lets a traced run report its tracing
overhead against the untraced run of the same seed.

The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`, from the Spark event
log). The line before it is a report with sample counts, the cold first
pass, corpus stats and each check. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

MAX_CORES = 2


def start_spark(work: str, cores: int, traced: bool):
    # Python workers import `engine` from the checkout, and every scratch
    # path stays inside the checkout; both must be set before the JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM perf-data files in the system temp dir, launcher JVM included
    no_perf = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), no_perf]))
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {no_perf}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",  # no zstandard module to read zstd
            "spark.eventLog.rolling.enabled": "false",
        })
    from engine.session import get_spark

    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(out) -> dict:
    return {
        "setup_s": (med(out.setup_s), "s"),
        "query_p50_ms": (med(out.query_ms), "ms"),
        "batch_queries_per_s": (med(out.batch_qps), "1/s"),
        "cycle_s": (med(out.cycle_s), "s"),
        "index_bytes_per_text_byte": (out.index_bytes / out.text_bytes, "ratio"),
    }


def tail_percentile(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return {"n": n}
    q = int(100 * (n - 10) / n)
    return {"n": n, "percentile": q, "ms": statistics.quantiles(xs, n=100)[q - 1]}


def per_layer(rec, groups, out, cores: int) -> dict:
    from trace import GroupMetrics, per_call

    def calls(phase, layer):
        return per_call(groups, rec, phase, layer)

    def wall_ms(phase, layer):
        return med(rec.walls(phase, layer)) * 1000

    def mean(ms: list[GroupMetrics], attr: str) -> float:
        return sum(getattr(m, attr) for m in ms) / len(ms) if ms else 0.0

    search = calls("timed", "searcher.plan") + calls("timed", "searcher.exec")
    n_search = len(rec.walls("timed", "searcher.plan"))
    refine = calls("setup", "refine.refine_pages")
    build = calls("setup", "index.build_index")
    dedup = calls("setup", "dedup.minhash_lsh_candidates")
    ingest = calls("timed", "streaming.process_batch")
    compact = calls("timed", "streaming.compact")
    expunge = calls("timed", "mutate.expunge_deletes")
    timed = [groups.get(c.group, GroupMetrics()) for c in rec.calls if c.phase == "timed"]
    window_ms = sum(w.wall_s for w in rec.windows if w.phase == "timed") * 1000
    idx = out.info.get("index", {})
    dd = out.info.get("dedup", {})
    wp = out.info.get("write_path", {})
    e2e = end_to_end(out)
    m = {
        "searcher.plan_ms": (wall_ms("timed", "searcher.plan"), "ms"),
        "searcher.exec_ms": (wall_ms("timed", "searcher.exec"), "ms"),
        "searcher.jobs_per_query": (sum(g.jobs for g in search) / max(1, n_search), "count"),
        "searcher.tasks_per_query": (sum(g.tasks for g in search) / max(1, n_search), "count"),
        "searcher.shuffle_bytes_per_query": (
            sum(g.shuffle_write_bytes for g in search) / max(1, n_search), "bytes"),
        "refine.refine_pages.wall_ms": (wall_ms("setup", "refine.refine_pages"), "ms"),
        "refine.refine_pages.exec_cpu_ms": (mean(refine, "exec_cpu_ms"), "ms"),
        "refine.refine_pages.shuffle_bytes": (mean(refine, "shuffle_write_bytes"), "bytes"),
        "index.build_index.wall_ms": (wall_ms("setup", "index.build_index"), "ms"),
        "index.build_index.exec_run_ms": (mean(build, "exec_run_ms"), "ms"),
        "index.build_index.exec_cpu_ms": (mean(build, "exec_cpu_ms"), "ms"),
        "index.build_index.tasks": (mean(build, "tasks"), "count"),
        "index.build_index.shuffle_write_bytes": (mean(build, "shuffle_write_bytes"), "bytes"),
        "index.build_index.spill_bytes": (mean(build, "spill_bytes"), "bytes"),
        "io.postings_bytes": (idx.get("postings_bytes", 0), "bytes"),
        "io.term_dict_bytes": (idx.get("term_dict_bytes", 0), "bytes"),
        "io.doc_stats_bytes": (idx.get("doc_stats_bytes", 0), "bytes"),
        "io.files_written": (idx.get("files", 0), "count"),
        "codec.bytes_per_posting": (idx.get("postings_bytes", 0) / max(1, idx.get("postings", 0)), "bytes"),
        "dedup.minhash_lsh_candidates.wall_ms": (wall_ms("setup", "dedup.minhash_lsh_candidates"), "ms"),
        "dedup.minhash_lsh_candidates.exec_cpu_ms": (mean(dedup, "exec_cpu_ms"), "ms"),
        "dedup.minhash_lsh_candidates.candidates": (dd.get("candidates", 0), "count"),
        "dedup.planted_recall": (dd.get("planted_recall", 0.0), "ratio"),
        "dedup.candidate_precision": (dd.get("candidate_precision", 0.0), "ratio"),
        "streaming.process_batch.wall_ms": (wall_ms("timed", "streaming.process_batch"), "ms"),
        "streaming.process_batch.jobs": (mean(ingest, "jobs"), "count"),
        "streaming.process_batch.tasks": (mean(ingest, "tasks"), "count"),
        "streaming.process_batch.files_written": (wp.get("batch_files_written", 0), "count"),
        "streaming.compact.wall_ms": (wall_ms("timed", "streaming.compact"), "ms"),
        "streaming.compact.exec_cpu_ms": (mean(compact, "exec_cpu_ms"), "ms"),
        "mutate.delete_by_query.wall_ms": (wall_ms("timed", "mutate.delete_by_query"), "ms"),
        "mutate.expunge_deletes.wall_ms": (wall_ms("timed", "mutate.expunge_deletes"), "ms"),
        "mutate.expunge_deletes.exec_cpu_ms": (mean(expunge, "exec_cpu_ms"), "ms"),
        "mutate.expunge_deletes.shuffle_bytes": (mean(expunge, "shuffle_write_bytes"), "bytes"),
        "mutate.expunge_deletes.bytes_rewritten": (mean(expunge, "output_bytes"), "bytes"),
        "spark.jvm_gc_ms": (sum(g.gc_ms for g in timed) / max(1, out.cycles_run), "ms"),
        "spark.exec_busy_share": (sum(g.exec_run_ms for g in timed) / (window_ms * cores), "ratio"),
        "trace.window_coverage": (rec.coverage("timed"), "ratio"),
    }
    for name, (value, unit) in e2e.items():
        m[f"traced.{name}"] = (value, unit)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine/ package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    from trace import RECONCILE_TOLERANCE, Recorder, find_event_log, parse_event_log
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    try:
        spark = start_spark(work, cores, traced)
        spark_start_s = time.perf_counter() - t_start
        try:
            rec = Recorder(spark.sparkContext, traced)
            out = WORKLOADS[args.workload](Context(spark, rec, work, args.seed, args.seconds))
        finally:
            stop_spark(spark)
        e2e = end_to_end(out)
        metrics = e2e
        if traced:
            groups = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
            metrics = per_layer(rec, groups, out, cores)
            cov = rec.coverage("timed")
            out.check("layer_walls_reconcile_with_window", 1 - RECONCILE_TOLERANCE <= cov <= 1.0)
        # every engine call that returned counts as a succeeded operation (one
        # that raises aborts the run); every check counts, failed or not
        attempted = out.attempted + sum(1 for c in rec.calls if not c.layer.startswith("bench."))
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "process_s": time.perf_counter() - t_start, "spark_start_s": spark_start_s,
            "phase_call_s": {ph: sum(c.wall_s for c in rec.calls if c.phase == ph)
                             for ph in dict.fromkeys(c.phase for c in rec.calls)},
            "setup_reps_s": out.setup_s, "cold_setup_s": out.setup_s[0], "warmup_s": out.warmup_s,
            "samples": {"query": len(out.query_ms), "batch": len(out.batch_s),
                        "cycle": len(out.cycle_s), "setup": len(out.setup_s)},
            "query_tail": tail_percentile(out.query_ms),
            "batch_walls_s": out.batch_s,
            "error_rate": out.failed / attempted,
            "checks": out.checks,
            **out.info,
        }
        if traced:
            report["window_coverage"] = cov
            untraced = os.path.join(base, "results", f"{args.workload}-{args.seed}-trace0.json")
            if os.path.isfile(untraced):
                with open(untraced) as f:
                    prev = json.load(f)
                report["tracing_overhead"] = {k: v[0] - prev[k] for k, v in e2e.items() if k in prev}
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(os.path.join(base, "results", f"{args.workload}-{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
