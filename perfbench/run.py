"""End-to-end benchmark of the engine: closed-loop workloads, each
driven through the engine's public functions from one process on
``local[nproc]`` (README.md describes them).

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it reads and writes only under
``.perfbench/`` there, and ``.perfbench-out/`` when traced. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
untraced; the per-layer metrics with ``--trace 1``, which also writes
every span to ``.perfbench-out/spans-<workload>-<seed>.json``). The line
before it carries the workload's own named metrics, ``failed_ops_frac``
and the run's environment. The exit code is 1 when an output check
failed, 2 when the engine is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from spans import cpu_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"


def _pin_environment(work: str) -> dict:
    """Environment for the engine's JVM and Python workers, set before
    pyspark starts: all of this box's cores, driver memory well below
    its RAM, and every scratch directory inside the checkout."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def _java_pids() -> set[int]:
    pids = set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/comm") as f:
                    if f.read().strip() == "java":
                        pids.add(int(d))
            except OSError:
                pass
    return pids


def _load_context() -> dict:
    """Load average, CPU ticks and the other live JVMs, recorded with the
    numbers so that a run that shared the box says so."""
    with open("/proc/loadavg") as f:
        one, five, _ = f.read().split()[:3]
    return {"loadavg_1m": float(one), "loadavg_5m": float(five), "cpu_ticks": cpu_ticks(),
            "java_pids": _java_pids()}


#: BENCHMARK.json end_to_end metrics, reported by every workload: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "items_per_s": "1/s",
    "bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}


def _layer(span, field, unit, parent=None):
    return (span, field, parent, unit)


#: BENCHMARK.json per_layer metrics: name -> (span, field, parent span,
#: unit). Values are medians over the calls of a span outside warm-up; 0
#: where the span never ran in the workload.
PER_LAYER = {
    "session.get_spark.wall_s": _layer("session.get_spark", "wall_s", "s"),
    # etl_reference
    "etl.run.wall_s": _layer("etl.run", "wall_s", "s"),
    "etl.run.jobs": _layer("etl.run", "jobs", "count"),
    "etl.run.exec_cpu_s": _layer("etl.run", "exec_cpu_s", "s"),
    "etl.run.shuffle_write_bytes": _layer("etl.run", "shuffle_write_bytes", "B"),
    "etl.run.spill_bytes": _layer("etl.run", "spill_bytes", "B"),
    "plans.run_pipeline.wall_s": _layer("plans.grammy_spotify.run_pipeline", "wall_s", "s"),
    "plans.run_pipeline.jobs": _layer("plans.grammy_spotify.run_pipeline", "jobs", "count"),
    "sources.read_csv.wall_s": _layer("sources.readers.read_csv", "wall_s", "s"),
    "sources.write_parquet.wall_s": _layer("sources.writers.write_parquet", "wall_s", "s"),
    "sources.write_parquet.jobs": _layer("sources.writers.write_parquet", "jobs", "count"),
    "sources.write_parquet.tasks": _layer("sources.writers.write_parquet", "tasks", "count"),
    "sources.write_parquet.exec_cpu_s": _layer("sources.writers.write_parquet", "exec_cpu_s", "s"),
    "sources.write_parquet.cpu_per_run": _layer("sources.writers.write_parquet", "cpu_per_run", "ratio"),
    "sources.write_parquet.bytes_written": _layer("sources.writers.write_parquet", "bytes_written", "B"),
    # corpus_ingest
    "ingest.epoch.wall_s": _layer("ingest.epoch", "wall_s", "s"),
    "ingest.epoch.jobs": _layer("ingest.epoch", "jobs", "count"),
    "sources.read_parquet.wall_s": _layer("sources.readers.read_parquet", "wall_s", "s"),
    "dedup.near_dup_pairs.wall_s": _layer("dedup_text.near_dup_pairs", "wall_s", "s"),
    "dedup.near_dup_pairs.jobs": _layer("dedup_text.near_dup_pairs", "jobs", "count"),
    "dedup.near_dup_pairs.exec_cpu_s": _layer("dedup_text.near_dup_pairs", "exec_cpu_s", "s"),
    "dedup.near_dup_pairs.cpu_per_run": _layer("dedup_text.near_dup_pairs", "cpu_per_run", "ratio"),
    "dedup.near_dup_pairs.shuffle_write_bytes": _layer("dedup_text.near_dup_pairs", "shuffle_write_bytes", "B"),
    "dedup.lsh_candidates_per_pair": _layer("dedup_text.minhash_candidates", "lsh_candidates_per_pair", "ratio"),
    "index_stream.ingest_epoch.wall_s": _layer("index_stream.ingest_epoch", "wall_s", "s"),
    "index_stream.ingest_epoch.jobs": _layer("index_stream.ingest_epoch", "jobs", "count"),
    "index_stream.ingest_epoch.exec_cpu_s": _layer("index_stream.ingest_epoch", "exec_cpu_s", "s"),
    "index_stream.ingest_epoch.bytes_written": _layer("index_stream.ingest_epoch", "bytes_written", "B"),
    "index_store.delete_from_index.wall_s": _layer("index_store.delete_from_index", "wall_s", "s"),
    "index_store.delete_from_index.jobs": _layer("index_store.delete_from_index", "jobs", "count"),
    "index_store.compact_index.wall_s": _layer("index_store.compact_index", "wall_s", "s"),
    "index_store.compact_index.jobs": _layer("index_store.compact_index", "jobs", "count"),
    "index_store.compact_index.bytes_written": _layer("index_store.compact_index", "bytes_written", "B"),
    # index_probe: set-up
    "retrieval.save_lexical_index.wall_s": _layer("retrieval.save_lexical_index", "wall_s", "s"),
    "index_store.save_ivf_index.wall_s": _layer("index_store.save_ivf_index", "wall_s", "s"),
    "retrieval.load_lexical_index.wall_s": _layer("retrieval.load_lexical_index", "wall_s", "s"),
    "index_store.load_ivf_index.wall_s": _layer("index_store.load_ivf_index", "wall_s", "s"),
    # index_probe: BM25 probes
    "bm25.wall_s": _layer("probe.bm25", "wall_s", "s"),
    "bm25.jobs": _layer("probe.bm25", "jobs", "count"),
    "bm25.tasks": _layer("probe.bm25", "tasks", "count"),
    "bm25.exec_run_s": _layer("probe.bm25", "exec_run_s", "s"),
    "bm25.exec_cpu_s": _layer("probe.bm25", "exec_cpu_s", "s"),
    "bm25.cpu_per_run": _layer("probe.bm25", "cpu_per_run", "ratio"),
    "bm25.probe_lexical_index.wall_s": _layer("retrieval.probe_lexical_index", "wall_s", "s", "probe.bm25"),
    "bm25.probe_lexical_index.jobs": _layer("retrieval.probe_lexical_index", "jobs", "count", "probe.bm25"),
    "bm25.collect.wall_s": _layer("probe.bm25.collect", "wall_s", "s"),
    # index_probe: IVF probes
    "ivf.wall_s": _layer("probe.ivf", "wall_s", "s"),
    "ivf.jobs": _layer("probe.ivf", "jobs", "count"),
    "ivf.exec_cpu_s": _layer("probe.ivf", "exec_cpu_s", "s"),
    "ivf.cpu_per_run": _layer("probe.ivf", "cpu_per_run", "ratio"),
    "ivf.probe_ivf_index.wall_s": _layer("index_store.probe_ivf_index", "wall_s", "s", "probe.ivf"),
    "ivf.collect.wall_s": _layer("probe.ivf.collect", "wall_s", "s"),
    # index_probe: hybrid probes. Both arms are lazy, so their scoring
    # runs in the collect; the engine calls' spans hold the plan build
    # and the jobs the engine launches itself.
    "hybrid.wall_s": _layer("probe.hybrid", "wall_s", "s"),
    "hybrid.jobs": _layer("probe.hybrid", "jobs", "count"),
    "hybrid.exec_cpu_s": _layer("probe.hybrid", "exec_cpu_s", "s"),
    "hybrid.probe_lexical_index.wall_s": _layer("retrieval.probe_lexical_index", "wall_s", "s", "probe.hybrid"),
    "hybrid.probe_ivf_index.wall_s": _layer("index_store.probe_ivf_index", "wall_s", "s", "probe.hybrid"),
    "hybrid.rrf_fuse.plan_s": _layer("retrieval.rrf_fuse", "wall_s", "s"),
    "hybrid.collect.wall_s": _layer("probe.hybrid.collect", "wall_s", "s"),
    "hybrid.collect.jobs": _layer("probe.hybrid.collect", "jobs", "count"),
    "hybrid.collect.exec_cpu_s": _layer("probe.hybrid.collect", "exec_cpu_s", "s"),
}

#: per_layer metrics about the traced run itself: name -> unit
TRACE_EXTRA = {
    "trace.low_cpu_spans": "count",
    "trace.traced_op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
}


def _per_layer(spans: list[dict], run, kinds) -> dict[str, tuple[float, str]]:
    from spans import per_call

    out = {name: (per_call(spans, span, field, parent), unit)
           for name, (span, field, parent, unit) in PER_LAYER.items()}
    traced, untraced = run.op_s(kinds, traced=True), run.op_s(kinds)
    extra = (sum(1 for s in spans if s["low_cpu"]), traced, untraced, traced - untraced)
    out.update((name, (v, TRACE_EXTRA[name])) for name, v in zip(TRACE_EXTRA, extra))
    return out


def _print_span_table(spans: list[dict]) -> None:
    """One line per span name: calls, median self time, jobs per call;
    spans whose executor CPU is under a tenth of executor run time are
    flagged LOW-CPU (reported, not failing)."""
    names = list(dict.fromkeys(s["name"] for s in spans))
    for name in names:
        ss = [s for s in spans if s["name"] == name]
        low = sum(s["low_cpu"] for s in ss)
        cpr = [s["cpu_per_run"] for s in ss if s["cpu_per_run"] is not None]
        print(
            f"# span {name:40s} calls={len(ss):3d} "
            f"self_s={statistics.median(s['self_s'] for s in ss):8.3f} "
            f"jobs/call={statistics.median(s['jobs'] for s in ss):5.1f} "
            f"cpu_per_run={statistics.median(cpr) if cpr else float('nan'):5.2f}"
            + (f"  LOW-CPU x{low}" if low else "")
        )


def _stop_engine(spark) -> None:
    """Stop the session and wait for its JVM to exit (the JVM ends when
    its stdin closes; its Python workers end with it)."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "workhop2_etl_spark")):
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    run_dir = os.path.join(WORK, "run")
    env = _pin_environment(run_dir)
    context = _load_context()

    from spans import Tracer

    run = workloads.Run(
        args.seed, args.seconds, Tracer(bool(args.trace), f"{args.workload}-{args.seed}"), run_dir
    )
    t_start = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](run)
        spans = run.tracer.finish()
        others = (context.pop("java_pids") | _java_pids()) - {run.jvm_pid}
    finally:
        _stop_engine(run.spark)
    wall_s = time.perf_counter() - t_start

    (all0, steal0), (all1, steal1) = context.pop("cpu_ticks"), cpu_ticks()
    context.update(
        cpu_steal_frac=round((steal1 - steal0) / max(all1 - all0, 1), 4),
        other_jvms=len(others),
        overlapped_other_jvm=bool(others),
        loadavg_1m_end=_load_context()["loadavg_1m"],
        ncpu=int(env["SPARK_GRAFT_CPUS"]),
        driver_memory=DRIVER_MEMORY,
        wall_s=round(wall_s, 3),
    )
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "ops_s": {k: [round(x, 3) for x in xs] for k, xs in run.ops.items()},
        "ops_steal": {k: [round(x, 4) for x in xs] for k, xs in run.steal.items()},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()},
        "failed_ops_frac": run.failed / max(run.attempted, 1),
        "outputs": run.outputs,
        "problems": run.problems[:5],
        "context": context,
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        spans_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_file, "w") as f:
            json.dump(spans, f, indent=1, default=str)
        info["spans_file"] = os.path.relpath(spans_file, ROOT)
        _print_span_table(spans)
        metrics = _per_layer(spans, run, workloads.KINDS[args.workload])
    else:
        values = dict(run.e2e, setup_s=run.setup_s, peak_rss_mb=run.peak_rss_mb)
        metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    print(json.dumps(info, default=str))
    shutil.rmtree(WORK, ignore_errors=True)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
