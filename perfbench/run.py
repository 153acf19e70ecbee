"""Benchmark entry point.

    python3 perfbench/run.py --workload vcf_store --seed 1 --seconds 3 --trace 0

Runs one workload (``vcf_store`` or ``dedup_stream``)
in one warm Spark session on ``local[nproc]`` with one closed-loop
client, checks every output, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the spans to ``.perfbench_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

VCF_LAYERS = {
    "sources.vcf.read_vcf": "scan_mb",
    "sources.store.write_vcfdb": "written_mb",
    "sources.build.append_vcf": "written_mb",
    "sources.build.compact_table": "written_mb",
}
QUERY_LAYERS = [
    "operators.query." + q
    for q in (
        "filter_test", "pull_vars_by_id.inlist", "pull_vars_by_id.semijoin",
        "pull_geno_test", "interval_query", "per_gene_counts",
    )
]
_UNITS = {
    "self_s": "s", "jobs": "count", "tasks": "count", "task_cpu_s": "s",
    "driver_s": "s", "shuffle_mb": "MB", "scan_mb": "MB", "written_mb": "MB",
}
_CALL_METRICS = ("self_s", "jobs", "tasks", "task_cpu_s", "driver_s", "shuffle_mb")


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    spec = []
    layers = [(lay, io) for lay, io in VCF_LAYERS.items()]
    layers += [(lay, "scan_mb") for lay in QUERY_LAYERS]
    for lay, io in layers:
        for m in _CALL_METRICS + (io,):
            spec.append((f"{lay}.{m}", _UNITS[m], "lower"))
    for lay in ("operators.query.filter_test", "operators.query.interval_query"):
        spec.append((f"{lay}.rows_examined_per_row", "ratio", "lower"))
    b = "streaming.ingest.batch"
    spec += [
        (f"{b}.self_s_p50", "s", "lower"), (f"{b}.self_s_max", "s", "lower"),
        (f"{b}.jobs_p50", "count", "lower"), (f"{b}.driver_s_p50", "s", "lower"),
        (f"{b}.task_cpu_s_p50", "s", "lower"), (f"{b}.written_mb_max", "MB", "lower"),
        ("operators.pipeline.survivor_ratio", "ratio", "higher"),
        ("operators.dedup.candidate_pairs", "count", "lower"),
        ("operators.dedup.pair_precision", "ratio", "higher"),
        ("operators.dedup.index_files_end", "count", "lower"),
        ("operators.dedup.index_mb_end", "MB", "lower"),
        ("driver.python_cpu_s", "s", "lower"), ("driver.jvm_cpu_s", "s", "lower"),
        ("jvm.gc_s", "s", "lower"), ("jvm.jit_s", "s", "lower"),
        ("trace.op_wall_p50_s", "s", "lower"), ("trace.read_s", "s", "lower"),
    ]
    return spec


END_TO_END = [
    ("setup_s", "s"), ("op_wall_p50_s", "s"), ("run_wall_s", "s"),
    ("op_cpu_s", "s"), ("spark_jobs_per_op", "count"),
    ("spark_tasks_per_op", "count"), ("shuffle_mb_per_op", "MB"),
    ("scan_mb_per_op", "MB"), ("written_mb_per_op", "MB"),
    ("store_bytes_per_input_byte", "ratio"), ("peak_rss_mb", "MB"),
]


def session(work: str):
    from vcfdbr_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage until the benchmark has read it
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def end_to_end(res, meter) -> dict:
    calls = meter.calls[res.first_call:]
    ops = max(1, len(res.op_walls))
    c = meter.counters(calls)
    return {
        "setup_s": res.setup_s,
        "op_wall_p50_s": statistics.median(res.op_walls),
        "run_wall_s": statistics.median(res.round_walls),
        "op_cpu_s": sum(x.cpu_s for x in calls) / ops,
        "spark_jobs_per_op": c.jobs / ops,
        "spark_tasks_per_op": c.tasks / ops,
        "shuffle_mb_per_op": c.shuffle_mb / ops,
        "scan_mb_per_op": c.scan_mb / ops,
        # every byte the operation puts on disk: files, shuffle, spill
        "written_mb_per_op": (c.written_mb + c.shuffle_mb + c.spill_mb) / ops,
        "store_bytes_per_input_byte": res.store_bytes / res.input_bytes,
        "peak_rss_mb": meter.peak_rss_mb(),
    }


def per_layer(res, meter, name: str, seed: int) -> dict:
    t0 = time.time()
    calls = meter.calls[res.first_call:]
    ops = max(1, len(res.op_walls))
    out = {n: 0.0 for n, _, _ in per_layer_spec()}
    spans = [{"id": 0, "name": name, "start": res.rounds[0][0], "end": res.rounds[-1][1], "parent": None}]
    for k, (a, b) in enumerate(res.rounds):
        spans.append({"id": k + 1, "name": "round", "start": a, "end": b, "parent": 0})

    def parent(t: float) -> int:
        return next((k + 1 for k, (a, b) in enumerate(res.rounds) if a <= t <= b), 0)

    by_layer: dict[str, list] = {}
    for call in calls:
        cnt = meter.jobs.read_range(*call.jobs)
        row = {
            "self_s": call.wall_s, "jobs": cnt.jobs, "tasks": cnt.tasks,
            "task_cpu_s": cnt.task_cpu_s, "driver_s": meter.driver_s(call),
            "shuffle_mb": cnt.shuffle_mb, "scan_mb": cnt.scan_mb,
            "written_mb": cnt.written_mb, "scan_rows": cnt.scan_rows,
        }
        by_layer.setdefault(call.name, []).append(row)
        spans.append({"id": len(spans), "name": call.name, "start": call.start,
                      "end": call.end, "parent": parent(call.start)})
        if res.batches and call.name.endswith("stream_corpus_filter"):
            stream_span = spans[-1]["id"]
            windows = [w for w in res.batches if call.start <= w[0] <= call.end]
            per_batch = meter.jobs.read_by_submit_time(*call.jobs, windows)
            rows = []
            for (a, b), bc in zip(windows, per_batch):
                rows.append({"self_s": b - a, "jobs": bc.jobs, "task_cpu_s": bc.task_cpu_s,
                             "driver_s": (b - a) - bc.busy_s(a, b), "written_mb": bc.written_mb})
                spans.append({"id": len(spans), "name": "streaming.ingest.batch",
                              "start": a, "end": b, "parent": stream_span})
            bp = "streaming.ingest.batch"
            med = lambda k: statistics.median(r[k] for r in rows)  # noqa: E731
            out.update({
                f"{bp}.self_s_p50": med("self_s"), f"{bp}.self_s_max": max(r["self_s"] for r in rows),
                f"{bp}.jobs_p50": med("jobs"), f"{bp}.driver_s_p50": med("driver_s"),
                f"{bp}.task_cpu_s_p50": med("task_cpu_s"),
                f"{bp}.written_mb_max": max(r["written_mb"] for r in rows),
            })
    for lay, rows in by_layer.items():
        for m in _CALL_METRICS + ("scan_mb", "written_mb"):
            key = f"{lay}.{m}"
            if key in out:
                out[key] = statistics.median(r[m] for r in rows)
        if f"{lay}.rows_examined_per_row" in out:
            short = lay.rsplit(".", 1)[1]
            result_rows = res.layer.get(f"rows.{short}", 0)
            out[f"{lay}.rows_examined_per_row"] = sum(r["scan_rows"] for r in rows) / max(1, result_rows)
    for k, v in res.layer.items():
        if k in out:
            out[k] = v
    out["driver.python_cpu_s"] = sum(c.python_cpu_s for c in calls) / ops
    out["driver.jvm_cpu_s"] = sum(c.jvm_cpu_s for c in calls) / ops
    out["jvm.gc_s"] = sum(c.gc_s for c in calls) / ops
    out["jvm.jit_s"] = sum(c.jit_s for c in calls) / ops
    out["trace.op_wall_p50_s"] = statistics.median(res.op_walls)
    os.makedirs(f"{ROOT}/.perfbench_out", exist_ok=True)
    with open(f"{ROOT}/.perfbench_out/spans-{name}-seed{seed}.jsonl", "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
    out["trace.read_s"] = (time.time() - t0) / ops
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "vcfdbr_spark", "__init__.py")):
        print(f"perfbench: no vcfdbr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every file the run writes inside the checkout; the JVMs get
    # no perf-data file in /tmp
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = jvm = None
    try:
        t0 = time.time()
        spark = session(work)
        session_s = time.time() - t0
        jvm = spark.sparkContext._gateway.proc
        from meter import Meter

        meter = Meter(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, meter)
        res = wl.run(session_s)
        if res.failure:
            print(f"perfbench: output check failed: {res.failure}", file=sys.stderr)
        if res.op_walls:
            values = (per_layer(res, meter, args.workload, args.seed) if args.trace
                      else end_to_end(res, meter))
        else:
            values = {}
        units = ({n: u for n, u, _ in per_layer_spec()} if args.trace
                 else dict(END_TO_END))
        result = {
            "correct": res.failure is None and bool(res.op_walls),
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items() if n in values},
        }
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
