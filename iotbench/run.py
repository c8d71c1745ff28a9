"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 iotbench/run.py --workload {ingest,serve} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run pins Spark to local[nproc] with a
bounded driver heap, puts the warehouse, Spark's local dirs, streaming
sinks and temp files under a per-run directory inside the checkout, and
removes it afterwards. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 the measured work runs twice, in
alternating untraced and traced units, and the line carries the
per-layer metrics, while the spans go to
iotbench/out/trace-<workload>-<seed>.json. The line before it,
prefixed `report:`, holds every workload-specific figure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # well below host RAM; the program's default is 96g


def _layer_stats(run) -> dict:
    """Per-span-name durations and self times (ms medians) over the
    traced ops."""
    from harness import self_times

    spans = run.tracer.spans
    self_t = self_times(spans)
    by_name: dict[str, list[float]] = {}
    self_by: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append((s.end - s.start) * 1000.0)
        self_by.setdefault(s.name, []).append(self_t[s.id] * 1000.0)
    out = {}
    for name, xs in sorted(by_name.items()):
        out[f"{name}_ms"] = statistics.median(xs)
        out[f"{name}.self_ms"] = statistics.median(self_by[name])
        out[f"{name}.calls"] = len(xs)
    return out


def _reparent_jobs(run) -> None:
    """Make each recorded Spark job a child of the innermost span of
    its op that contains the job's start, so self times subtract it."""
    from harness import Span

    spans = run.tracer.spans
    by_op: dict[int, list[Span]] = {}
    for s in spans:
        if s.name != "spark.job" and s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    for s in spans:
        if s.name != "spark.job":
            continue
        cands = [
            c for c in by_op.get(s.op, ()) if c.start <= s.start <= c.end
        ]
        if cands:
            s.parent = min(cands, key=lambda c: c.end - c.start).id


def _trace_overhead_pct(run) -> float:
    """Median over op classes of (traced p50 / untraced p50 - 1)."""
    by: dict[str, tuple[list[float], list[float]]] = {}
    for r in run.records:
        if r.warmup or not r.ok:
            continue
        t, u = by.setdefault(r.cls, ([], []))
        (t if r.traced else u).append(r.latency_s)
    ratios = [
        statistics.median(t) / statistics.median(u) - 1.0
        for t, u in by.values()
        if t and u
    ]
    return 100.0 * statistics.median(ratios) if ratios else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iot_database_spark")):
        print("iotbench: the program (iot_database_spark/) is not in this checkout",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
        ),
    })
    # spark.sql.warehouse.dir (and the streaming sinks under it)
    # defaults to ./spark-warehouse: keep it inside the run directory
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, cpus)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _run(args, run_dir: str, cpus: str) -> int:
    import harness
    import workloads

    steal = harness.StealWindow()
    t0 = time.perf_counter()
    from iot_database_spark.session import get_spark

    spark = get_spark(f"iotbench-{args.workload}")
    spark.range(1).collect()
    jvm_start_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        run = workloads.Run(spark, run_dir, args.seed, args.seconds, bool(args.trace))
        info = workloads.WORKLOADS[args.workload](run)
        mem = {"peak_rss_mb": harness.peak_rss_mb(), **harness.retained_mb(spark)}
        steal_pct = steal.pct()
        result = _metrics(args, run, info, jvm_start_s, mem, steal_pct, cpus)
    finally:
        # the JVM's own children (Python workers) are re-parented when
        # it exits, so take them now to wait for them after it
        spawned = harness.tree(os.getpid())[1:]
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — the JVM must not outlive the run
                proc.kill()
                proc.wait()
        harness.wait_ended(spawned)
    for err in run.errors[:20]:
        print(err, file=sys.stderr)
    report, line = result
    print("report: " + json.dumps(report, sort_keys=True))
    print(json.dumps(line))
    return 0


def _metrics(args, run, info, jvm_start_s, mem, steal_pct, cpus):
    from harness import geomean, median, tail_percentile, union_length, warehouse_stats

    meas = [r for r in run.records if not r.warmup]
    done = [r for r in meas if r.ok]
    attempted = len(run.records) + run.checks_attempted
    failed = sum(1 for r in run.records if not r.ok) + run.checks_failed
    lat_ms = [r.latency_s * 1000.0 for r in done]
    op_s = sum(r.latency_s for r in meas)
    ops_per_s = len(done) / op_s if op_s else 0.0
    op_cpu_s = sum(r.cpu_s for r in meas)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(cpus),
        "ops": len(meas),
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted if attempted else 0.0,
        # CPU seconds (Python + JVM): steal from other guests on the host
        # stretches wall time but is charged to no process
        "setup_s": statistics.median(run.setup_cpu),
        "setup_runs_s": run.setup_cpu,
        "setup_wall_s": statistics.median(run.setup_times),
        "setup_wall_runs_s": run.setup_times,
        "cpu_ms_per_op": geomean([r.cpu_s * 1000.0 for r in done]),
        "cpu_ms": [round(r.cpu_s * 1000.0) for r in meas],
        "ops_per_cpu_s": len(done) / op_cpu_s if op_cpu_s else 0.0,
        "jvm_start_s": jvm_start_s,
        "warmup_s": run.warmup_s,
        "ops_per_s": ops_per_s,
        "latency_p50_ms": median(lat_ms),
        "latency_p90_ms": tail_percentile(lat_ms, 90),
        "latencies_ms": [round(r.latency_s * 1000.0, 1) for r in meas],
        **mem,
        "host.steal_pct": steal_pct,
    }
    classes = sorted({r.cls for r in done})
    if args.workload == "serve":
        for c in classes:
            report[f"{c}_p50_ms"] = median([r.latency_s * 1000 for r in done if r.cls == c])
            report[f"{c}_ops"] = sum(1 for r in done if r.cls == c)
    if args.workload == "ingest":
        tally = info["tally"]
        report["batch_p50_ms"] = report["latency_p50_ms"]
        report["rows_per_s"] = tally.measured_landed / op_s if op_s else 0.0
    st = warehouse_stats(info["db_root"], info["sinks"])
    report["bytes_per_row"] = st["bytes"] / info["user_rows"]
    report["tables.data_dirs"] = st["data_dirs"]
    report["tables.parquet_files"] = st["parquet_files"]
    report.update(run.extra)

    # Spark counters, per op (every measured op, traced or not)
    jobs = [r.jobs.jobs for r in done]
    tasks = [r.jobs.tasks for r in done]
    job_ms = [union_length(r.jobs.intervals) * 1000.0 for r in done]
    driver_ms = [r.latency_s * 1000.0 - j for r, j in zip(done, job_ms)]
    report.update({
        "spark.jobs_per_op": median(jobs),
        "spark.tasks_per_op": median(tasks),
        "spark.busy_ms": median(job_ms),
        "spark.task_ms": median([r.jobs.task_ms for r in done]),
        "spark.driver_ms": median(driver_ms),
    })
    for c in classes:
        cr = [r for r in done if r.cls == c]
        report[f"spark.jobs_per_op.{c}"] = median([r.jobs.jobs for r in cr])
        report[f"spark.tasks_per_op.{c}"] = median([r.jobs.tasks for r in cr])

    if run.trace:
        _reparent_jobs(run)
        report["trace.overhead_pct"] = _trace_overhead_pct(run)
        report.update(_layer_stats(run))
        if args.workload == "serve":
            # spark.plan / spark.exec per op class
            cls_of = {r_i: r.cls for r_i, r in enumerate(run.records)}
            for name in ("spark.plan", "spark.exec"):
                per: dict[str, list[float]] = {}
                for s in run.tracer.spans:
                    if s.name == name and s.op is not None:
                        per.setdefault(cls_of[s.op], []).append((s.end - s.start) * 1000)
                for c, xs in per.items():
                    report[f"{name}_ms.{c}"] = median(xs)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"report": report, "spans": run.tracer.to_json()}, fh)

    names = PER_LAYER if run.trace else END_TO_END
    metrics = {n: {"value": report.get(n), "unit": u} for n, u in names}
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return report, line


# The metrics of the last stdout line; BENCHMARK.json names the same.
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_cpu_s", "1/s"),
    ("cpu_ms_per_op", "ms"),
    ("bytes_per_row", "B/row"),
    ("retained_mb", "MB"),
)
PER_LAYER = (
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.busy_ms", "ms"),
    ("spark.task_ms", "ms"),
    ("spark.driver_ms", "ms"),
    ("tables.df_ms", "ms"),
    ("tables.data_dirs", "count"),
    ("tables.parquet_files", "count"),
    ("points.write_batch_ms", "ms"),
    ("points.write_batch.self_ms", "ms"),
    ("points.accept_ratio", "ratio"),
    ("points.chain_appended", "count"),
    ("points.chain_dropped", "count"),
    ("points.heads_compactions", "count"),
    ("host.steal_pct", "%"),
    ("trace.overhead_pct", "%"),
)


if __name__ == "__main__":
    sys.exit(main())
