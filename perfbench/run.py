"""Benchmark of the EDW pipeline and the query registry.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload edw_day2 --seed 1 --seconds 10 --trace 0

Workloads: ``edw_day2`` and ``registry_mix`` (BENCHMARK.json), plus
``edw_day1`` (a full day-1 load; see README.md for why it is not in the
scheduled set). Each run starts one SparkSession on ``local[<cpus>]``,
generates its inputs from ``--seed``, sets up, then runs closed-loop
iterations (one client) until ``--seconds`` have passed, at least one.

``--trace 0`` reports the end-to-end metrics; nothing is traced.
``--trace 1`` traces every iteration and reports the per-layer metrics,
including ``trace.run_s``: the tracing overhead is ``trace.run_s`` minus
``run_s`` of an untraced run of the same workload. ``trace.bookkeeping_s``
is the part of it spent opening and closing spans.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 if any output check failed.
Spans, per-stage and per-query detail and the box calibration go to
``perfbench/out/<workload>-s<seed>-t<trace>.json``.
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

import procfs
from tracer import Tracer, scan_intervals, self_times, subtree, union_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: stop starting iterations once a run is this old (a run must end in 180 s)
RUN_BUDGET_S = 120.0

END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PIPELINE_STAGES = ["bronze_csv", "bronze_deal_details", "silver_assets",
                   "silver_bond_info", "silver_deal_details"]
#: seconds per layer and iteration as the spans measure them (kept in the
#: JSON record). They are printed as shares of the iteration's wall time:
#: a layer that does not run on a workload reads 0 there on every run, and
#: a share is also less sensitive to the box's speed than a time.
LAYER_SECONDS = [
    "sources.csv_s", "sources.xml_s", "validation.compile_s", "cast_engine.build_s",
    "vertical.build_s", "scd2.build_s", "sinks.write_s", "sinks.ledger_s",
    *[f"pipelines.stage_s.{s}" for s in PIPELINE_STAGES], "pipelines.driver_s",
    "queries.build_s", "queries.exec_s", "pyworker.s",
]


def share_name(seconds_name: str) -> str:
    """'sources.csv_s' -> 'sources.csv_share', 'pipelines.stage_s.x' ->
    'pipelines.stage_share.x', 'pyworker.s' -> 'pyworker.share'."""
    head, sep, tail = seconds_name.partition("_s.")
    if sep:
        return f"{head}_share.{tail}"
    return seconds_name[:-1] + "share"


PER_LAYER = {
    "session.start_s": "s",
    "trace.run_s": "s",
    "trace.bookkeeping_s": "s",
    # silver_bond_info and silver_deal_details run only on edw_day1, which
    # is not scheduled: their seconds stay in the JSON record
    **{share_name(k): "ratio" for k in LAYER_SECONDS
       if k not in ("pipelines.stage_s.silver_bond_info",
                    "pipelines.stage_s.silver_deal_details")},
    "scd2.rows_written_per_changed_row": "ratio",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_written_per_input_byte": "ratio",
    "sinks.gate_jobs": "count",
    "sinks.ledger_writes": "count",
    "queries.build_jobs": "count",
    "qc.counter_mismatch": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def box_settings() -> dict[str, str]:
    """Fit the session to the machine: every CPU this process may use, and
    a driver heap of a sixth of physical memory, between 1 and 3 GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(3, mem_kb // (6 * 1024 * 1024)))
    settings = {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g"}
    os.environ.update(settings)
    return settings


def install_patches(tracer) -> None:
    """Wrap the layer functions that ``pipelines`` and ``RunLedger`` call.
    ``QUERIES`` calls are wrapped by the workload itself."""
    from pyspark.sql.classic.dataframe import DataFrame

    from les_etl_pipeline_spark import pipelines
    from les_etl_pipeline_spark.operators import scd2
    from les_etl_pipeline_spark.sinks import writers

    tracer.wrap(pipelines, "read_edw_csv", "sources.csv")
    tracer.wrap(pipelines, "read_deal_details", "sources.xml")
    tracer.wrap(pipelines, "profile_data", "validation.compile")
    tracer.wrap(pipelines, "cast_to_datatype", "cast_engine.build")
    tracer.wrap(pipelines, "topic_tables", "vertical.build")
    tracer.wrap(pipelines, "write_partitioned", "sinks.write")
    tracer.wrap(pipelines, "write_quarantine", "sinks.write")
    tracer.wrap(writers.RunLedger, "record", "sinks.ledger.record")
    # the read's Spark job runs later, in the stage's collect: layer_metrics
    # finds it by the ledger directory its plan scans
    tracer.wrap(writers.RunLedger, "entries", "sinks.ledger.read",
                attrs=lambda ledger, *a, **k: {"path": os.path.abspath(ledger.path)})
    # shared with the registry: only calls made by a pipeline stage count
    tracer.wrap(scd2, "scd2_merge", "scd2.build", within="pipelines.stage")
    tracer.wrap(DataFrame, "isEmpty", "sinks.gate", within="pipelines.stage")


def layer_metrics(tracer, spans, it) -> dict[str, float]:
    """Per-layer values of one traced iteration."""
    tracer.collect(spans)
    execs = tracer.executions()
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def incl(name):
        return sum(s.end - s.start for s in by_name.get(name, []))

    def jobs_under(name):
        return sum(len(x.jobs) for s in by_name.get(name, []) for x in subtree(spans, s))

    ledger_spans = {x.id for name in ("sinks.ledger.record", "sinks.ledger.read")
                    for s in by_name.get(name, []) for x in subtree(spans, s)}
    # SQL executions outside the ledger's own spans that scan the ledger
    ledger_scans = scan_intervals(
        execs, {j for s in spans if s.id not in ledger_spans for j in s.jobs},
        {s.attrs["path"] for s in by_name.get("sinks.ledger.read", [])})

    m = {k: 0.0 for k in [*LAYER_SECONDS, *PER_LAYER]}
    m.update({
        "sources.csv_s": incl("sources.csv"),
        "sources.xml_s": incl("sources.xml"),
        "validation.compile_s": incl("validation.compile"),
        "cast_engine.build_s": incl("cast_engine.build"),
        "vertical.build_s": incl("vertical.build"),
        "scd2.build_s": incl("scd2.build"),
        "sinks.write_s": incl("sinks.write"),
        "sinks.gate_jobs": jobs_under("sinks.gate"),
        "sinks.ledger_s": (incl("sinks.ledger.record") + incl("sinks.ledger.read")
                           + union_s(ledger_scans)),
        "sinks.ledger_writes": len(by_name.get("sinks.ledger.record", [])),
        "queries.build_s": incl("queries.build"),
        "queries.build_jobs": jobs_under("queries.build"),
        "queries.exec_s": incl("queries.exec"),
        "qc.counter_mismatch": it.counters.get("qc.counter_mismatch", 0),
    })
    stages = by_name.get("pipelines.stage", [])
    if stages:
        m["sinks.files_written"] = it.counters.get("files_written", 0)
        m["sinks.bytes_written"] = it.counters.get("bytes_written", 0)
        m["sinks.bytes_written_per_input_byte"] = (
            it.counters.get("bytes_written", 0) / it.counters["input_bytes"])
    merged_rows = 0.0
    for st in stages:
        m[f"pipelines.stage_s.{st.attrs['stage']}"] += st.end - st.start
        tree = subtree(spans, st)
        intervals = [(max(lo, st.start), min(hi, st.end))
                     for x in tree for lo, hi in x.job_intervals]
        m["pipelines.driver_s"] += (st.end - st.start) - union_s(
            [iv for iv in intervals if iv[1] > iv[0]])
        if any(x.name == "scd2.build" for x in tree):
            merged_rows += sum(x.stats.get("output_records", 0)
                               for x in tree if x.name == "sinks.write")
    if merged_rows:
        m["scd2.rows_written_per_changed_row"] = merged_rows / it.counters["scd2.changed_rows"]
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "output_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(s.stats.get(key, 0) for s in spans)
    m["pyworker.s"] = tracer.python_worker_s(execs, {j for s in spans for j in s.jobs})
    m.update({share_name(k): m[k] / it.wall_s for k in LAYER_SECONDS})
    return m


def calibrate(bench, spark) -> tuple[float, float]:
    """One sample of each of ``bench.calibrate``'s two probes: its fixed
    CPU loop, and a one-row Spark job after a first one. (``bench.calibrate``
    takes the median of five after a warm-up, which costs 7-9 s a run.)"""
    cpu = bench._calib_cpu_once()

    def job() -> float:
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    job()
    return cpu, job()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under this one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procfs.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procfs.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str]) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    settings = box_settings()
    sys.path.insert(0, ROOT)
    try:
        import bench
        import workloads
        from les_etl_pipeline_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: {e}: run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # keep the JVM's temp files inside the work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    session_start_s = time.perf_counter() - t0
    phases = {"imported": t0 - t_process, "session": time.perf_counter() - t_process}
    try:
        tracer = Tracer(spark)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        setup = wl.setup()
        setup_s = session_start_s + sum(setup.values())
        phases["set_up"] = time.perf_counter() - t_process

        iters = []
        layers: list[dict[str, float]] = []
        if args.trace:
            install_patches(tracer)
        t_loop = time.perf_counter()
        while not iters or (time.perf_counter() - t_loop < args.seconds
                            and time.perf_counter() - t_process < RUN_BUDGET_S):
            tracer.enabled, tracer.iteration = bool(args.trace), len(iters)
            mark = len(tracer.spans)
            try:
                it = wl.iteration(len(iters))
            finally:
                tracer.enabled = False
            iters.append(it)
            if args.trace:
                layers.append(layer_metrics(tracer, tracer.spans[mark:], it))
        tracer.unpatch()
        peak_rss = procfs.tree_peak_rss_mb()
        phases["iterated"] = time.perf_counter() - t_process
        # after the timed part, so that the first Spark job of the JVM is
        # paid where a real batch pays it
        calib_cpu, calib_spark = calibrate(bench, spark)
        phases["calibrated"] = time.perf_counter() - t_process
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - t_process

    checks = [c for it in iters for c in it.checks]
    ops = [o for it in iters for o in it.ops]
    attempted = len(ops)
    # an operation fails if it raised or if any check of its output failed
    failed = sum(it.failed_ops for it in iters)
    correct = failed == 0
    run_s = statistics.median(it.wall_s for it in iters)
    if args.trace:
        # end-to-end figures come from untraced runs; the traced-minus-
        # untraced overhead is trace.run_s here minus run_s of --trace 0
        metrics = {k: statistics.median(lay[k] for lay in layers) for k in PER_LAYER}
        metrics["session.start_s"] = session_start_s
        metrics["trace.run_s"] = run_s
        metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(iters)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "run_s": run_s,
            "cpu_s": statistics.median(it.cpu_s for it in iters),
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": settings,
        "calibration": {"calib_cpu_sec": calib_cpu, "calib_spark_sec": calib_spark,
                        "box_load_factor": calib_cpu / bench.CALIB_REF_CPU},
        "setup": {"session_start_s": session_start_s, **setup},
        "phases": phases,
        "iterations": [
            {"wall_s": it.wall_s, "cpu_s": it.cpu_s, "ops": [vars(o) for o in it.ops],
             "counters": it.counters, "layers": lay}
            for it, lay in zip(iters, layers or [None] * len(iters))
        ],
        "checks": checks,
        "spans": [s.to_json() for s in tracer.spans],
        "metrics": metrics,
    }
    if args.trace:
        record["self_times"] = [self_times([s for s in tracer.spans if s.iteration == i])
                                for i in range(len(iters))]
    out_path = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: got {c.get('got')!r} want {c.get('want')!r}")
    for o in ops:
        if not o.ok:
            print(f"OP FAILED {o.label}: {o.error}")
    print("context " + json.dumps({"box": settings, **record["calibration"],
                                   "setup": record["setup"], "iterations": len(iters),
                                   "detail": os.path.relpath(out_path, ROOT)}))
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
