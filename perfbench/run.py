"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,keystroke,curate} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  The run starts its own Spark
session (at most 4 local cores, a driver heap sized for the machine),
stages seeded inputs, runs one client in a closed loop for ``--seconds``
seconds (``keystroke``: and at least one session block), checks every
output outside the timed region and prints:

  * one ``detail`` JSON line: every operation's CPU time and wall, the
    workload's named metrics, error_rate, host noise (load1, max CPU
    steal %) and settings;
  * as the last line, ``{"correct", "attempted", "failed", "metrics"}``.

The end-to-end metrics are CPU seconds, summed over the client thread, the
driver JVM and the Python workers it forks: on a shared host the wall
clock also times the neighbours (see README.md).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the same
workload with a local Spark event log, parses the log per job group and
reports the per-layer metrics, including ``trace.overhead_pct``: the CPU
time of the JVM thread that writes the event log over the measured
operations, as a share of the rest of their CPU time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"op_cpu_s": "s", "setup_s": "s"}

# name -> unit; every traced run reports all of them, 0 for a layer the
# workload does not exercise
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_pct": "%",
    "extract.parse_page_us": "us",
    "tokenizer.index_document_us": "us",
    "index.carrier_build_s": "s",
    "index.write_s": "s",
    "index.tasks": "count",
    "index.task_run_s": "s",
    "index.task_cpu_s": "s",
    "index.gc_s": "s",
    "index.python_bytes_in": "bytes",
    "index.python_bytes_out": "bytes",
    "index.output_bytes_per_doc": "bytes",
    "index.quarantined_docs": "count",
    "resume.batch_s": "s",
    "resume.buckets_rewritten": "count",
    "resume.bytes_rewritten_per_changed_doc": "bytes",
    "resume.jobs_per_batch": "count",
    "resume.extract_passes_per_batch": "count",
    "resume.task_run_s": "s",
    "query_compiler.compile_s": "s",
    "search.build_s": "s",
    "search.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.plan_jobs": "count",
    "search.exec_s": "s",
    "search.exec_jobs": "count",
    "search.stages": "count",
    "search.tasks": "count",
    "search.shuffle_bytes": "bytes",
    "keystroke.wall_s": "s",
    "keystroke.unaccounted_s": "s",
    "curate.persisted_rdds": "count",
}
CURATE_LEAF_METRICS = {
    "wall_s": "s", "jobs": "count", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "task_run_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import CURATE_LEAVES

    units = dict(PER_LAYER)
    for leaf in CURATE_LEAVES:
        for m, u in CURATE_LEAF_METRICS.items():
            units[f"{leaf}.{m}"] = u
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "keystroke", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and make the checkout
    importable by the driver and by the Python workers Spark forks."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    sys.path[:0] = [ROOT, HERE]


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    """Set up, measure, check and (traced) parse; returns the detail
    line and the result line."""
    import harness
    import workloads

    # forked before any thread starts
    probe = harness.HostProbe(harness.cores())
    sampler = harness.HostSampler()
    load_at_start = harness.load1()
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    try:
        probe.sample(2)
        sampler.start()
        spark = harness.start_spark(work, event_dir)
        jvm = sampler.root = spark.sparkContext._gateway.proc.pid
        spark.range(1).count()
        session_s = time.perf_counter() - t_start
        tracer = harness.Tracer(spark.sparkContext, bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_wall_s = time.perf_counter() - t_start
        setup_cpu = harness.tree_cpu_s(jvm)
        setup_spans = {s.group: s.wall for s in tracer.spans}
        probe.attach(spark)
        harness.wait_idle(jvm)
        probe.sample(4)

        event_log = harness.EventLogThread(spark) if args.trace else None
        e0 = event_log.cpu_s() if event_log else 0.0
        walls, cpus = [], []
        t0 = time.perf_counter()
        while len(walls) < wl.min_ops or time.perf_counter() - t0 < args.seconds:
            harness.wait_idle(jvm)
            probe.sample()
            c0 = harness.tree_cpu_s(jvm)
            walls.append(wl.op(len(walls)))
            cpus.append(harness.diff(harness.tree_cpu_s(jvm), c0))
        measured_s = time.perf_counter() - t0
        event_log_cpu_s = event_log.cpu_s() - e0 if event_log else 0.0
        t1 = time.perf_counter()
        if args.trace:
            wl.extra()
        t2 = time.perf_counter()
        attempted, failed = wl.check()
        phases = {"probes_s": t2 - t1, "check_s": time.perf_counter() - t2}
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        sampler.stop()
        probe.close()
    ref_cpus = [probe.reference_cpu_s(c) for c in cpus]

    timed = wl.measured(walls)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(walls), "measured_s": measured_s, **phases,
        "op_cpu_s": harness.median(wl.units(ref_cpus)),
        "setup_s": probe.reference_cpu_s(setup_cpu),
        "op_ref_cpus_s": ref_cpus,
        # raw CPU seconds, split (JVM, Python workers, client thread)
        "op_raw_cpus_s": cpus,
        "setup_raw_cpu_s": setup_cpu,
        "python_kernel_cpu_s": probe.python,
        "jvm_kernel_cpu_s": probe.jvm,
        "op_walls_s": walls,
        "timed_ops": len(timed),
        "op_wall_p50_s": harness.median(timed),
        "op_wall_p90_s": harness.percentile(timed, 90),
        "op_wall_p90_valid": len(timed) >= 100,
        "setup_wall_s": setup_wall_s,
        "error_rate": failed / attempted,
        "peak_rss_mb": {"value": sampler.peak_rss_kb / 1024.0, "unit": "MB"},
        "peak_jvm_rss_mb": {"value": sampler.peak_root_rss_kb / 1024.0, "unit": "MB"},
        "session_start_s": session_s,
        "setup_spans_s": setup_spans,
        "load1_at_start": load_at_start,
        "max_steal_pct": sampler.max_steal_pct,
        "cores": harness.cores(),
        "spark_driver_memory": harness.driver_memory(),
        **wl.detail,
    }
    if args.trace:
        import eventlog

        (log,) = os.listdir(event_dir)
        stats = eventlog.parse(os.path.join(event_dir, log))
        layer = {name: 0.0 for name in per_layer_units()}
        layer.update(wl.layers(stats))
        layer["session.start_s"] = session_s
        # the event-log writer's CPU time is inside the operations' CPU
        raw = sum(sum(c) for c in cpus)
        layer["trace.overhead_pct"] = 100.0 * event_log_cpu_s / (raw - event_log_cpu_s)
        detail["event_log_cpu_s"] = event_log_cpu_s
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": detail[k], "unit": u} for k, u in END_TO_END.items()}
    return detail, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tika_xapian_spark", "__init__.py")):
        print(f"perfbench: no tika_xapian_spark package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        detail, result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
