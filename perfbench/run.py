"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload job_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with span-recording wrappers
installed and prints the per-layer metrics (see README.md). The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries the noise covariates and per-run details.
"""

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("job_dedup", "job_fanout")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "batch_p50_s": "s", "cpu_s": "s",
    "pss_p50_mb": "MB", "pass_ratio": "ratio",
}
PER_LAYER = {
    "sources.rows_in": "count", "sources.offset_s": "s",
    "stateful.rows_updated": "count", "stateful.updates_per_row": "ratio",
    "stateful.state_rows": "count", "stateful.state_mb": "MB",
    "stateful.update_s": "s", "stateful.commit_s": "s",
    "stateful.rows_dropped": "count",
    "training_loop.handle_s": "s", "training_loop.handle_self_s": "s",
    "training_loop.train_batch_s": "s", "training_loop.predict_batch_s": "s",
    "training_loop.responses_s": "s", "training_loop.jobs_per_batch": "count",
    "training_loop.empty_batch_s": "s", "streaming.overhead_s": "s",
    "catalog.requests": "count", "catalog.apply_s": "s",
    "catalog.save_s": "s", "catalog.state_kb": "kB",
    "learners.fit_calls": "count", "learners.fit_calls_per_batch": "count",
    "learners.fit_s": "s", "learners.protocol_s": "s",
    "learners.models_shipped": "count", "learners.bytes_shipped": "bytes",
    "preprocess.calls": "count", "preprocess.apply_s": "s",
    "executor.jobs": "count", "executor.stages": "count",
    "executor.tasks": "count", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.gc_s": "s", "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB", "executor.spill_mb": "MB",
    "proc.driver_py_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.py_worker_cpu_s": "s", "proc.steal_s": "s",
    "trace.wall_s": "s", "trace.cpu_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    """local[N] with N <= the CPUs this process may use; SPARK_GRAFT_CPUS
    lowers it further."""
    avail = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS", avail) or avail)
    return max(1, min(want, avail))


def make_session(workdir: str, cpus: int):
    from omldm_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            # the status store keeps 1000 jobs/stages by default; a run
            # submits more, and the per-batch deltas need all of them
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            # keep every file the run writes inside the checkout
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM the driver launched, and wait until no
    process this one started (JVM, Python workers) is left."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout_s)
    deadline = time.time() + timeout_s
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "omldm_spark")):
        print(f"perfbench: no omldm_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    import procstat

    load_at_start = procstat.loadavg()
    steal_at_start = procstat.steal_seconds()
    cpus = cpu_count()
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # Python workers import the program too: they inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # temporary files of Python and of every JVM (the launcher included)
    # stay in the work directory
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ.setdefault("SPARK_GRAFT_WORKERS", str(cpus))
    # a bounded driver heap keeps the JVM's resident size from tracking
    # when the collector last ran
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)

    import jobrun
    import spans

    tracer = spans.Tracer() if args.trace else None
    spark = make_session(workdir, cpus)
    try:
        if tracer is not None:
            jobrun.install_job_tracer(tracer)
        e2e, checks, info, layers = jobrun.run(
            spark, args.workload, args.seed, args.seconds, workdir, cpus,
            T_PROCESS_START, tracer)
    finally:
        if tracer is not None:
            tracer.restore()
            tracer.dump(os.path.join(
                ROOT, ".perfbench_work",
                f"spans-{args.workload}-{args.seed}.json"))
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    failed = [c for c in checks if not c[1]]
    for name, _, why in failed:
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    e2e["pass_ratio"] = (len(checks) - len(failed)) / len(checks)
    info.update({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "loadavg_at_start": load_at_start,
        "host_steal_s_at_start": steal_at_start,
        "run_steal_s": procstat.steal_seconds() - steal_at_start,
    })
    if tracer is None:
        metrics = {k: e2e[k] for k in END_TO_END}
        units = END_TO_END
    else:
        layers = dict(layers or {})
        layers["trace.wall_s"] = e2e["wall_s"]
        layers["trace.cpu_s"] = e2e["cpu_s"]
        info["end_to_end_traced"] = e2e
        metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
