"""Benchmark entry point.

    python3 perfbench/run.py --workload build|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. Generates the
workload's inputs from --seed, runs one closed-loop client for about
--seconds of measured work after an untimed warm-up, checks the
engine's outputs, and prints one JSON line last:

    {"correct": bool, "attempted": n, "failed": n,
     "metrics": {name: {"value": v, "unit": u}, ...}}

--trace 0 prints the end-to-end metrics; --trace 1 gives every call its
own Spark job group, turns on the Spark event log and prints the
per-layer metrics instead. Exits 1 when an output is wrong, 2 when the
engine cannot be imported. Everything the run writes stays under
.perfbench_work/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "3g"


def _env(work: str, trace: bool):
    """Keep Spark, the JVM and Python workers inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    os.environ.update({
        # every JVM (the launcher and the driver): temp files here, and
        # no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local, "SPARK_LOCAL_IP":
        "127.0.0.1", "IRKIT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])})
    os.environ.pop("IRKIT_EVENTLOG", None)
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        os.environ["IRKIT_EVENTLOG"] = events
    tempfile.tempdir = tmp


class Run:
    def __init__(self, args, work):
        from perfbench.gen import Inputs
        from perfbench.trace import Tracer
        from irkit_spark.config import get_spark
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", self.cores, SHUFFLE_PARTITIONS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, bool(args.trace))
        self.inputs = Inputs(args.seed)

    def fail(self, msg: str):
        self.failed += 1
        print(f"FAILED {msg}", file=sys.stderr, flush=True)


def _stop(spark) -> float:
    """Stop the session, end the JVM and wait for it; returns the CPU
    seconds of this process and everything it started."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=120)
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("build", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_1m = os.getloadavg()[0]
    # the JVM and its Python workers inherit this core set
    os.sched_setaffinity(0, os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    try:
        import irkit_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, bool(args.trace))

    from perfbench import workloads as W
    from perfbench.report import end_to_end, per_layer
    run = Run(args, work)
    spark = run.spark
    wl = (W.BuildWorkload if args.workload == "build"
          else W.IngestWorkload)(run)
    try:
        try:
            wl.setup()
            wl.samples.clear()
            t0 = time.perf_counter()
            setup_s = t0 - T_START
            own0 = run.tracer.own_s
            if args.workload == "build":
                wl.measure(t0 + args.seconds / 2, t0 + args.seconds)
            else:
                wl.measure(t0 + args.seconds)
            window_s = time.perf_counter() - t0
            own_s = run.tracer.own_s - own0
            t1 = time.perf_counter()
            wl.verify()
            print(f"perfbench: setup {setup_s:.1f}s, window {window_s:.1f}s,"
                  f" checks {time.perf_counter() - t1:.1f}s",
                  file=sys.stderr, flush=True)
        except W.Failed as e:
            run.fail(str(e))
            return 1
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        counts = run.tracer.job_counts() if args.trace else {}
        if args.trace:
            layer = per_layer(wl, counts, window_s, own_s)
    finally:
        cpu_s = _stop(spark)
    if args.trace:
        from perfbench.report import event_metrics
        from perfbench.trace import event_log_work
        layer.update(event_metrics(wl, event_log_work(
            os.path.join(work, "events"))))
        layer["host.loadavg_1m"] = (load_1m, "1")
        layer["run.cpu_s"] = (cpu_s, "s")
        metrics = layer
        run.tracer.dump(os.path.join(
            base, f"spans-{args.workload}-{args.seed}.jsonl"), counts)
    else:
        metrics = end_to_end(wl, setup_s, rss_mb)
    shutil.rmtree(work, ignore_errors=True)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
