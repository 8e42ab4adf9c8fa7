"""Benchmark of the searchengine_spark engine: one command, two workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with spans around every layer call and prints the per-layer
metrics.  The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it records the run environment.  The exit code is 0 only
when every output check passed.  Everything the benchmark writes stays
under ``.perfbench/`` in the checkout; ``perfbench/README.md`` describes
the workloads and metrics.
"""

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
HASH_SEED = "0"


class Run:
    """One benchmark run: its arguments, scratch directory, the lazily
    started Spark session, the tracer (traced runs only) and the tally of
    attempted and failed operations."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cache_root = os.path.join(STATE, "cache")
        self.work = os.path.join(
            STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = None
        self._spark = None
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def record(self, ok: bool, what: str = ""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def spark(self):
        if self._spark is None:
            from searchengine_spark.session import get_spark

            self._spark = get_spark(
                app=f"perfbench-{self.workload}", master=f"local[{CORES}]",
                shuffle_partitions=SHUFFLE_PARTITIONS)
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def close(self):
        """Stop Spark, wait for its JVM (and the Python workers the JVM
        owns) to exit, and remove the scratch directory.  Closing the
        gateway's stdin tells the JVM to quit."""
        if self._spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self._spark.stop()
            self._spark = None
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def configure_env(work: str):
    """Keep every file Spark and its workers write inside the checkout,
    turn the console progress bar off, and let the Python workers import
    the engine from the checkout."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # the short-lived JVM spark-submit runs to build the Spark driver's
    # command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        "--conf spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={tmp}\\ -XX:-UsePerfData",
        "pyspark-shell",
    ])


def environment() -> dict:
    import pyarrow
    import pyspark

    return {
        "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
        "python_hash_seed": HASH_SEED,
        "cpus_usable": len(os.sched_getaffinity(0)),
    }


def main(argv=None) -> int:
    # String hashing is salted per process, and the salt alone moved the
    # searcher's load time by 1.5x between runs on a 4-vCPU VM; one salt for
    # the benchmark and its Spark workers takes that out of the spread.
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, *sys.argv])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args)
    configure_env(run.work)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    env = environment()
    env["load_before"] = os.getloadavg()
    t0 = time.perf_counter()
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](run)
    finally:
        run.close()
    env["load_after"] = os.getloadavg()
    env["wall_s"] = time.perf_counter() - t0
    metrics = layers if run.trace else e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    out = os.path.join(STATE, "results",
                       f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"env": env, "problems": run.problems,
                   "end_to_end": e2e, "per_layer": layers, **result}, f,
                  indent=1)
    if run.tracer is not None:
        run.tracer.dump(out[:-len(".json")] + "-spans.json")
    for p in run.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
