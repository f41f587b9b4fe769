"""Benchmark entry point.

    python3 perfbench/run.py --workload filing_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed, starts the engine's SparkSession on local[<nproc>],
measures one client in a closed loop for ``--seconds`` seconds, checks
the outputs, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. Everything
it writes lives under ``.perfbench_tmp/`` (removed at exit), except the
span file of a traced run, written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import children, wait_gone  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# The engine defaults to a 16 GB driver heap, sized for its 100x lake;
# the benchmark's inputs need a fraction of 1 GB.
DRIVER_MEM = "1g"


class Run:
    """One benchmark run: its temporary root, its SparkSession and JVM,
    its tracer, and the set-up protocol."""

    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        tmp_root = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(tmp_root, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
        for d in ("tmp", "local", "inputs"):
            os.makedirs(os.path.join(self.work, d))
        self.spark = None
        self.jvm_pid = None
        self.start_s = self.touch_s = None
        self.tracer = Tracer()

    def environment(self) -> None:
        """Confine every write to the temporary root and let Spark's Python
        workers import the engine and the benchmark from any cwd."""
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # spark-warehouse and any other cwd-relative output land here
        os.chdir(self.work)

    def setup(self, touch) -> None:
        """``get_spark``, which launches the JVM, plus the first touch of
        the inputs: what every fresh process pays before its first
        operation."""
        from x17a5_spark import session

        self.tracer.enabled = self.traced
        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        with self.tracer.span("tables.touch"):
            touch(self.spark)
        t2 = time.perf_counter()
        self.tracer.enabled = False
        self.start_s, self.touch_s = t1 - t0, t2 - t1
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    @property
    def setup_s(self) -> float:
        return self.start_s + self.touch_s

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")

    def close(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for them,
        and remove the temporary root."""
        try:
            self.tracer.uninstall()
            if self.spark is not None:
                from pyspark import SparkContext

                procs = children(os.getpid())
                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        if proc.stdin:
                            proc.stdin.close()
                        try:
                            proc.wait(timeout=30)
                        except Exception:  # noqa: BLE001 — then kill it
                            proc.kill()
                            proc.wait(timeout=10)
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                wait_gone(procs | children(os.getpid()), timeout=20)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass


def write_trace(run: Run, workload: str) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-seed{run.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": run.tracer.spans}, fh)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark
        import x17a5_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        run.environment()
        result = workloads.WORKLOADS[args.workload](run)
        if run.traced:
            result["record"]["trace_file"] = write_trace(run, args.workload)
    finally:
        run.close()

    result["record"].update(
        workload=args.workload,
        seed=args.seed,
        nproc=run.cores,
        spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
        pyspark=pyspark.__version__,
        loop="closed",
        clients=1,
    )
    # a metric nothing could be measured for (NaN) is left out
    metrics = {k: (v, u) for k, (v, u) in
               (result["per_layer"] if run.traced else result["end_to_end"]).items()
               if math.isfinite(v)}
    for name, (value, unit) in result["report"].items():
        print(f"perfbench: {name} = {value:.6g} {unit}")
    print("perfbench record: " + json.dumps(result["record"], sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
