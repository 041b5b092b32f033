"""Job-shaped benchmark for the ner4cti_spark engine.

    python3 jobbench/run.py --workload cti_prose --seed 1 --seconds 60 --trace 0

Run from the root of a checkout. Each run is one fresh driver process
with one Spark session (local mode, 3 cores) and a fixed
sequence of steps; every end-to-end number is taken at a fixed position
in that sequence, never from a loop bounded by time, so both sides of
a comparison sample the same point of the session's warm-up curve.
`--seconds` is accepted and does not change the work.

Prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`, event log on, layer spans around the engine's public
calls). All scratch files live under `.jobbench_work/` in the checkout
and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def box_calib() -> float:
    """Fixed CPU-bound probe (a sha256 chain); never adjusts a metric."""
    t0 = time.perf_counter()
    h = b"jobbench"
    for _ in range(300_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


class Run:
    """State of one benchmark run: session, metrics, checks."""

    def __init__(self, seed: int, trace: bool, work: str):
        self.seed, self.trace, self.work = seed, trace, work
        # 3 Spark cores on a 4-core box leave one for the driver JVM's JIT
        # and GC threads; with all 4, cold-job spread across seeds doubled
        self.cores = min(3, len(os.sched_getaffinity(0)))
        self.spark = None
        self.tracer = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.setup: dict[str, float] = {}
        self.info: dict = {}  # printed on the line before the result
        self.attempted = 0
        self.failed = 0

    # ---- session
    def start_spark(self):
        from ner4cti_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "events"))
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": os.path.join(self.work, "events"),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        with self.setup_step("setup.spark_s"):
            self.spark = get_spark(app_name="ner4cti_job", cores=self.cores, extra_conf=conf)
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the driver JVM (its Python worker daemon
        goes down with the SparkContext), and wait until the JVM exits."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    def stop_and_read_event_log(self) -> dict:
        from spans import jvm_rss_mb, parse_event_log

        self.layer["jvm_rss_mb"] = jvm_rss_mb(self.spark)
        self.stop_spark()
        return parse_event_log(os.path.join(self.work, "events"))

    def worker_rss(self) -> float:
        from spans import worker_rss_mb

        return worker_rss_mb(self.spark, self.cores)

    # ---- recording
    @contextmanager
    def setup_step(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def metric(self, name: str, value: float) -> None:
        self.e2e[name] = float(value)

    def attempt(self) -> None:
        self.attempted += 1

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {name}: {detail}", file=sys.stderr, flush=True)


def _result(run: Run) -> dict:
    """Every end-to-end metric (untraced) or every per-layer metric
    (traced); a layer the workload does not run reports 0."""
    from metrics import END_TO_END, PER_LAYER

    if run.trace:
        out = {k: {"value": run.layer.get(k, 0), "unit": v[0]} for k, v in PER_LAYER.items()}
    else:
        out = {k: {"value": run.e2e[k], "unit": v[0]} for k, v in END_TO_END.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": out}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("cti_prose", "code_ioc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0,
                    help="accepted; the run's work is fixed and does not depend on it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ner4cti_spark")):
        print(f"no ner4cti_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".jobbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every scratch file of Python, Spark and the JVM stays in the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    run = Run(args.seed, bool(args.trace), work)
    calib_start = box_calib()
    try:
        from jobs import run_pipeline_workload

        run_pipeline_workload(run, args.workload)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    calib_end = box_calib()

    setup_s = sum(run.setup.values())
    run.metric("setup_s", setup_s)
    run.layer.update(run.setup)
    run.layer["box.calib_s"] = statistics.mean((calib_start, calib_end))
    run.layer["box.calib_drift"] = calib_end / calib_start
    run.info.update({"box.calib_start_s": calib_start, "box.calib_end_s": calib_end,
                     **run.setup})
    print(json.dumps({"info": run.info}))
    print(json.dumps(_result(run)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
