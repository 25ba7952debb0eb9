"""Benchmark entry point.

    python3 perfbench/run.py --workload p2v_train --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md) from the root of a checkout of the
repository: generates the inputs from the seed, starts a local Spark
session on every core (the JVM launch included), runs one cold job in that
fresh JVM and then at least two warm jobs (more while `--seconds` have not
passed), checks every job's outputs, and prints one JSON line as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the Spark event log is on, warm jobs alternate between traced and
untraced, and the metrics are the per-layer ones.  Everything it writes
lives under `.perfbench_work/` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WARM_JOBS = 2  # at least: a traced run needs one traced and one untraced
DRIVER_MEM = "3g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: Path) -> int:
    """Environment the engine and its Python workers need, set before the
    JVM starts.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # worker-side mapInPandas entries import prod2vec_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cores


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, cores: int, event_log: Path | None):
        self.cores = cores
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log.as_uri(),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = None

    def start(self):
        from prod2vec_spark import session

        self.spark = session.get_spark("perfbench", cpus=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args: argparse.Namespace, work: Path, cores: int) -> dict:
    from perfbench.workloads import WORKLOADS, JobResult, Op

    workload = WORKLOADS[args.workload]()
    trace = bool(args.trace)
    sess = Session(cores, work / "eventlog" if trace else None)
    try:
        # set-up, once, as a user pays it: inputs, session start with the
        # JVM launch, parquet footers.  The first job then runs in this JVM.
        t0 = time.perf_counter()
        inputs = workload.generate(args.seed, str(work / "data"))
        t1 = time.perf_counter()
        spark = sess.start()
        session_s = time.perf_counter() - t1
        for t in workload.tables():
            spark.read.parquet(f"{inputs.sf_dir}/{t}.parquet").count()
        setup_s = time.perf_counter() - t0

        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
        state: dict = {}
        jobs: list[tuple[float, JobResult, object]] = []  # (wall, result, root span)

        def one_job(i: int, traced: bool) -> None:
            job_dir = str(work / f"job{i}")
            root = None
            t0, start = time.perf_counter(), time.time()
            try:
                if traced:
                    tracer.install()
                    tracer.job = f"job{i}"
                    with tracer.span("job") as root:
                        res = workload.job(spark, inputs, job_dir, tracer)
                else:
                    res = workload.job(spark, inputs, job_dir)
            except Exception:
                traceback.print_exc()
                res = JobResult([Op("job", start, time.perf_counter() - t0, ok=False)])
            finally:
                if traced:
                    tracer.uninstall()
            wall = time.perf_counter() - t0
            if all(op.ok for op in res.ops):
                try:
                    workload.check(spark, inputs, job_dir, res, state)
                except Exception:
                    traceback.print_exc()
                    for op in res.ops:
                        op.ok = False
            shutil.rmtree(job_dir, ignore_errors=True)
            jobs.append((wall, res, root))

        # the first job runs in the fresh JVM, then warm jobs until
        # --seconds have passed.  In a traced run the warm jobs alternate
        # traced and untraced, traced first: the JVM's warm-up trend then
        # counts against the trace, so the overhead figure is not low.
        one_job(0, trace)
        start, i = time.perf_counter(), 1
        while i <= WARM_JOBS or time.perf_counter() - start < args.seconds:
            one_job(i, trace and i % 2 == 1)
            i += 1
        peak_rss_mb = vm_hwm_mb(sess.jvm_pid())
    finally:
        sess.close()

    ops = [op for _, res, _ in jobs for op in res.ops]
    failed = sum(1 for op in ops if not op.ok)
    for p in state.get("problems", []):
        print(f"check failed: {p}", file=sys.stderr)
    warm = jobs[1:]
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_job_s": (jobs[0][0], "s"),
            "job_s": (statistics.median(w for w, _, _ in warm), "s"),
            "op_p50_s": (statistics.median(op.secs for _, res, _ in warm for op in workload.per_op(res.ops)), "s"),
        }
    else:
        from perfbench.trace import per_layer

        metrics = per_layer(jobs, tracer, work / "eventlog", cores)
        metrics.update(
            {
                "session.start_s": (session_s, "s"),
                "operators.skipgram.pair_rows": (float(state.get("pair_rows", 0)), "count"),
                "jvm.peak_rss_mb": (peak_rss_mb, "MB"),
                "ops.fail_frac": (failed / len(ops), "ratio"),
            }
        )
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "prod2vec_spark").is_dir() or importlib.util.find_spec("pyspark") is None:
        print(f"perfbench: the engine (prod2vec_spark/) or pyspark is missing under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cores = pin_environment(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
