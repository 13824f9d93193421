#!/usr/bin/env python3
"""The repository's benchmark of record.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 15 --trace 0

One run:

1. generates its inputs from the seed under ``.perfbench/`` in the checkout
   (the catalog tables once per checkout, the landing batches every run);
2. starts the driver JVM with ``get_spark`` on ``local[<cores>]``, then sets
   the session up ``SETUP_WARM + SETUP_REPS`` more times in that JVM and
   reports the median of the last ``SETUP_REPS`` as ``setup_s``. One set-up
   is ``spark.stop()`` (untimed), ``get_spark()`` and a first small job. The
   Python workers are started once afterwards, untimed: their start-up does
   not depend on the program. Then the workload's warm-up pass runs,
   untimed, so that the JIT compilation of a fresh JVM does not land on the
   timed ops;
3. runs whole passes of the workload's ops until ``--seconds`` of timed work
   is done (at least one pass), checking each op's output outside the timed
   region;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, see ``tracing.py``).

Nothing but that last line is written to standard output. The exit code is 0
only when the run completed; it is 2 when the program is not in the checkout
and 3 when another run holds the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "bytesme_etl_batch_pipeline_spark"
SETUP_WARM = 1  # an untimed set-up first: the set-up path's own JIT warm-up
SETUP_REPS = 4
APP = "perfbench"
MAX_PASSES_S = 120.0  # stop starting passes after this much wall time, whatever --seconds says


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep every file Spark, the JVM, DuckDB and the Python workers write
    inside the checkout, and let the workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_SUBMIT_OPTS": java_opts,
            "SPARK_LAUNCHER_OPTS": java_opts,
            "SPARK_GRAFT_CPUS": str(_cores()),
            "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([path] if path else [])),
        }
    )
    os.chdir(WORK)  # spark-warehouse, metastore and derby.log land here


def _first_job(spark) -> None:
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id")).collect()


def _start_python_workers(spark) -> None:
    """One Arrow UDF task per core, so every pooled worker has imported
    pandas and pyarrow before the first timed op."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    double = pandas_udf(lambda v: v * 2.0, "double", PandasUDFType.SCALAR)
    cores = _cores()
    df = spark.range(0, 64 * cores, 1, cores)
    df.select(double(F.col("id").cast("double")).alias("y")).agg(F.sum("y")).collect()


class Session:
    """The driver JVM and its SparkSession; ``stop`` waits for the JVM and
    the Python workers it started to exit."""

    def __init__(self):
        from bytesme_etl_batch_pipeline_spark.session import get_spark

        self._get_spark = get_spark
        t0 = time.perf_counter()
        self.spark = self._start()
        self.cold_start_s = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def _start(self):
        spark = self._get_spark(APP)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> tuple[float, float]:
        """Tear the session down and set it up again in the running JVM."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._start()
        t1 = time.perf_counter()
        _first_job(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the driver JVM")

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.jvm.stdin.close()  # the gateway server exits when stdin closes
        try:
            self.jvm.wait(timeout=30)
        except Exception:
            self.jvm.kill()
            self.jvm.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> dict:
    import workloads

    job = workloads.WORKLOADS[workload](WORK, seed, smoke)
    session = Session()
    tracer = None
    try:
        log(f"JVM up in {session.cold_start_s:.2f} s")
        setups = [session.setup() for _ in range(SETUP_WARM + SETUP_REPS)]
        log("set-ups " + ", ".join(f"{s + w:.2f}" for s, w in setups) + " s")
        setups = setups[SETUP_WARM:]
        spark = session.spark
        t0 = time.perf_counter()
        _start_python_workers(spark)
        python_s = time.perf_counter() - t0
        if trace:
            import tracing

            # installed before the warm-up pass, so that functions the
            # program captures on first use (the pipeline's stages) are the
            # traced ones; what the warm-up records is reset before the
            # timed passes
            tracer = tracing.Tracer(spark)
            tracer.install()
        failures: list[str] = []
        attempted = 0
        t0 = time.perf_counter()
        for op in job.warm_ops():
            attempted += 1
            _, error = _run_op(spark, op, attempted, None)
            if error is not None:
                failures.append(f"warm-up {op.name}: {error}")
                log(f"warm-up op {op.name}: FAILED {error}")
        warm_s = time.perf_counter() - t0
        log(f"warm-up pass: {warm_s:.2f} s")
        if tracer is not None:
            tracer.reset()
        op_times: list[float] = []
        pass_times: list[float] = []
        timed = 0.0
        index = 0
        started = time.perf_counter()
        while True:
            job.begin_pass()
            pass_s = 0.0
            for op in job.pass_ops(index):
                attempted += 1
                elapsed, error = _run_op(spark, op, attempted, tracer)
                pass_s += elapsed
                if error is None:
                    if op.in_p50:
                        op_times.append(elapsed)
                    log(f"pass {index} op {op.name}: {elapsed:.3f} s, checked")
                else:
                    failures.append(f"{op.name}: {error}")
                    log(f"pass {index} op {op.name}: FAILED {error}")
            pass_times.append(pass_s)
            timed += pass_s
            index += 1
            if timed + statistics.median(pass_times) > seconds:
                break
            if time.perf_counter() - started > MAX_PASSES_S:
                break
        job.timed_s = timed
        summary = job.summary()
        rss = session.peak_rss_mb()
        if tracer is not None:
            tracer.close()
    finally:
        job.close()
        session.stop()

    if trace:
        trace_path = os.path.join(WORK, f"trace-{workload}-{seed}.json")
        tracer.dump(trace_path)
        log(f"per-op trace written to {trace_path}")
        metrics = tracer.metrics(_cores())
        metrics.update(summary)
        metrics["session.get_spark_s"] = (statistics.median(s for s, _ in setups), "s")
        metrics["session.first_job_s"] = (statistics.median(w for _, w in setups), "s")
        metrics["session.cold_start_s"] = (session.cold_start_s, "s")
        metrics["session.python_workers_s"] = (python_s, "s")
        metrics["session.warm_pass_s"] = (warm_s, "s")
        metrics["session.jvm_peak_rss_mb"] = (rss, "MB")
        metrics["trace.wall_s"] = (statistics.median(pass_times), "s")
    else:
        metrics = {
            "setup_s": (statistics.median(s + w for s, w in setups), "s"),
            "wall_s": (statistics.median(pass_times), "s"),
            "op_p50_s": (statistics.median(op_times) if op_times else 0.0, "s"),
        }
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def _run_op(spark, op, index: int, tracer) -> tuple[float, str | None]:
    """Time one op (build + full evaluation), then check its output."""
    prepare = getattr(op.run, "prepare", None)
    if prepare is not None:
        prepare()
    t0 = time.perf_counter()
    try:
        if tracer is not None:
            tracer.phase(index, "build")
        df = op.run(spark)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.phase(index, "exec")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    except Exception as e:  # an op that raises is a failed op, not a crashed run
        if tracer is not None:
            tracer.idle()
        return time.perf_counter() - t0, f"raised {type(e).__name__}: {str(e)[:300]}"
    if tracer is not None:
        tracer.finish_op(index, op.name, t1 - t0, t2 - t0)
    if op.check is None:
        return t2 - t0, None
    try:
        error = op.check(spark, df)
    except Exception as e:
        error = f"check raised {type(e).__name__}: {str(e)[:300]}"
    return t2 - t0, error


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(f"perfbench: {ROOT} does not hold the program ({PACKAGE}/, tests/oracle.py)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()
    import fcntl

    lock = open(os.path.join(WORK, "run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is using this checkout", file=sys.stderr)
        return 3
    out = sys.stdout
    sys.stdout = sys.stderr  # keep program prints off the result line
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    finally:
        sys.stdout = out
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
