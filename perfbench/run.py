"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (any working directory works: paths are
resolved from this file).  The workload generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, runs them through
the package's public API on a local Spark session, checks the outputs and
prints, as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` the per-layer metrics, from a run whose operations are
traced (spans and counters go to ``.perfbench_work/trace_<workload>.json``).
A line of run context (cores, ``SPARK_GRAFT_CPUS``, sample counts and, in
traced runs, the ``bench.py`` calibration marker) is printed just before
the result.
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


def _available_cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark process: arguments, working directory, Spark session
    and tracer."""

    def __init__(self, args, t_start: float):
        import tracing

        self.t_start = t_start
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = args.cores
        self.work = os.path.join(ROOT, ".perfbench_work", args.workload)
        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.tracer = tracing.Tracer()
        self.calibration_s = None
        self._event_log = None

    def since_start(self) -> float:
        return time.perf_counter() - self.t_start

    def start_spark(self):
        """A local session with the package's engine confs, every file it
        writes kept inside the working directory."""
        from pyspark.sql import SparkSession

        from financial_data_ingestion_canonical_snowflake_spark.session import (
            apply_runtime_confs,
        )

        tmp = os.path.join(self.work, "tmp")
        # the environment variable, if set, would win over spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        b = (
            SparkSession.builder.appName(f"perfbench-{self.workload}")
            .master(f"local[{self.cores}]")
            .config("spark.driver.memory", "2g")
            # a heap committed up front keeps peak RSS from depending on
            # when the collector chose to grow it
            .config("spark.driver.extraJavaOptions", f"-Xms2g -Djava.io.tmpdir={tmp}")
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "spark-warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        apply_runtime_confs(self.spark)
        self.tracer.sc = self.spark.sparkContext
        if self.trace:
            import layers

            layers.install(self.tracer)
        return self.spark

    def pids(self) -> list[int]:
        """This Python process and the JVM it launched."""
        return [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def event_log(self):
        """Jobs and stages of this run's event log (stops the session: the
        log is complete only then)."""
        if self._event_log is None:
            import tracing

            app = self.spark.sparkContext.applicationId
            self.calibrate()
            self.stop()
            self._event_log = tracing.read_event_log(
                os.path.join(self.work, "eventlog", app)
            )
        return self._event_log

    def calibrate(self) -> None:
        """Time the ``bench.py`` host calibration marker (imported, not
        copied) once, after the measured operations.  Traced runs only: it
        costs seconds of every run the time budget counts."""
        if self.calibration_s is None and self.spark is not None:
            import bench

            self.calibration_s = bench._calibration_runs(self.spark, reps=1)[0]

    def stop(self) -> None:
        """Stop the session, then the JVM (and with it the Python workers),
        and wait for it to exit."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.tracer.unpatch()
            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                # the gateway JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS") or _available_cores()),
        help="local[N] width (default: $SPARK_GRAFT_CPUS, else the usable cores)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Python workers import the package too: they inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import financial_data_ingestion_canonical_snowflake_spark  # noqa: F401  fail fast

    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run = Run(args, t_start)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    # the package sizes shuffles from SPARK_GRAFT_CPUS: keep it equal to local[N]
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        if run.trace:
            run.calibrate()
            res.layers["host.calibration_s"] = run.calibration_s
            run.tracer.dump(
                os.path.join(ROOT, ".perfbench_work", f"trace_{args.workload}.json"),
                {"layers": res.layers, "notes": res.notes},
            )
    finally:
        run.stop()

    if run.trace:
        # a layer the workload never enters reads 0 (e.g. stream.* on a batch run)
        section, values = "per_layer", {m["name"]: 0.0 for m in spec["per_layer"]}
        values.update(res.layers)
    else:
        section, values = "end_to_end", res.e2e
        missing = [m["name"] for m in spec[section] if m["name"] not in values]
        if missing:
            raise RuntimeError(f"workload did not produce {missing}")
    print(json.dumps({
        "context": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": args.cores, "nproc": _available_cores(),
            "SPARK_GRAFT_CPUS": graft_cpus,
            "bench_calibration_s": run.calibration_s, **res.notes,
        }
    }, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
