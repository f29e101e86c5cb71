"""Run one workload of the repo benchmark and print its result.

    python3 perfbench/run.py --workload pipeline_fanout --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the ``end_to_end`` ones listed in
``BENCHMARK.json``; with ``--trace 1`` they are the ``per_layer`` ones, and
the spans of the run are written to ``.perfbench/traces/``. A per-layer
metric of a layer the workload never calls reads 0. ``--smoke`` runs the
toy input sizes of the self-test. See ``perfbench/README.md``.

Everything the run writes stays under ``.perfbench/`` in the checkout; its
scratch directory is removed on exit, failure included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv, spec: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="toy input sizes (the benchmark's self-test)")
    return p.parse_args(argv)


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GB: the workloads need far
    less, and the package default (48g) oversubscribes small hosts."""
    from measure import mem_kb

    return min(4096, mem_kb("MemTotal") // 4096)


def start_spark(work: str, worker_warm: bool):
    """``session.get_spark`` on ``local[nproc]``, with every scratch path
    inside ``work``. Returns (spark, start_s, worker_warm_s).

    With ``worker_warm``, two identical tiny UDF jobs run; the first
    starts the Python workers, and the difference is their start-up
    cost. Without it, the workload's warm-up pays that cost instead."""
    from pyspark.sql import functions as F

    from log_analysis_spark.session import get_spark
    from measure import cpu_count

    n = cpu_count()
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", extra_conf=conf)
    start_s = time.perf_counter() - t0

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def tiny_job() -> float:
        t = time.perf_counter()
        spark.range(8 * n, numPartitions=n).select(plus_one("id").alias("x")) \
            .agg(F.sum("x")).collect()
        return time.perf_counter() - t

    if not worker_warm:
        return spark, start_s, 0.0
    first = tiny_job()
    return spark, start_s, first - tiny_job()


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait for every child to exit."""
    import subprocess

    from pyspark import SparkContext

    from measure import descendants, stop_processes

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    stop_processes(pids)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def result(spec: dict, run, trace: int) -> dict:
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        value, unit = run.metrics.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: measured in {unit}, declared {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.path.insert(0, ROOT)

    from measure import Tracer, descendants, host_state, stop_processes

    t0 = time.perf_counter()
    context = {"workload": args.workload, "seed": args.seed,
               "host_start": host_state(), "phases_s": {}}
    phases = context["phases_s"]
    spark = None
    try:
        import workloads  # needs the program: fails in a bare benchmark dir

        spark, start_s, warm_s = start_spark(work, worker_warm=bool(args.trace))
        phases["session"] = time.perf_counter() - t0
        run = workloads.Run(spark=spark, work=work,
                            cache=os.path.join(ROOT, ".perfbench", "cache"),
                            seed=args.seed,
                            seconds=args.seconds,
                            scale=workloads.SMOKE if args.smoke else workloads.FULL,
                            tracer=Tracer() if args.trace else None)
        run.setup_s = start_s + warm_s
        run.put("session.start_s", start_s, "s")
        run.put("session.worker_warm_s", warm_s, "s")
        workloads.WORKLOADS[args.workload](run)
        phases["workload"] = time.perf_counter() - t0 - phases["session"]
    finally:
        t1 = time.perf_counter()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_processes(descendants())
            shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t1

    context["host_end"] = host_state()
    context["problems"] = run.problems
    context["samples"] = run.samples
    for p in run.problems:
        print(f"check failed: {p}", file=sys.stderr)
    out = result(spec, run, args.trace)
    if run.tracer is not None:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"context": context, "spans": run.tracer.self_times(),
                       "metrics": out["metrics"]}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
