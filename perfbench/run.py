#!/usr/bin/env python3
"""Crawl-engine benchmark: one named workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Runs from any working directory. The package, ``bench.py`` and the
benchmark all resolve from this file's location; every file the run
writes (corpus cache, warehouses, Spark scratch) lives
under ``.perfbench_cache/`` at the repository root and the per-run
parts are removed before exit.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced pass (see ``perfbench/README.md``). The
last line of standard output is the result object; everything else
goes to standard error. Exit code 2 means the engine could not be
imported or started, and then no result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Make the package importable here and in Python workers, and keep
    every scratch file inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["SPARK_GRAFT_PAGES_CACHE"] = os.path.join(CACHE, "pages")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def build_spark():
    """The one session conf every workload runs under."""
    from pyspark.sql import SparkSession
    cpus = nproc()
    tmp = os.path.join(CACHE, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "spark-warehouse"))
        # a driver that lives about a minute: C1 only, because C2
        # compiles of Spark's own code would burn about 40% of the run's
        # CPU and never pay back
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:TieredStopAtLevel=1")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_env()
    try:
        import bench  # noqa: F401  (corpus cache entry point)
        import web_scrapers_python_spark  # noqa: F401
        import pyspark  # noqa: F401
        import crawl
    except ImportError as ex:       # engine or pyspark not present
        print(f"perfbench: cannot import the engine: {ex}", file=sys.stderr)
        return 2
    if args.workload not in crawl.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(crawl.SHAPES)}", file=sys.stderr)
        return 2

    run_dir = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    rss = crawl.RssWatch()
    rss.start()
    try:
        t0 = time.perf_counter()
        try:
            spark = build_spark()
        except Exception:
            traceback.print_exc()
            return 2
        start_s = time.perf_counter() - t0
        try:
            res = crawl.run_workload(
                spark, crawl.SHAPES[args.workload], args.seed,
                args.seconds, bool(args.trace), run_dir, start_s, rss)
        finally:
            stop_spark(spark)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(result_line(res.correct, res.attempted, res.failed, res.metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
