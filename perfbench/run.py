"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses from
``.perfbench_work/cache``) the seeded inputs and their oracle, starts one
``local[<=4]`` Spark session, sets the engine up, measures, checks the
crawl output, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The exit code is 0 only if every operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"


def _environment(run_dir: Path) -> None:
    """Keep every file the run and its Spark JVM write inside the checkout,
    and let the Python workers import the package from it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.pop("RCS_TRACE_WAVES", None)


def _stop(spark) -> None:
    """Stop the session, then end its JVM by closing the gateway's stdin
    (the gateway exits on EOF) and wait for the JVM and the Python workers
    it forked to exit."""
    from probes import tree_pids

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "review_crawler_spark").is_dir():
        print(f"perfbench: no review_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]

    import report
    import sites
    import spans
    import workloads
    from probes import RssSampler
    from review_crawler_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    inputs = sites.load_inputs(WORK / "cache", args.workload, args.seed)

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    spark = None
    try:
        with RssSampler() as rss:
            tracer = spans.Tracer() if args.trace else None
            if tracer:
                os.environ["RCS_TRACE_WAVES"] = "1"
            start = time.perf_counter()
            spark = get_spark(cpus=CPUS, shuffle_partitions=CPUS,
                              driver_memory=DRIVER_MEMORY)
            spark.range(1).count()
            session_s = time.perf_counter() - start
            run = workloads.Run(spark, inputs, run_dir, args.seconds, tracer)
            workloads.WORKLOADS[args.workload](run)
        if tracer:
            metrics = report.per_layer(run, session_s)
            tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
        else:
            metrics = report.end_to_end(run, session_s, rss)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for msg in run.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    correct = not run.failures
    failed_ops = sum(1 for o in run.ops if not o["ok"])
    report.print_summary(run, metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, len(run.ops)),
        "failed": max(failed_ops, 0 if correct else 1),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
