"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload chain_backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  Every run is isolated:
all state (bronze compaction cache, silver store, corpus, Spark local dirs,
temp files, span output) lives under a fresh directory in
``.perfbench_runs/`` that is deleted when the run ends.  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it lists every metric by name and unit.  The
exit code is 0 only when every correctness check passed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
work with a span around every call into an engine layer and reports the
per-layer metrics (``README.md`` lists both sets).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chain_backfill", "analytics_ingest")


def _isolate(run_dir: str) -> None:
    """Point every writer the run starts at ``run_dir`` and make the engine
    importable by Spark's Python workers."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CACHE=os.path.join(run_dir, "bronze_cache"),
        SPARK_GRAFT_CPUS=cpus,
        # the session's 8g default assumes a host of its own; runs share one
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # every JVM the run starts: temp files here, no perf-data file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.local.dir={run_dir}/spark-local",
                f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    ap.add_argument("--spans", default=None, help="with --trace 1, also keep the span file here")
    ap.add_argument(
        "--fault",
        choices=("none", "corrupt_silver", "admit_duplicate"),
        default="none",
        help="self-test only: tamper with the output before it is checked",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "block_crawler_spark")):
        print(f"perfbench: no engine package at {ROOT}/block_crawler_spark", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        _isolate(run_dir)
        import workloads  # after _isolate: the engine reads its env at import

        result = workloads.run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = os.path.dirname(run_dir)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    print("metrics: " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in result.report.items()))
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()},
            }
        )
    )
    return 0 if result.correct else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: exit {code} after {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
