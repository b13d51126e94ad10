#!/usr/bin/env python3
"""Benchmark of the advisory pipeline and of a registry query pass.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``pipeline_incremental`` and ``registry_queries``
(``perfbench/README.md`` says what each stresses).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run. A longer
record of each run (samples, set-up parts, host state, trace tables)
is written under ``.perfbench_work/results/``.

All scratch data (inputs, tables, Spark local dirs, event logs) lives
under ``.perfbench_work/`` in the repository root.

The first ``pipeline_incremental`` run in a checkout seeds the pipeline
base in a child process (``--seed-base``) before it measures anything,
so every measured process starts from a cold JVM; ``setup_s`` leaves
out the time spent waiting for that child.
"""

from __future__ import annotations

import os


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline_incremental", "registry_queries")


def _host_state() -> dict:
    from bench import _foreign_spark_pids

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "foreign_spark_pids": _foreign_spark_pids(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--seed-base",
        action="store_true",
        help="only seed the pipeline base snapshot, then exit (run.py starts "
        "this itself when the checkout has no snapshot yet)",
    )
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "advisorydatapipeline_spark")):
        print("perfbench: package advisorydatapipeline_spark not found", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import workloads

    seed_base_s = 0.0
    if (
        args.workload == "pipeline_incremental"
        and not args.seed_base
        and not os.path.isdir(workloads.base_snapshot(ROOT))
    ):
        t = time.time()
        code = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--seed-base"]
        ).returncode
        seed_base_s = time.time() - t
        if code:
            print(f"perfbench: seeding the base failed with code {code}", file=sys.stderr)
            return code

    # as the caller set them, before the benchmark sets its own
    graft_env = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}
    work = os.path.join(
        ROOT, ".perfbench_work", "seed-base" if args.seed_base else args.workload
    )
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "derby", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # Spark's Python workers import the package and the benchmark's
    # fetch function; everything temporary stays under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    tempfile.tempdir = None

    nproc = len(os.sched_getaffinity(0))
    host_before = _host_state()
    ctx = workloads.Context(
        args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work, nproc
    )
    if args.seed_base:
        workloads.seed_base(ctx)
        shutil.rmtree(work, ignore_errors=True)
        return 0
    result, record = workloads.run(ctx, PROCESS_START + seed_base_s)
    record["setup"]["seed_base_s"] = seed_base_s
    record["host"] = {
        "before": host_before,
        "after": _host_state(),
        "spark_graft_env": graft_env,
    }
    record["driver_memory"] = workloads.DRIVER_MEMORY
    record["result"] = result

    out_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
