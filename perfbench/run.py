"""Benchmark of the spark-graft library: one named workload, closed loop.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 5 --trace 0

One process, one client, one op at a time, on ``local[<cpus>]``. The run
starts a session, writes the workload's inputs from the seed, runs every
op once with its output checked and then untimed warm-up passes, then
repeats passes over the op list (in a seeded order) until ``--seconds``
have passed and the workload's minimum number of passes is made. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes, reads Spark's per-stage counters
for the traced ones and writes its spans to
``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _environment(work: Path) -> dict[str, str]:
    """Process environment for the session: Spark's Python workers import
    the library from the checkout, and every scratch file stays in ``work``."""
    tmp, jvm_tmp = work / "tmp", work / "jvm-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jvm_tmp.mkdir()
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        # no hsperfdata file: the JVM would write it under /tmp. A fixed set
        # of JIT compiler threads, so their CPU time can be told apart from
        # the rest (a compiler thread that exits takes its count with it).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep every stage of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        extra_conf = _environment(work)
        from measure import run_workload  # imports the library: fails fast without it

        with contextlib.redirect_stdout(sys.stderr):
            result = run_workload(args, work, extra_conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left only if it holds traces
            work.parent.rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
