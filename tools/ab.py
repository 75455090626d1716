"""Interleaved A/B of one query between two repo roots.

Each sample spawns a fresh python against one root (old = a checkout of
the commit to compare against, new = this repo), builds a session, warms
the query once at sf0.001 (codegen and schemas), then times ``runs``
noop-sink materializations at the probe SF. Fresh processes let the arms
differ anywhere, operator internals included. Arms alternate per rep so
host contention windows hit both equally, and a bench.py box-speed
anchor is recorded per rep. Session startup is outside the timed region
and both arms pay the same cold-JVM cost, so the comparison is fair
even though absolute numbers sit above the bench's warm ones.

Usage:
  python tools/ab.py <old_root> <query> [reps] [runs_per_rep] [sf_dir]
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import cpu_reference_seconds

CHILD = r"""
import json, sys, time
root, query, sf_dir, runs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
sys.path.insert(0, root)
from data_pipeline_with_spark_spark.plans import all_queries
from data_pipeline_with_spark_spark.session import get_spark
from data_pipeline_with_spark_spark.sources.writers import write_noop
spark = get_spark("probe_ab")
spec = all_queries()[query]
write_noop(spec.build(spark, "/root/testdata/sf0.001"))  # warm codegen/schemas
samples = []
for _ in range(runs):
    t0 = time.perf_counter()
    write_noop(spec.build(spark, sf_dir))
    samples.append(round(time.perf_counter() - t0, 3))
print(json.dumps(samples))
"""


def run_arm(root: str, query: str, sf_dir: str, runs: int) -> list[float]:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, root, query, sf_dir, str(runs)],
        capture_output=True, text=True, timeout=1800,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    try:
        return json.loads(line)
    except json.JSONDecodeError:
        print(out.stderr[-2000:], file=sys.stderr)
        raise


def main() -> None:
    old_root, query = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sf_dir = sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1"
    new_root = str(Path(__file__).resolve().parent.parent)
    arms: dict[str, list[float]] = {"old": [], "new": []}
    anchors: list[float] = []
    for rep in range(reps):
        for name, root in (("old", old_root), ("new", new_root)):
            anchors.append(cpu_reference_seconds())
            s = run_arm(root, query, sf_dir, runs)
            arms[name].extend(s)
            print(f"rep{rep} {name}: {s} (anchor {anchors[-1]})", flush=True)
    summary = {
        "query": query,
        "sf_dir": sf_dir,
        "old_min": min(arms["old"]),
        "new_min": min(arms["new"]),
        "old_med": round(statistics.median(arms["old"]), 3),
        "new_med": round(statistics.median(arms["new"]), 3),
        "ratio_min": round(min(arms["new"]) / min(arms["old"]), 3),
        "anchors": anchors,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
