"""Per-phase CPU and wall time of the benchmark's `ingest` workload.

Runs `perfbench/run.py --workload ingest --trace 0` through its public
`main`, with `append_segment`, `LireQueryEngine.refresh` and
`compact_segments` wrapped so that each call records its tree CPU seconds
(`perfbench/hostenv.tree_cpu_s`: this process, the Spark JVM and its
Python workers), its wall time and the Spark jobs it ran
(`liresolr_spark.session.jobs_run`, which the tests count with too). Prints
the benchmark's own lines, then one line per wrapped call, the per-phase
totals, and the same as one JSON object. perfbench/ is imported, never
modified.

Usage:
  python tools/ingest_phases.py --seed 1
  python tools/ingest_phases.py --seed 7121 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args(argv)

    import hostenv
    import run

    from pyspark.sql import SparkSession

    import liresolr_spark.plans.compact as compact
    import liresolr_spark.streaming.ingest as ingest
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.session import jobs_run

    calls: list[tuple[str, float, float, int]] = []

    def timed(phase, fn):
        def wrapper(*a, **k):
            spark = SparkSession.getActiveSession()
            c0, t0 = hostenv.tree_cpu_s(), time.time()
            out, jobs = jobs_run(spark, lambda: fn(*a, **k))
            calls.append((phase, hostenv.tree_cpu_s() - c0,
                          time.time() - t0, jobs))
            return out
        return wrapper

    # the workload imports these names at call time, so module attributes
    # (and the class attribute for refresh) are the seams
    ingest.append_segment = timed("append_segment", ingest.append_segment)
    compact.compact_segments = timed("compact_segments",
                                     compact.compact_segments)
    LireQueryEngine.refresh = timed("refresh", LireQueryEngine.refresh)

    rc = run.main(["--workload", "ingest", "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", "0"])

    totals: dict = {}
    print(f"{'call':<18}{'cpu_s':>9}{'wall_s':>9}{'jobs':>6}")
    for phase, cpu, wall, jobs in calls:
        print(f"{phase:<18}{cpu:9.2f}{wall:9.2f}{jobs:6d}")
        t = totals.setdefault(phase, {"calls": 0, "cpu_s": 0.0, "wall_s": 0.0,
                                      "jobs": 0})
        t["calls"] += 1
        t["cpu_s"] += cpu
        t["wall_s"] += wall
        t["jobs"] += jobs
    print(f"{'phase total':<18}{'cpu_s':>9}{'wall_s':>9}{'jobs':>6}")
    for phase, t in totals.items():
        print(f"{phase + ' x' + str(t['calls']):<18}"
              f"{t['cpu_s']:9.2f}{t['wall_s']:9.2f}{t['jobs']:6d}")
    print(json.dumps({"seed": args.seed, "phases": {
        k: {kk: round(vv, 3) for kk, vv in v.items()}
        for k, v in totals.items()}}))
    return rc


if __name__ == "__main__":
    sys.exit(main())
