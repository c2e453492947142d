"""Solo-profile registered queries: median-of-N noop-sink timing + plan capture.

Usage:
    python tools/profile_query.py [--reps 3] [--plan-dir .scratch/plans] [--suffix before] q1 q2 ...

Uses bench.py's methodology (``tools/harness.py``: same session, same
warm-ups and staged-artifact build, same timed noop-sink run with
clearCache + JVM GC between reps) but isolates one query at a time so
per-query numbers aren't polluted by sweep-order effects.  Prints per-rep
seconds, median, and (optionally) writes ``<plan-dir>/<name>_<suffix>.txt``
with the ``explain("formatted")`` output.

Each rep also prints its generated-code compile count and its Spark job
count (build-time jobs included: every rep runs in its own job group).  The
warm-ups read every table, so every rep should show the same job count and,
after the first, 0 compiles: a compile in a warm rep means the
generated-code cache evicted this query's classes, and an extra job means
work a warm rep should not repeat, such as a schema inference.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import codegen_compiles  # noqa: E402
from tools.harness import env_cpus, session, timed_run, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    registry = load_all()
    cpus = env_cpus()
    spark = session("profile", cpus)
    warm_up(spark, args.sf_dir, cpus)

    sc = spark.sparkContext
    results = {}
    for name in args.names:
        spec = registry[name]
        times, compiles, jobs = [], [], []
        for rep in range(args.reps):
            group = f"profile:{name}#{rep}"
            compiled = codegen_compiles(spark)
            times.append(round(timed_run(spark, group, lambda: spec.fn(spark, args.sf_dir)), 4))
            compiles.append(codegen_compiles(spark) - compiled)
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        times_sorted = sorted(times)
        med = times_sorted[len(times_sorted) // 2]
        results[name] = (times, med)
        print(f"{name:45s} med {med:7.3f}  reps {times}  compiles {compiles}  jobs {jobs}", flush=True)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            plan = plan_string(spec.fn(spark, args.sf_dir))
            with open(os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)

    sc.setLocalProperty("spark.jobGroup.id", None)
    print("\nsummary:")
    for name, (times, med) in results.items():
        print(f"{name:45s} {med:7.3f}")


if __name__ == "__main__":
    main()
