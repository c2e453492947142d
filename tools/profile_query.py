"""Solo-profile registered queries: median-of-N noop-sink timing + plan capture.

Usage:
    python tools/profile_query.py [--reps 3] [--plan-dir .scratch/plans] [--suffix before] q1 q2 ...

Replicates bench.py's methodology (same session factory, same noop sink,
clearCache + System.gc between reps) but isolates one query at a time so
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
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401  (pandas-UDF type hints resolve here)

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import codegen_compiles, get_spark
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES, load_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    registry = load_all()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmups as bench.py: page cache + python worker pool + shuffle path
    for name in TABLE_NAMES:
        load_table(spark, args.sf_dir, name).write.format("noop").mode("overwrite").save()

    def _noop(batches):
        yield from batches

    spark.range(0, int(cpus) * 4, 1, int(cpus)).mapInPandas(_noop, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    load_table(spark, args.sf_dir, "region").groupBy("r_name").count().write.format("noop").mode(
        "overwrite"
    ).save()

    sc = spark.sparkContext
    results = {}
    for name in args.names:
        spec = registry[name]
        times, compiles, jobs = [], [], []
        for rep in range(args.reps):
            group = f"profile:{name}#{rep}"
            sc.setJobGroup(group, group)
            compiled = codegen_compiles(spark)
            start = time.perf_counter()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - start, 4))
            compiles.append(codegen_compiles(spark) - compiled)
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            spark.catalog.clearCache()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        times_sorted = sorted(times)
        med = times_sorted[len(times_sorted) // 2]
        results[name] = (times, med)
        print(f"{name:45s} med {med:7.3f}  reps {times}  compiles {compiles}  jobs {jobs}", flush=True)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = spec.fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)

    sc.setLocalProperty("spark.jobGroup.id", None)
    print("\nsummary:")
    for name, (times, med) in results.items():
        print(f"{name:45s} {med:7.3f}")


if __name__ == "__main__":
    main()
