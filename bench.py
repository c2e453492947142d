"""Headline benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Execution is measured with a JVM-side noop sink (full plan runs, nothing
crosses Py4J), after a warmup that touches every input file once so OS page
cache and JVM JIT state are comparable across queries.  The warm-ups and
the timed loop are ``tools/harness.py``'s, shared with the tools.

The run also builds the bucketed trip warehouse (one-time
orderkey-bucketed ingest of lineitem/orders) and re-times the
enriched-view tier against it, recording raw-vs-bucketed deltas under
``"warehouse"`` (full detail in BENCH_DETAIL.json, sums on the headline
line) — the measured payoff of paying the fact×fact shuffle at ingest
instead of per query.  The warehouse timings are NOT part of the headline
total.  Caveat for small scale factors: below ~sf0.1 AQE broadcasts the
orders side, so the raw join has no exchange to save and the build cost
dominates; the bucketed plan's structural win (no Exchange, no Sort on the
orderkey join — pinned in tests/test_bucketing.py) compounds with scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
    build_events_warehouse,
    build_trip_warehouse,
)
from tools.harness import session, timed_run, warm_up

# the enriched-view tier, re-timed on the orderkey-bucketed trip warehouse
WH_TIER = (
    "enrich_trips",
    "route_revenue_top30",
    "corridor_trip_count",
    "route_pivot_by_business_top10",
    # TPC-H fact x fact tier: shuffles on orderkey by necessity on the raw
    # path; bucket-distribution removes every Exchange but the final tiny
    # rollup (tests/test_bucketing.py)
    "sole_late_supplier_waits",
    "late_line_priority_mix",
)
# the behavioral tier, re-timed on the user-bucketed EVENTS warehouse:
# user-keyed aggs/windows/joins inherit the scan distribution
# (tests/test_bucketing.py pins the plans)
EV_TIER = (
    "user_feature_vector",
    # the window tier: bucketed+sorted scan drops Exchange AND Sort
    "events_sessionize",
    "user_session_stats",
    "user_growth_accounting",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    registry = load_all()
    spark = session("bench", cpus)
    stage_build_sec = warm_up(spark, sf_dir, cpus)

    def run(name: str, **kw) -> float:
        return round(timed_run(spark, name, lambda: registry[name].fn(spark, sf_dir, **kw)), 4)

    timings = {name: run(name) for name in registry}

    # raw-vs-bucketed-warehouse deltas.  Both tiers run at sweep END on a
    # garbage-heavy heap; timed_run's GC between queries keeps them from
    # absorbing collection tails the raw tier (GC'd mid-sweep) never paid.
    # The builds follow the staged frames' materialize rule: the bucket
    # files live under the stage root, keyed by the source parquet and the
    # code the builder reaches, so a warm invocation re-attaches the
    # existing files and the build seconds read ~0.  Build cost is reported
    # apart from the headline.
    start = time.perf_counter()
    build_trip_warehouse(spark, sf_dir)
    warehouse = {
        "build_sec": round(time.perf_counter() - start, 4),
        "raw": {name: timings[name] for name in WH_TIER},
        "bucketed": {name: run(name, use_warehouse=True) for name in WH_TIER},
    }
    start = time.perf_counter()
    build_events_warehouse(spark, sf_dir)
    warehouse["events_build_sec"] = round(time.perf_counter() - start, 4)
    warehouse["events_bucketed"] = {name: run(name, use_warehouse=True) for name in EV_TIER}
    warehouse["events_raw"] = {name: timings[name] for name in EV_TIER}

    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else None

    # Full per-query map goes to a file; stdout gets ONE compact line (the
    # driver captures only the tail of stdout, so the headline must be small
    # and last).  "queries" holds just the 10 slowest — enough to grade the
    # hot spots without blowing the line past the capture window.
    detail = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "stage_build_sec": stage_build_sec,
        "warehouse": warehouse,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    headline = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "stage_build_sec": stage_build_sec,
        "detail": "BENCH_DETAIL.json",
        "warehouse": {
            "build_sec": warehouse["build_sec"],
            "raw_sec": round(sum(warehouse["raw"].values()), 4),
            "bucketed_sec": round(sum(warehouse["bucketed"].values()), 4),
        },
    }
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
