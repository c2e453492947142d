"""One-command round gate: every verification surface, in dependency order.

    python tools/verify_all.py [--fast]

Runs (1) the bare-session driver-contract smoke from a NEUTRAL cwd (catches
sys.path / worker-pickling assumptions pytest can't — see
.claude/skills/verify/SKILL.md), (2) the full DuckDB oracle replica at
sf0.01 on a bare session, (3) the pytest suite, (4) a bench.py smoke at
sf0.001 asserting the single-JSON-line stdout contract, (5) a smoke of the
timing tools built on ``tools/harness.py`` (``profile_query.py`` and
``scaling_curve.py --one-sa`` at sf0.001, ``--one-top`` on a 2-replica
point synthesized from it) asserting their output shape.  ``--fast`` skips
(3) and (4)'s sweep cost by running bench at sf0.001 only (it already
does) and pytest with -x.

Exit code 0 only if every surface passes — the state every round should
end in.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SMOKE = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
rows = e.entry(spark).collect()
assert rows, "entry() returned no rows"
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs), "oracle_sql keys not a subset of queries"
print(f"SMOKE_OK entry_rows={{len(rows)}} queries={{len(qs)}} oracles={{len(osql)}}")
"""


def run(name: str, cmd: list[str], cwd: str | None = None, env=None) -> str:
    print(f"== {name}: {' '.join(cmd[:4])} ...", flush=True)
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit(f"{name} FAILED (exit {out.returncode})")
    return out.stdout


def main() -> None:
    fast = "--fast" in sys.argv[1:]

    # 0. bookkeeping gate (cheap, pure-python — run first): COVERAGE.md's
    #    totals + rows-only evidence table match the live registry (the
    #    CORRECTNESS fold is a pytest: tests/test_registry.py)
    out = run("coverage-totals", [sys.executable, os.path.join(REPO, "tools", "coverage_totals.py")], cwd=REPO)
    print("   " + out.strip().splitlines()[-1])

    # 1. bare-session driver contract from a neutral cwd
    with tempfile.TemporaryDirectory() as td:
        out = run("driver-contract", [sys.executable, "-c", SMOKE.format(repo=REPO)], cwd=td)
        assert "SMOKE_OK" in out, out
        print("   " + [l for l in out.splitlines() if "SMOKE_OK" in l][0])

    # 2. full oracle replica, bare session, sf0.01 (the driver's gate)
    out = run(
        "oracle-replica",
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"), "--bare",
         "/root/testdata/sf0.01"],
        cwd=REPO,
    )
    summary = [l for l in out.splitlines() if "ok; failed" in l][-1]
    print("   " + summary)
    assert "failed: []" in summary, summary

    # 3. pytest
    args = [sys.executable, "-m", "pytest", "tests/", "-q"] + (["-x"] if fast else [])
    out = run("pytest", args, cwd=REPO)
    print("   " + out.splitlines()[-1])

    # 4. bench stdout contract: exactly one JSON line
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001", SPARK_GRAFT_CPUS="8")
    out = run("bench-contract", [sys.executable, os.path.join(REPO, "bench.py")], cwd=REPO, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) == 1, f"bench stdout must be ONE line, got {len(lines)}"
    payload = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(payload), payload.keys()
    # the headline line carries the slowest-10 preview; n_queries is the count
    print(f"   bench OK: {payload['value']}s over {payload.get('n_queries')} queries")

    # 5. harness smoke at the bench smoke's scale factor: no test runs the
    #    timing tools, so check here that they still print their documented
    #    line shapes
    smoke_sf = env["SPARK_GRAFT_SF_DIR"]
    with tempfile.TemporaryDirectory() as stage_dir, tempfile.TemporaryDirectory() as point_dir:
        env = dict(env, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_STAGE_DIR=stage_dir)
        out = run(
            "profile-query",
            [sys.executable, os.path.join(REPO, "tools", "profile_query.py"), "--reps", "1",
             "--sf-dir", smoke_sf, "median_value_by_event_type"],
            cwd=REPO, env=env,
        )
        shape = r"^median_value_by_event_type +med +[\d.]+  reps \[[\d.]+\]  compiles \[\d+\]  jobs \[\d+\]$"
        assert re.search(shape, out, flags=re.MULTILINE), out
        out = run(
            "scaling-sa",
            [sys.executable, os.path.join(REPO, "tools", "scaling_curve.py"), "--one-sa", smoke_sf],
            cwd=REPO, env=env,
        )
        row = json.loads(out.strip().splitlines()[-1])
        queries = ("sa_duplicate_length_profile", "sa_longest_duplicates", "dedup_cut_substrings")
        per_query = ("rows", "exchanges", "broadcast_exchanges", "reused_exchanges")
        expected = {"sf_dir", "stage_build", "total", *queries}
        expected |= {f"{p}_{q}" for p in per_query for q in queries}
        assert set(row) == expected, sorted(set(row) ^ expected)
        # --one-top warms every table, so run it on a synthesized point
        # (2 replicas of the smoke sf): a replica dir must be a complete
        # sf dir
        sys.path.insert(0, REPO)
        from tools.harness import REPLICA_TRANSFORMS, replicate
        from tools.scaling_curve import TOP_TIER

        point = replicate(tuple(REPLICA_TRANSFORMS), point_dir, smoke_sf, 2)
        out = run(
            "scaling-top",
            [sys.executable, os.path.join(REPO, "tools", "scaling_curve.py"), "--one-top", point],
            cwd=REPO, env=env,
        )
        top = json.loads(out.strip().splitlines()[-1])
        expected = {"sf_dir", "cpus", "stage_build", "total", *TOP_TIER}
        assert set(top) == expected, sorted(set(top) ^ expected)
        print(f"   harness tools OK: sa total {row['total']}s, top-tier total {top['total']}s")

    print("ALL SURFACES GREEN")


if __name__ == "__main__":
    main()
