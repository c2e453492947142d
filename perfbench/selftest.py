"""Smoke test of the benchmark: one pass of every workload at sf0.001.

    python3 perfbench/selftest.py

For each workload, runs ``run.py`` untraced and traced for one timed pass
and checks that the last stdout line names every metric of
``BENCHMARK.json`` (``end_to_end`` untraced, ``per_layer`` traced) with
its unit, that no operation failed, and that the traced counters each
workload must drive (``MUST_MOVE``) are above zero, so a status-store or
plan-label format the tracer cannot read fails here instead of reading 0.
Exits 1 if any run has a problem.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: per-layer counters that are positive whenever tracing works
MUST_MOVE = {
    "event_ranking": ("spark.jobs", "spark.stages", "plan.exchanges", "skew.calls", "query.exec_s"),
    "ingest_refresh": (
        "sources.load_table_calls", "python.bytes_sent", "python.rows_received",
        "stage.bytes_written", "warehouse.bytes_written", "plan.scans",
    ),
}


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
        "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or report["failed_frac"] != 0:
        problems.append(f"failures: {report['failures']}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in wanted}:
        problems.append(f"metric names differ: {sorted(result['metrics'])}")
    for metric in wanted:
        got = result["metrics"].get(metric["name"], {})
        if got.get("unit") != metric["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{metric['name']}: {got}")
    if trace:
        for name in MUST_MOVE[workload]:
            if not result["metrics"].get(name, {}).get("value", 0) > 0:
                problems.append(f"{name} is not above 0")
        print(json.dumps({k: v["value"] for k, v in result["metrics"].items()}))
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    status = 0
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            problems = check_run(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for problem in problems:
                print(f"  {problem}")
            status |= bool(problems)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
