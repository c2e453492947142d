"""Registry bookkeeping guards: the verification-priority contract that the
external driver depends on (round-2 verdict) must stay consistent as rounds
add queries and edit implementations."""

from __future__ import annotations

import json
import os
import shutil
import sys

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import (
    MANIFEST_PATH,
    PACKAGE_DIR,
    fingerprint,
    load_all,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def manifest() -> dict[str, list]:
    with open(MANIFEST_PATH) as f:
        return json.load(f)


def test_verified_and_changed_names_exist_in_registry():
    """A typo'd or stale manifest name would silently distort the ordering,
    and every registered query must be fingerprintable from source."""
    reg = load_all()
    assert [n for n in manifest() if n not in reg] == []
    assert [n for n in reg if fingerprint(n) is None] == []


def test_ordering_puts_unverified_and_changed_first():
    reg = list(load_all())
    verified = manifest()

    def unverified(n: str) -> bool:
        return n not in verified or verified[n][1] != fingerprint(n)

    flags = [unverified(n) for n in reg]
    # all unverified/changed entries precede every verified one
    assert flags == sorted(flags, reverse=True)
    # verified tier is ordered oldest round first (stalest re-confirm first)
    rounds = [verified[n][0] for n, f in zip(reg, flags) if not f]
    assert rounds == sorted(rounds)


def test_every_green_correctness_row_is_folded():
    """Every name a CORRECTNESS_rN.json records green has a manifest round
    >= N; a miss means tools/fold_correctness.py was not re-run after the
    verifier's round."""
    import fold_correctness

    verified = manifest()
    missing = {}
    for rnd, path in fold_correctness.correctness_files():
        with open(path) as f:
            rows = json.load(f)
        stale = [
            name
            for name, row in rows.items()
            if fold_correctness.is_green(row) and verified.get(name, [0])[0] < rnd
        ]
        if stale:
            missing[os.path.basename(path)] = stale
    assert missing == {}


def test_fingerprint_follows_code_not_prose(tmp_path):
    """A body edit to a rank helper re-queues its callers only; a
    docstring-only edit re-queues nothing."""
    with open(os.path.join(PACKAGE_DIR, "functions", "skew.py")) as f:
        src = f.read()
    names = ("customer_rfm_segments", "enrich_trips")
    before = [fingerprint(n) for n in names]

    def fingerprints_after(old: str, new: str, tag: str) -> list[str | None]:
        assert src.count(old) == 1, old
        root = tmp_path / tag
        shutil.copytree(PACKAGE_DIR, root, ignore=shutil.ignore_patterns("__pycache__"))
        (root / "functions" / "skew.py").write_text(src.replace(old, new))
        return [fingerprint(n, str(root)) for n in names]

    # a body edit inside keyed_row_number
    body = fingerprints_after('    return out.drop("_one")\n', '    return out.drop("_one", "_two")\n', "body")
    assert body[0] != before[0] and body[1] == before[1]
    # a docstring-only edit of the same function
    assert fingerprints_after("Per-key 1-based ROW_NUMBER", "Per-key one-based ROW_NUMBER", "doc") == before


def test_every_query_runs_and_every_oracle_names_a_query():
    reg = load_all()
    assert len(reg) >= 118
    for name, spec in reg.items():
        assert callable(spec.fn), name
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


def test_coverage_totals_match_registry():
    """COVERAGE.md is the audit trail; its totals line and rows-only
    evidence table drifted from the registry twice (round-5 verdict).
    tools/coverage_totals.py encodes the invariants; this runs them in
    every pytest sweep."""
    import coverage_totals

    problems = coverage_totals.check(open(coverage_totals.COVERAGE_PATH).read())
    assert problems == []
