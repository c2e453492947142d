"""Output checks for benchmark operations, run outside the timed window.

Oracle-backed queries are compared with DuckDB through the repository's
own ``tools/check_oracle.py`` (``compare``, which normalizes with its
``normalize``); rows-only outputs must be non-empty and keep the same
order-insensitive content digest every time they are read.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import check_oracle  # noqa: E402


class _Collected:
    """A DataFrame stand-in holding rows the benchmark already collected,
    so ``check_oracle.compare`` checks them without running the query
    a second time."""

    def __init__(self, rows, columns):
        self._rows = rows
        self.columns = columns

    def collect(self):
        return self._rows


def _norm(value):
    if isinstance(value, float):
        # 12 significant digits: parallel float sums may differ in the
        # last bits between two executions of the same plan
        return "nan" if math.isnan(value) else f"{value:.12g}"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_norm(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{_norm(v)}" for k, v in sorted(value.items())) + "}"
    return str(value)


def digest(rows) -> str:
    """Order-insensitive content digest of collected rows."""
    lines = sorted("\x1f".join(_norm(v) for v in row) for row in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


class Checker:
    """Holds the DuckDB connection and the digests seen per operation."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = check_oracle.duck_connection(sf_dir)
        self.digests: dict[str, str] = {}

    def close(self) -> None:
        self.con.close()

    def rows(self, name: str, spark, oracle: str | None, rows, columns) -> str | None:
        """Check one collected output; returns a problem or None."""
        if oracle is not None:
            spec = SimpleNamespace(fn=lambda _s, _d: _Collected(rows, columns), oracle=oracle)
            status = check_oracle.compare(name, spark, self.con, self.sf_dir, spec)
            return None if status == "OK" else status
        if not rows:
            return "rows-only output is empty"
        seen = digest(rows)
        first = self.digests.setdefault(name, seen)
        return None if seen == first else f"content digest changed ({first[:10]} -> {seen[:10]})"
