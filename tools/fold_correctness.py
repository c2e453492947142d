"""Rebuild the registry's verification manifest from the external
verifier's CORRECTNESS_r*.json files.

    python tools/fold_correctness.py

For each ``CORRECTNESS_rN.json``, the package is fingerprinted
(``registry.fingerprint``) as it stood at the commit that added that file,
i.e. the code the verifier checked.  Each query maps to the last round it was
green and its fingerprint in that round.  A row is green when its hash
matched the oracle, or when the query has no oracle (``err ==
"no_oracle"``, the rows-only convention).  The output is written to
``verified.json`` next to ``registry.py``; it depends only on committed
history, so a second run rewrites the same bytes.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdataprocessingcoursework_nyc_rideshare_analysis__spark"

sys.path.insert(0, REPO)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import (  # noqa: E402
    MANIFEST_PATH,
    fingerprint,
)


def correctness_files() -> list[tuple[int, str]]:
    """(round, path) of every CORRECTNESS_rN.json, oldest round first."""
    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    return sorted((int(re.search(r"_r(\d+)\.json$", p).group(1)), p) for p in paths)


def is_green(row: dict) -> bool:
    return bool(row.get("hash_match")) or row.get("err") == "no_oracle"


def git(*args: str) -> bytes:
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True).stdout


def fold() -> dict[str, list]:
    manifest: dict[str, list] = {}
    for rnd, path in correctness_files():
        added = git("log", "--diff-filter=A", "--format=%H", "--", os.path.basename(path)).split()
        if not added:
            raise SystemExit(f"{os.path.basename(path)} is not committed; commit it, then fold")
        with tempfile.TemporaryDirectory() as td:
            archive = git("archive", added[-1].decode(), PACKAGE)
            with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
                tar.extractall(td, filter="data")
            root = os.path.join(td, PACKAGE)
            with open(path) as f:
                rows = json.load(f)
            for name, row in rows.items():
                if is_green(row):
                    manifest[name] = [rnd, fingerprint(name, root)]
    return manifest


def main() -> None:
    manifest = fold()
    body = ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(manifest.items()))
    with open(MANIFEST_PATH, "w") as f:
        f.write("{\n" + body + "\n}\n")
    print(f"{len(manifest)} verified queries -> {os.path.relpath(MANIFEST_PATH, REPO)}")


if __name__ == "__main__":
    main()
