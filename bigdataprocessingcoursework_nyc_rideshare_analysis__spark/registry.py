"""Central query registry wiring operators to the driver contract.

Each named query is a ``(spark, sf_dir) -> DataFrame`` callable plus (when
SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on the same
parquet tables.  ``__spark_entry__.queries()`` / ``oracle_sql()`` read from
here; keeping the Spark code and its oracle adjacent in each operator module
keeps the two in sync.  ``load_all()``'s order is the external verifier's
re-verification queue, kept by ``verified.json`` (see ``load_all``).
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Located from this file: the verifier imports the package from any cwd.
PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
MANIFEST_PATH = os.path.join(PACKAGE_DIR, "verified.json")


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the registry.

    Duplicate names are an ERROR, not an overwrite: a silent overwrite
    shadows the earlier operator everywhere downstream (driver contract,
    oracle checks, bench, verification manifest) while its code and
    tests keep passing — exactly the failure mode this guard caught once
    (a round-5 re-implementation of ``rolling_7day_distinct_users``
    silently replaced the driver-verified round-4 operator)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{REGISTRY[name].fn.__module__}.{REGISTRY[name].fn.__qualname__}"
            )
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _canon(node) -> str:
    """AST text without docstrings or empty fields, so neither prose nor a
    Python version's new optional fields (3.12: ``type_params``) move it."""
    if isinstance(node, list):
        if node and isinstance(node[0], ast.Expr) and isinstance(getattr(node[0].value, "value", None), str):
            node = node[1:]  # a leading string statement is a docstring
        return "[" + ",".join(map(_canon, node)) + "]"
    if not isinstance(node, ast.AST):
        return repr(node)
    fields = ",".join(f"{k}={_canon(v)}" for k, v in ast.iter_fields(node) if v is not None and v != [])
    return f"{type(node).__name__}({fields})"


@functools.cache
def _walk(root: str):
    """One parse and walk of the package under ``root``, returned as
    (registered query name -> its ``(module, symbol)`` key, fingerprint of a
    key).  A key's fingerprint hashes its def plus every package-level def
    or constant it reaches through names, relative imports and re-exports,
    ``registry`` excluded.  Module-level calls count for every def of their
    module (they wire oracles after definition)."""
    trees, packages = {}, set()  # module path tuple -> AST; () is the root package
    for dirpath, _, filenames in os.walk(root):
        for fname in (f for f in filenames if f.endswith(".py")):
            mod = tuple(os.path.relpath(os.path.join(dirpath, fname[:-3]), root).split(os.sep))
            if mod[-1] == "__init__":
                mod = mod[:-1]
                packages.add(mod)
            with open(os.path.join(dirpath, fname)) as f:
                trees[mod] = ast.parse(f.read())

    def imported(mod: tuple, node: ast.ImportFrom):  # -> (name, (module, symbol or None))
        pkg = mod if mod in packages else mod[:-1]
        base = pkg[: len(pkg) + 1 - node.level] + tuple(filter(None, (node.module or "").split(".")))
        for a in node.names:
            sub = base + (a.name,)
            yield a.asname or a.name, (sub, None) if sub in trees else (base, a.name)

    symbols, aliases, queries = {}, {}, {}
    for mod, tree in trees.items():
        aliases[mod], symbols[(mod, "")] = {}, []  # (mod, ""): module-level calls, maybe none
        for stmt in tree.body:
            names = [""] if isinstance(stmt, ast.Expr) else []
            if isinstance(stmt, ast.ImportFrom) and stmt.level:
                aliases[mod].update(imported(mod, stmt))
            elif isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                names = [stmt.name]
                for d in stmt.decorator_list:
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                        queries[d.args[0].value] = (mod, stmt.name)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            for n in names:
                symbols.setdefault((mod, n), []).append(stmt)

    @functools.cache
    def refs(key: tuple) -> list[tuple]:
        mod, name = key
        if key not in symbols:  # a re-export: follow the import
            return [aliases[mod][name]]
        nodes = [n for stmt in symbols[key] for n in ast.walk(stmt)]
        scope = dict(aliases[mod])
        for node in nodes:
            if isinstance(node, ast.ImportFrom) and node.level:
                scope.update(imported(mod, node))
        found = [scope.get(n.id, (mod, n.id)) for n in nodes if isinstance(n, ast.Name)]
        found += [(scope[n.value.id][0], n.attr) for n in nodes if isinstance(n, ast.Attribute)
                  and isinstance(n.value, ast.Name) and scope.get(n.value.id, (0, 0))[1] is None]
        return [(m, n) for m, n in found if n and m != ("registry",)
                and ((m, n) in symbols or aliases.get(m, {}).get(n, (0, None))[1])]

    @functools.cache
    def digest(key: tuple) -> str:
        return hashlib.sha256(f"{key}{_canon(symbols[key])}".encode()).hexdigest()

    @functools.cache
    def reach(key: tuple) -> str:
        seen, stack = set(), [key, (key[0], "")]
        while stack:
            if (k := stack.pop()) not in seen:
                seen.add(k)
                stack += refs(k)
        text = "\n".join(sorted(digest(k) for k in seen if k in symbols))
        return hashlib.sha256(text.encode()).hexdigest()[:16]

    return queries, reach


def fingerprint(name: str, root: str = PACKAGE_DIR) -> str | None:
    """Source fingerprint of query ``name`` in the package under ``root``
    (None if it registers no such query); memoized per root."""
    queries, reach = _walk(root)
    return reach(queries[name]) if name in queries else None


def code_fingerprint(fn: Callable, root: str = PACKAGE_DIR) -> str:
    """Source fingerprint of the package-level def that defines ``fn`` (a
    nested function, lambda or method maps to its enclosing module-level
    def), in the package under ``root``: it moves exactly when code or a
    constant ``fn`` can reach does."""
    module = tuple(fn.__module__.split(".")[1:])  # drop the package name
    return _walk(root)[1]((module, fn.__qualname__.split(".")[0]))


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registration) and return
    the registry in verification-priority order.  The external verifier
    re-checks a bounded window per round, head first.  ``verified.json``
    (written by ``tools/fold_correctness.py`` from the verifier's
    ``CORRECTNESS_r*.json``) maps each query to its last green round and
    its ``fingerprint`` then.
    Order: (1) queries never verified or whose fingerprint has moved since;
    (2) the verified tier, oldest round first (stalest rows re-confirm first)."""
    from .datapipe import dedup, similarity, textstats, multimodal, normalize, curate, cluster, scrub, bpe, mixture, boilerplate, graphrank, pca, lm, kmeans, trainer, evalmetrics  # noqa: F401
    from .sources import pydatasource  # noqa: F401
    from .operators import (  # noqa: F401
        behavior,
        drift,
        linkage,
        olap,
        merge,
        dq,
        tpch,
        windows,
        enrich,
        rollup,
        topk,
        averages,
        anomaly,
        filters,
        pivot,
        events,
        setops,
        analytics,
        temporal,
    )

    with open(MANIFEST_PATH) as f:
        verified = json.load(f)

    def priority(name: str) -> tuple[int, ...]:
        spec, entry = REGISTRY[name], verified.get(name)
        if entry is None or entry[1] != fingerprint(name):
            # Changed (a green row an edit invalidated) before never-verified,
            # oracle-backed (hash-match evidence) before rows-only, then the
            # older ``r<N>`` tag first (untagged = the first waves).
            age = max((int(t[1:]) for t in spec.tags if re.fullmatch(r"r\d+", t)), default=0)
            return (0, entry is None, spec.oracle is None, age)
        return (1, 0, 0, entry[0])

    ordered = sorted(REGISTRY, key=priority)  # stable: keeps module order within tiers
    return {name: REGISTRY[name] for name in ordered}
