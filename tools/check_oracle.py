"""Local replica of the driver's DuckDB differential check.

Runs every registered query on Spark and (where present) its oracle SQL on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value comparison.  A query that leaves a cached
relation behind fails too: query bodies must not persist.  Run before
every commit:

    python tools/check_oracle.py [sf_dir] [name ...]
    python tools/check_oracle.py --bare [sf_dir] [name ...]

The default session is the engine's (``harness.session``) at
``local[harness.env_cpus()]``: ``$SPARK_GRAFT_CPUS``, or as many cores as
the process may use when that is unset.  ``--bare`` builds a DRIVER-LIKE SparkSession (none of the engine's session
confs — the verification driver constructs its own bare session), which
catches conf-dependence bugs the default mode can't: queries relying on
``session.RUNTIME_CONFS`` being set eagerly, worker-shipped module-level
closures, timezone/ANSI assumptions.  Run the full --bare sweep at sf0.01
before every round ships."""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; stringify values the way a hash
    would see them."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)  # full precision — we target bit-identical doubles
        return str(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out)


def oracle_type_hazards(con, sql: str) -> dict[str, str]:
    """DuckDB types in the oracle's final select that Arrow maps differently
    than any Spark output type can — the driver hashes the Arrow type, while
    this replica stringifies values and cannot see the difference.

    The known class (round-3 verdict): an uncast integer ``SUM``/windowed sum
    is HUGEINT (int128), which Spark can never emit — two driver rows went
    red on exactly this while passing here at every SF.  ``DESCRIBE`` plans
    without executing, so this check is free.

    Scope note (round-4 audit): int-WIDTH differences are benign — e.g.
    ``user_retention_cohorts`` (BIGINT oracle vs int Spark) and
    ``nation_market_share_by_year`` hold green driver rows — so only the
    no-Spark-twin int128 types are flagged."""
    rows = con.execute("DESCRIBE " + sql).fetchall()
    return {r[0]: r[1] for r in rows if "HUGEINT" in str(r[1]).upper()}


def compare(name: str, spark, con, sf_dir: str, spec) -> str:
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if spec.oracle is None:
        return f"ROWS-ONLY rows={len(srows)}"
    problems = []
    hazards = oracle_type_hazards(con, spec.oracle)
    if hazards:
        problems.append(
            f"oracle type hazard (int128 has no Spark/Arrow twin; driver "
            f"hash WILL mismatch): {hazards} — wrap in CAST(... AS BIGINT)"
        )
    orel = con.execute(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
    if not problems:
        ns, no = normalize(srows, scols), normalize(orows, ocols)
        if ns != no:
            diffs = [(a, b) for a, b in zip(ns, no) if a != b][:3]
            problems.append(f"values differ; first diffs={diffs}")
    return "OK" if not problems else "FAIL " + "; ".join(problems)


def _cached_relations(spark) -> int:
    """Number of relations left in the session's cache manager.  Query
    bodies must not persist, so ``main`` fails a query that leaves any."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    if cm.isEmpty():
        return 0
    field = cm.getClass().getDeclaredField("cachedData")  # no public size
    field.setAccessible(True)
    return field.get(cm).size()


def _bare_session():
    """A session shaped like the verification driver's: no engine confs."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .appName("oracle-check-bare")
        .getOrCreate()
    )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    registry = load_all()
    if bare:
        spark = _bare_session()
    else:
        import harness  # here, so importing this module loads no harness

        spark = harness.session("oracle-check", harness.env_cpus())
    con = duck_connection(sf_dir)
    failed = []
    checked = 0
    for name, spec in registry.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            status = compare(name, spark, con, sf_dir, spec)
        except Exception as e:  # noqa: BLE001
            status = f"ERROR {type(e).__name__}: {str(e)[:300]}"
        pinned = _cached_relations(spark)
        if pinned:
            status = f"FAIL left {pinned} cached relation(s) ({status})"
            spark.catalog.clearCache()  # so the next query starts clean
        print(f"{name:40s} {status}")
        if status.startswith(("FAIL", "ERROR")):
            failed.append(name)
    print(f"\n{checked - len(failed)}/{checked} ok; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
