"""Query bodies do not pin caches; ``release_query_caches`` is what is left
of the old query-scoped pin registry."""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_query_caches(spark: SparkSession) -> int:
    """Release the query-scoped caches on ``spark``: always 0, because no
    query body persists anything any more.  Kept so that existing callers
    (the benchmark runner imports it) keep working; a consumer that caches
    its own frames releases them with ``spark.catalog.clearCache()``."""
    return 0
