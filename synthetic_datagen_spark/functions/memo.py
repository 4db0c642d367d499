"""App-scoped session memo — THE shared implementation of a pattern
that had grown four hand-rolled copies (CC labels in functions/graph,
LSH pair frames in functions/vectors, corpus sizes and bulk-Jaccard
floors in operators/text_queries; r12 review finding).

Semantics all four relied on, now in one place:
  - keyed per (live applicationId, caller key): cached DataFrames are
    only valid inside the session that checkpointed them;
  - on every MISS, entries belonging to other (stopped) applications
    are evicted, so a long-lived process cycling sessions can't pin
    dead DataFrames (and their checkpoint files) forever;
  - ``None`` is a legitimate cached value (the bulk guard stores None
    for below-cutoff corpora), so presence is tested with ``in``, not
    a None check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession


def app_scoped_memo(
    cache: dict, spark: SparkSession, cache_key, build: Callable[[], object]
):
    """Return ``cache``'s value for (applicationId, cache_key), calling
    ``build()`` once on a miss (after evicting dead-app entries)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, cache_key)
    if key in cache:
        return cache[key]
    # snapshot + pop: threads of one pool may miss on the same cache at once
    for k in [k for k in list(cache) if k[0] != app_id]:
        cache.pop(k, None)
    val = build()
    cache[key] = val
    return val
