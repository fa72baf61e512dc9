"""Scoped persist: bounded caching for multi-consumer intermediates.

Several operators persist a REDUCED intermediate that multiple plan
branches consume (SCALING.md rescan rule: Spark performs no exchange
reuse across broadcast/AQE boundaries, so an unpersisted shared subtree
re-executes once per consumer — a second full corpus scan at 100 TB).

A bare ``df.persist()`` inside a query builder leaks, though (ADVICE r5):
the builder returns an unmaterialized DataFrame, so there is no point
inside the query where "after materialization" exists to unpersist at,
and over a 197-query battery each invocation would stack another live
cache into executor storage. ``scoped_persist`` bounds that: each call
SITE keeps exactly one live cached frame — re-invoking the same query
unpersists the previous invocation's cache first. Total cache footprint
is therefore ≤ (number of persisting queries) × (their reduced
intermediates), session-wide, regardless of how many times the battery
runs.

Deliberate residual (documented in SCALING.md): the latest frame per
site stays cached until the query runs again or the session ends. That
is the useful half of the tradeoff — Spark's CacheManager substitutes
the cached plan into OTHER queries that build an identical subtree,
which is semantically transparent (same plan ⇒ same values) and saves
their scan too.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from presto_truffle_spark.catalog import file_stats

# site -> (applicationId, cached frame)
_LIVE: dict[str, tuple[str, DataFrame]] = {}


def scoped_persist(
    spark: SparkSession,
    site: str,
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df``, first releasing the frame this ``site`` cached on
    its previous invocation (non-blocking; a dead session's handle just
    drops). The persist itself stays LAZY — callers rely on the first
    consuming job filling the cache as a side effect."""
    prev = _LIVE.pop(site, None)
    if prev is not None:
        try:
            prev[1].unpersist()
        except Exception:
            pass  # previous session already stopped; nothing to release
    out = df.persist(level)
    _LIVE[site] = (spark.sparkContext.applicationId, out)
    return out


def input_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of a source table (file or directory of part files).
    Driver-side stat only — used to gate cache-vs-recompute decisions
    that are scale-dependent (BASELINE.md r5 tfidf note)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    return sum(size for _, _, size in file_stats(path))
