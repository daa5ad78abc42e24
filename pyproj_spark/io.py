"""Memoized parquet source relations.

``spark.read.parquet(path)`` costs ~60-80 ms per call even when the
file-listing cache is warm (datasource resolution + a footer read for
schema inference + building a fresh ``InMemoryFileIndex``). The query
registry opens the same handful of fixture tables hundreds of times
per benchmark pass, so that fixed cost alone was ~25 s of the suite.

``read_parquet_cached`` returns ONE analyzed source DataFrame per
(SparkSession, absolute path). This memoizes the PLAN-side relation
only — every action still scans the parquet bytes; no rows, results
or intermediates are ever cached (the banned kind of caching). The
freshness assumption is the same one Spark's own session-scoped
FileStatusCache makes: a path's files do not change underneath a
running session. Test fixtures are immutable, and code that rewrites
a path mid-session should call ``spark.read.parquet`` directly.

The memo lives on the session object itself, so it is freed with the
session. A module-level dict weakly keyed by session would never
evict: every memoized DataFrame holds ``df.sparkSession``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def session_memo(spark: SparkSession, key, make):
    """``make()``, built once per (SparkSession, key) and kept on the
    session object. For plan-side values only: relations and small
    driver-built tables, never rows or results."""
    per_session = spark.__dict__.setdefault("_memo", {})
    value = per_session.get(key)
    if value is None:
        value = per_session[key] = make()
    return value


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    path = os.path.abspath(path)
    return session_memo(spark, path, lambda: spark.read.parquet(path))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture table ``<sf_dir>/<name>.parquet``, memoized as above:
    plan-side only, every action still scans the parquet files."""
    return read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
