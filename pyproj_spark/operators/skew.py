"""Skew control: salted two-stage aggregation + hot-key join salting.

Web data concentrates on a few mega-city cells (FIXTURES.md: 80% of
anchors near 20 centroids), so a plain groupBy(cell) puts most rows in a
handful of shuffle partitions. The classic fixes, as reusable helpers:

* :func:`salted_agg` — two-stage aggregation: stage 1 groups by
  (key, salt) so hot keys split across SALT partitions; stage 2 merges
  the partials. Correct for any algebraic aggregate (sum/count/min/max)
  given its merge expression.
* :func:`salted_broadcast_join` — replicate the (small) build side SALT
  times so a skewed probe side spreads its hot keys.

AQE's skew-join splitting (enabled in session.py) already handles most
sort-merge cases at runtime; these helpers are for the aggregation path
and for forcing determinism at 10^12-row scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_agg(df: DataFrame, key_cols: list[str],
               aggs: dict[str, tuple[Column, Column]],
               salt: int = DEFAULT_SALT) -> DataFrame:
    """Two-stage skew-safe aggregation.

    aggs: output_name -> (stage1_agg_expr, stage2_merge_expr_on_name).
    Example::

        salted_agg(df, ["cell"], {
            "n":     (F.count("*"),        F.sum("n")),
            "x_max": (F.max("x"),          F.max("x_max")),
        })
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in key_cols],
                               F.monotonically_increasing_id()),
                        F.lit(salt)))
    stage1 = salted.groupBy(*key_cols, "_salt").agg(
        *[expr.alias(name) for name, (expr, _merge) in aggs.items()])
    stage2 = stage1.groupBy(*key_cols).agg(
        *[merge.alias(name) for name, (_expr, merge) in aggs.items()])
    return stage2


def salted_broadcast_join(big: DataFrame, small: DataFrame, key: str,
                          salt: int = DEFAULT_SALT) -> DataFrame:
    """Equi-join a skewed big side with a small side by replicating the
    small side `salt` times (explode) and salting the big side's key."""
    small_rep = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    big_salted = big.withColumn(
        "_salt", F.pmod(F.hash(F.col(key),
                               F.monotonically_increasing_id()),
                        F.lit(salt)))
    return (big_salted.join(F.broadcast(small_rep), [key, "_salt"])
            .drop("_salt"))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for a file-backed frame that
    feeds per-row-expensive work (tokenize/explode chains, Python
    stages). A single-row-group parquet file scans as ONE task, so
    everything up to the first exchange runs on one core regardless of
    cluster size (guide §2/§6: row-group count caps scan parallelism);
    a round-robin repartition right after the scan spreads that work.
    It decides by the scan's planned partitions (a plan-time probe,
    well under 1 ms) and spreads only when that at least doubles the
    tasks, since the repartition shuffles every row once: a scan
    planned as many partitions — many files, or one file split by row
    groups — is returned as is, so the repartition never lowers the
    planned parallelism. (The planner packs small files into fewer
    partitions than files; and a file larger than the split size but
    holding one row group plans several partitions of which only one
    reads rows.)"""
    n = df.sparkSession.sparkContext.defaultParallelism
    if 2 * df.rdd.getNumPartitions() <= n:
        return df.repartition(n)
    return df
