"""Sequence packing — the final prep stage of an LLM training
pipeline: the token stream of the (ordered) corpus is concatenated
and cut into fixed-capacity training sequences; documents straddle
boundaries (attention-mask resets handle that downstream), so no
token is padded away and every bin is exactly full except the last.

The distributed form is a classic two-phase parallel prefix sum, not
a global window (Spark's `Window.orderBy` with no partition key moves
EVERYTHING to one task — the WindowExec single-partition warning):
range-partition by the order key, per-partition running sums under a
`partitionBy(partition_id)` window, per-partition totals (P rows)
cumulated and broadcast back as offsets. Each document then explodes
into the bins it touches with its per-bin token contribution — all
native expressions, and every stage is parallel in the number of
partitions, so the same plan holds at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(df: DataFrame, id_col: str = "doc_id",
                   tokens_col: str = "n_tokens",
                   capacity: int = 2048) -> DataFrame:
    """Per-bin packing stats: (bin, n_docs, n_tokens, fill). Bins are
    full by construction except the final one; n_docs counts every
    document contributing at least one token to the bin."""
    d = df.filter(F.col(tokens_col) > 0)
    # phase 1: range-partition on the order key (partition p holds
    # strictly smaller ids than p+1) and cumsum within each partition.
    # Checkpoint so the sampled range boundaries are computed ONCE —
    # the totals pass and the main pass must see identical partitioning.
    npart = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "32"))
    d = (d.repartitionByRange(npart, F.col(id_col))
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    w_in = Window.partitionBy("_pid").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    # phase 2: cross-partition offsets — P rows, broadcast back
    w_off = Window.orderBy("_pid") \
        .rowsBetween(Window.unboundedPreceding, -1)
    offs = (d.groupBy("_pid").agg(F.sum(tokens_col).alias("_tot"))
            .withColumn("_off", F.coalesce(F.sum("_tot").over(w_off),
                                           F.lit(0)))
            .select("_pid", "_off"))
    start = (F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0))
             + F.col("_off"))
    spans = (d.join(F.broadcast(offs), "_pid")
             .withColumn("_start", start)
             .withColumn("_end", F.col("_start") + F.col(tokens_col))
             .withColumn("bin", F.explode(F.sequence(
                 F.floor(F.col("_start") / capacity),
                 F.floor((F.col("_end") - 1) / capacity)))))
    contrib = (F.least(F.col("_end"), (F.col("bin") + 1) * capacity)
               - F.greatest(F.col("_start"), F.col("bin") * capacity))
    return (spans.withColumn("_c", contrib)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_c").alias("n_tokens"),
                 F.round(F.sum("_c") / capacity, 6).alias("fill")))


def stride_mix(df: DataFrame, weights: dict, stratum_col: str = "source",
               id_col: str = "doc_id", round_to: int = 6) -> DataFrame:
    """Deterministic training-data mixing via stride scheduling
    (Waldspurger & Weihl, OSDI 1994 — public; the same interleave
    rule behind weighted fair queueing): each stratum emits its
    documents at positions (rank - 0.5) / weight, so sorting by
    position yields a stream whose LOCAL mixture matches the target
    weights everywhere — not just in expectation like sampling, and
    not in blocks like concatenation (which trains on one source for
    millions of steps before the next). Epoch boundaries are honest
    too: a stratum with weight 2x finishes its pass 2x sooner and the
    caller sees that in the position range.

    One rank window per stratum (single shuffle on the stratum key);
    the position IS the global order — no global row_number
    bottleneck. Returns (id_col, stratum_col, pos)."""
    from pyspark.sql import Window
    w = Window.partitionBy(stratum_col).orderBy(id_col)
    wexpr = F.lit(None).cast("double")
    for k, v in sorted(weights.items()):
        wexpr = F.when(F.col(stratum_col) == k,
                       F.lit(float(v))).otherwise(wexpr)
    return (df.select(id_col, stratum_col)
            .withColumn("_r", F.row_number().over(w))
            .filter(wexpr.isNotNull())
            .select(id_col, stratum_col,
                    F.round((F.col("_r") - 0.5) / wexpr, round_to)
                    .alias("pos")))
