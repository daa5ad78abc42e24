"""Redirect-chain resolution — crawl-frontier hygiene: every URL with
a redirect edge (HTTP 3xx, <meta refresh>, rel=canonical) maps to the
TERMINAL target it ultimately lands on, so fetch scheduling, dedup
keys and link-graph edges all speak in final URLs.

Scale shape: the redirect table is a FUNCTIONAL graph (<=1 outgoing
edge per source), so resolution is pointer DOUBLING, not iteration:
each round self-joins the current successor table with itself
(succ2(u) = succ(succ(u))), squaring the hop distance covered — 2^r
hops after r rounds, O(log max_chain) shuffles total. A hop-by-hop
walk (the naive 30-join plan) pays one shuffle PER HOP and is the
difference between 5 rounds and 30 at crawl scale. Terminal nodes
absorb (succ(t) = t); nodes still unresolved after the hop budget —
redirect CYCLES — come back resolved=false rather than looping
forever (the reference behavior of every production fetcher: bounded
redirect budget, e.g. curl --max-redirs).

Each round ends in a localCheckpoint(eager=False) to keep lineage
O(1), as in the CC loop; under AQE, building it already runs that
round's shuffle map stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, LongType, StructField,
                               StructType)

from pyproj_spark.operators.bfs import _collect_small


def _double(edges: DataFrame, src: str, dst: str, w, max_hops: int
            ) -> DataFrame:
    """(node, target, dist, resolved) for every node appearing in
    `edges`, by pointer doubling with accumulated integer weight ``w``
    (a column expression): succ'(u) = succ(succ(u)), d'(u) = d(u) +
    d(succ(u)). Terminals absorb with d = 0, so extra rounds are
    no-ops; resolved = the target has no outgoing edge. Non-functional
    input keeps the smallest (target, weight) per source. At or below
    the cutover size the identical algebra runs on dicts."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                      w.cast("long").alias("w"))
         .filter(F.col("u") != F.col("v"))
         .groupBy("u").agg(F.min_by("v", F.struct("v", "w")).alias("v"),
                           F.min_by("w", F.struct("v", "w")).alias("w")))
    rounds = max(1, (max_hops - 1).bit_length())  # 2^rounds >= max_hops
    rows = _collect_small(e, ["u", "v", "w"])
    if rows is not None:
        has_out = {u for u, _, _ in rows}
        nxt = {u: u for r in rows for u in r[:2]}
        d = dict.fromkeys(nxt, 0)
        for u, v, wt in rows:
            nxt[u], d[u] = v, wt
        for _ in range(rounds):
            nxt, d = ({u: nxt[nxt[u]] for u in nxt},
                      {u: d[u] + d[nxt[u]] for u in nxt})
        ntype = e.schema["u"].dataType
        return edges.sparkSession.createDataFrame(
            [(u, nxt[u], d[u], nxt[u] not in has_out)
             for u in sorted(nxt)],
            StructType([StructField("node", ntype),
                        StructField("target", ntype),
                        StructField("dist", LongType()),
                        StructField("resolved", BooleanType())]))
    # successor table over ALL nodes: non-source nodes are terminal
    # and point to themselves
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct())
    succ = (nodes.join(e.withColumnRenamed("u", "node"), "node", "left")
            .select("node",
                    F.coalesce("v", F.col("node")).alias("nxt"),
                    F.coalesce("w", F.lit(0)).alias("d")))
    for _ in range(rounds):
        hop2 = succ.select(F.col("node").alias("_n"),
                           F.col("nxt").alias("_m"),
                           F.col("d").alias("_d"))
        succ = (succ.join(hop2, succ["nxt"] == hop2["_n"])
                .select("node", F.col("_m").alias("nxt"),
                        (F.col("d") + F.col("_d")).alias("d"))
                .localCheckpoint(eager=False))
    is_src = e.select(F.col("u").alias("nxt")).distinct() \
        .withColumn("_has_out", F.lit(True))
    return (succ.join(is_src, "nxt", "left")
            .select("node", F.col("nxt").alias("target"),
                    F.col("d").alias("dist"),
                    F.coalesce(~F.col("_has_out"), F.lit(True))
                    .alias("resolved")))


def resolve_redirects(edges: DataFrame, src: str = "src",
                      dst: str = "dst", max_hops: int = 16
                      ) -> DataFrame:
    """(url, target, resolved) for every node appearing in `edges`.

    `edges` is functional per source (duplicates deduped; if a source
    maps to several targets the lexicographically SMALLEST wins —
    deterministic). target = the node reached after following up to
    ``max_hops`` redirects; resolved = whether that node is terminal
    (has no outgoing edge). The doubling loop of resolve_with_distance
    with zero weights: min_by(v, struct(v, 0)) == min(v).
    """
    return (_double(edges, src, dst, F.lit(0), max_hops)
            .select(F.col("node").alias("url"), "target", "resolved"))


def resolve_with_distance(edges: DataFrame, src: str = "src",
                          dst: str = "dst", weight: str = "w",
                          max_hops: int = 1024) -> DataFrame:
    """Pointer doubling with ACCUMULATED edge weight: (node, target,
    dist) where target is the terminal reached and dist the exact
    integer sum of edge weights along the path — the distance-to-
    outlet / hops-to-terminal generalization of resolve_redirects.
    Each round both squares the hop horizon AND adds the second
    half's accumulated weight: still O(log max_path) shuffles. Edges
    must be functional (one out-edge per source; enforced by a min-by
    dedup) and weights integral."""
    return (_double(edges, src, dst, F.col(weight), max_hops)
            .select("node", "target", "dist"))
