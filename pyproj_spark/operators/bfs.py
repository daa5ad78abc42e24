"""Iterative frontier graph traversals: multi-source BFS hop distance
and synchronous label propagation.

Web-graph distance-from-seeds is the classic crawl-quality signal
(TrustRank-style: hop distance from a curated seed whitelist bounds
how much spam mass a page can inherit), and label propagation is the
cheap community detector for host-level grouping. Both are bounded
iterative joins:

* BFS expands one frontier per round — the frontier is the ONLY
  distributed state that moves; visited nodes are excluded with a
  broadcast-able left_anti against the (much smaller) distance table,
  and each round's result is lazily checkpointed so lineage stays
  O(1) instead of O(rounds).
* LPA re-labels every node each round from the mode of its
  neighbors' labels (tie -> smallest label), so updates are one
  groupBy + one max_by struct trick per round — deterministic by
  construction, which is what makes it oracle-replayable (plain LPA
  with random tie-breaks cannot be cross-engine-gated).

At 100 TB the frontier pattern holds: each round shuffles only
frontier x out-edges, the anti-join prunes map-side against the
aggregated distance table, and rounds are bounded by the graph
diameter (small-world web graphs: ~6-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hop_distance(edges: DataFrame, seeds, max_hops: int = 6,
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """Minimum hop count from any seed along directed edges.

    Returns (node, hop) for every node reachable within ``max_hops``
    (seeds themselves at hop 0). BFS gives min-distance by
    construction: a node enters the table the first round it is
    reached and the anti-join keeps later (longer) discoveries out.
    """
    spark = edges.sparkSession
    rows = _collect_small(edges, [src, dst])
    if rows is not None:
        return spark.createDataFrame(
            _hop_distance_py(rows, seeds, max_hops),
            "node long, hop int")
    dist = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "node long, hop int")
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(
                   edges.select(F.col(src).alias("node"),
                                F.col(dst).alias("nbr")), "node")
               .select(F.col("nbr").alias("node")).distinct()
               .join(dist, "node", "left_anti")
               .withColumn("hop", F.lit(h)))
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return dist


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic synchronous LPA over the undirected version of
    ``edges``: every node starts labeled with its own id; each round
    every node takes the most frequent label among its neighbors,
    breaking count ties toward the SMALLEST label. Returns
    (node, label) after ``rounds`` rounds.

    Sync + min-tie-break makes the result a pure function of the edge
    set (no ordering or RNG dependence) — the property the DuckDB
    oracle relies on to replay the identical rounds.
    """
    rows = _collect_small(edges, [src, dst])
    if rows is not None:
        return edges.sparkSession.createDataFrame(
            _label_propagation_py(rows, rounds), "node long, label long")
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    lab = (und.select(F.col("a").alias("node")).distinct()
           .withColumn("label", F.col("node")))
    for _ in range(rounds):
        cnt = (und.join(lab.withColumnRenamed("node", "b"), "b")
               .groupBy(F.col("a").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        # mode with min-label tie-break, shuffle-free on top of the
        # count agg: one max_by over a (c, -label) ordering struct
        lab = (cnt.groupBy("node")
               .agg(F.max(F.struct(F.col("c"),
                                   (-F.col("label")).alias("nl")))
                    .alias("m"))
               .select("node", (-F.col("m.nl")).alias("label")))
        lab = lab.localCheckpoint(eager=False)
    return lab


def shortest_paths(edges: DataFrame, seeds, rounds: int = 6,
                   src: str = "src", dst: str = "dst",
                   weight: str = "w") -> DataFrame:
    """Bellman-Ford style single/multi-source shortest paths over
    integer-weighted directed edges: ``rounds`` synchronous relaxation
    passes, each one join + one min-agg. After k rounds the distances
    are exact for every node whose shortest path uses <= k edges —
    the bounded-hop contract that makes the loop SQL-replayable and
    keeps the 100-TB cost at k scans of the edge set (no
    data-dependent convergence check in the hot path). Integer
    weights keep every distance an exact long."""
    spark = edges.sparkSession
    rows = _collect_small(edges, [src, dst, weight])
    if rows is not None:
        return spark.createDataFrame(
            _shortest_paths_py(rows, seeds, rounds), "node long, d long")
    dist = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "node long, d long")
    e = edges.select(F.col(src).alias("node"),
                     F.col(dst).alias("nbr"),
                     F.col(weight).alias("w"))
    for _ in range(rounds):
        relax = (dist.join(e, "node")
                 .select(F.col("nbr").alias("node"),
                         (F.col("d") + F.col("w")).alias("d")))
        dist = (dist.union(relax)
                .groupBy("node").agg(F.min("d").alias("d"))
                .localCheckpoint(eager=False))
    return dist


# ------------------------------------------------ small-graph cutover

#: edge count at or below which every link-graph loop (this module,
#: cc, pagerank, redirects) runs driver-side: each synchronous round
#: costs a fixed ~0.5-1 s of tiny-job scheduling, so a 10^2-node graph
#: pays seconds of driver rounds for microseconds of work (kcore
#: measured 9.8 s -> <2 s at sf0.01). Outputs are identical by
#: construction: the python replay runs the SAME bounded synchronous
#: rounds with the same integer semantics. Read at call time, so
#: setting it to 0 forces the distributed loops.
SMALL_LIMIT = 200_000


def _collect_small(edges: DataFrame, cols):
    """The collected edge list if the graph is small, else None. One
    bounded probe: SMALL_LIMIT+1 rows via take(), never a full count
    of an unbounded edge set."""
    if SMALL_LIMIT <= 0:
        return None
    rows = edges.select(*cols).take(SMALL_LIMIT + 1)
    return None if len(rows) > SMALL_LIMIT else rows


def _hop_distance_py(rows, seeds, max_hops):
    adj: dict = {}
    for r in rows:
        adj.setdefault(int(r[0]), []).append(int(r[1]))
    dist = {int(s): 0 for s in seeds}
    frontier = set(dist)
    for h in range(1, max_hops + 1):
        nxt = {n for f in frontier for n in adj.get(f, ())
               if n not in dist}
        if not nxt:
            break
        for n in nxt:
            dist[n] = h
        frontier = nxt
    return sorted(dist.items())


def _label_propagation_py(rows, rounds):
    adj: dict = {}
    for r in rows:
        a, b = int(r[0]), int(r[1])
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt: dict = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            # mode, ties toward the SMALLEST label
            nxt[n] = min(cnt, key=lambda k: (-cnt[k], k))
        lab = nxt
    return sorted(lab.items())


def _shortest_paths_py(rows, seeds, rounds):
    adj: dict = {}
    for r in rows:
        adj.setdefault(int(r[0]), []).append((int(r[1]), int(r[2])))
    dist = {int(s): 0 for s in seeds}
    for _ in range(rounds):
        relax = dict(dist)
        for n, d in dist.items():
            for m, w in adj.get(n, ()):
                if d + w < relax.get(m, d + w + 1):
                    relax[m] = d + w
        dist = relax
    return sorted(dist.items())


def kcore_survivors(und: DataFrame, k: int = 3, rounds: int = 6,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, deg) of the k-core approximation after ``rounds``
    synchronous peeling rounds over an UNDIRECTED edge table (both
    directions present): each round drops nodes whose degree among
    survivors is < k, then reports surviving degrees. Bounded rounds
    keep the plan replayable; the small-graph path collects the edges
    once and peels driver-side (identical rounds)."""
    rows = _collect_small(und, [src, dst])
    if rows is not None:
        adj: dict = {}
        for r in rows:
            adj.setdefault(int(r[0]), set()).add(int(r[1]))
        active = set(adj)
        for _ in range(rounds):
            deg = {n: len(adj[n] & active) for n in active}
            active = {n for n, d in deg.items() if d >= k}
        out = [(n, len(adj[n] & active)) for n in sorted(active)
               if len(adj[n] & active) >= k]
        from pyspark.sql.types import (LongType, StructField,
                                       StructType)
        return und.sparkSession.createDataFrame(
            out, StructType([StructField("node", LongType()),
                             StructField("deg", LongType())]))
    active = und.select(F.col(src).alias("node")).distinct()

    def degrees(act):
        return (und.join(act.withColumnRenamed("node", src), src)
                .join(act.select(F.col("node").alias(dst)), dst)
                .groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
                .withColumnRenamed(src, "node"))

    for _ in range(rounds):
        active = (degrees(active).filter(F.col("deg") >= k)
                  .select("node").localCheckpoint(eager=False))
    return degrees(active).filter(F.col("deg") >= k)


def temporal_reach(edges: DataFrame, seeds, rounds: int = 6,
                   src: str = "src", dst: str = "dst",
                   t: str = "t") -> DataFrame:
    """Time-respecting reachability over a timestamped contact graph:
    ``rounds`` synchronous relaxations keeping (node, earliest
    arrival); a path may only traverse edges whose timestamps never
    decrease. Seeds start at arrival -1 (before all edges). Same
    small-graph driver cutover as the other bounded loops."""
    spark = edges.sparkSession
    rows = _collect_small(edges, [src, dst, t])
    if rows is not None:
        adj: dict = {}
        for r in rows:
            adj.setdefault(int(r[0]), []).append((int(r[1]), int(r[2])))
        dist = {int(s): -1 for s in seeds}
        for _ in range(rounds):
            relax = dict(dist)
            for n, arr in dist.items():
                for m, et in adj.get(n, ()):
                    if et >= arr and et < relax.get(m, et + 1):
                        relax[m] = et
            dist = relax
        return spark.createDataFrame(sorted(dist.items()),
                                     "node long, arr long")
    dist = spark.createDataFrame([(int(s), -1) for s in seeds],
                                 "node long, arr long")
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("dst"),
                     F.col(t).alias("t"))
    for _ in range(rounds):
        relax = (dist.join(e, "node")
                 .filter(F.col("t") >= F.col("arr"))
                 .select(F.col("dst").alias("node"),
                         F.col("t").alias("arr")))
        dist = (dist.union(relax)
                .groupBy("node").agg(F.min("arr").alias("arr"))
                .localCheckpoint(eager=False))
    return dist
