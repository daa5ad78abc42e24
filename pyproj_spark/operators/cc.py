"""Connected components over candidate duplicate pairs — the dedup
resolution step (pairs from minhash_lsh_pairs/jaccard_pairs -> cluster
representative per document, so each cluster keeps one canonical doc).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014). Unlike one-hop min-label propagation (rounds =
component DIAMETER — a chain of versioned/boilerplate near-dups makes
that O(n) full-width shuffle rounds), star contraction converges in
O(log n) rounds REGARDLESS of component shape, and every round operates
only on the current (shrinking) edge set, not the original pair stream:

  large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
  small-star(u): orient edges larger→smaller; m = min(N(u));
                 emit (v, m) for v ∈ N(u), plus (u, m)

At the fixpoint the edge set is a forest of stars rooted at each
component's minimum vertex id (the deterministic canonical label).
Convergence is detected by a signature (count + two independent
sums-of-hash) of the canonicalized edge set — one tiny aggregate per
round, the only driver-side probe a fixpoint algorithm cannot avoid.
Each round ends in a localCheckpoint(eager=False): under AQE, building
it already runs the round's shuffle map stages, and the signature scan
persists the result — one pass per round, no lineage recomputation,
no separate full materialization pass.

Scale notes (100 TB): both stars are a groupBy + equi-join + distinct on
the CURRENT edge set; edges strictly contract toward |V| star edges, so
late rounds are cheap. No step ever joins the full original pair stream
after round 1. Skewed min-vertices (one giant component) produce a hot
reduce key only in the final star — a single groupBy(min) row whose
payload is one long, already the output shape.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.operators.bfs import _collect_small


def _canon(e: DataFrame) -> DataFrame:
    """Orient every edge larger→smaller and drop self-loops: the
    canonical form shared by small-star and the convergence signature."""
    return (e.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
            .where(F.col("src") != F.col("dst")))


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min(N(u) ∪ {u})."""
    nbrs = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m")))
    # no distinct here: duplicates cannot change small-star's min
    # aggregation and the round ends with small-star's distinct anyway —
    # dropping it saves one full shuffle per round
    return (nbrs.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst")))


def _small_star(e: DataFrame) -> DataFrame:
    """Orient larger→smaller; attach every smaller neighbor (and u
    itself) to m = min(N(u))."""
    d = _canon(e)
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    out = (d.join(mins, "src")
           .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
           .unionByName(mins.select("src", F.col("m").alias("dst")))
           .where(F.col("src") != F.col("dst"))
           .distinct())
    return out


def _signature(e: DataFrame) -> tuple:
    """Cheap deterministic fingerprint of the canonical edge set:
    (row count, 64-bit sum of per-edge hashes). Order-independent; a
    collision would need two distinct edge sets agreeing on both — at
    which point the algorithm runs one extra (idempotent) confirmation
    round at worst, because stars are a fixpoint of both operations."""
    # pmod before summing keeps the sum within long range under ANSI
    # arithmetic; two independent hash orders push the per-round false-
    # match probability to ~2^-62
    h1 = F.pmod(F.xxhash64("src", "dst"), F.lit(2147483647))
    h2 = F.pmod(F.xxhash64("dst", "src"), F.lit(2147483629))
    row = (e.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h1).alias("h1"), F.sum(h2).alias("h2")).first())
    return (row["n"], row["h1"], row["h2"])


def _driver_components(spark, rows, vtype) -> DataFrame:
    """Union-find with min-root tracking over a collected small edge
    set; returns the same (id, rep) table as the distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for src, dst in rows:
        a, b = find(src), find(dst)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo  # min vertex stays the root
    from pyspark.sql.types import StructField, StructType
    verts = dict.fromkeys(v for r in rows for v in r)
    return spark.createDataFrame(
        [(v, find(v)) for v in verts],
        StructType([StructField("id", vtype), StructField("rep", vtype)]))


def connected_components(edges: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b", max_iter: int = 30
                         ) -> DataFrame:
    """(id, rep) for every vertex in `edges`: rep = min vertex id in
    the vertex's connected component (deterministic canonical label).

    max_iter bounds ALTERNATION rounds (one large-star + one small-star
    each); O(log n) suffice for any graph shape, so hitting the bound
    means something is wrong — a warning is emitted and the current
    (possibly unconverged) labels are returned rather than silently
    treated as final truth.

    Edge sets at or below ``bfs.SMALL_LIMIT`` skip the distributed
    loop for a driver-side union-find (the shared link-graph cutover:
    measured 8.0 s -> ~2 s on the grid-DBSCAN core-cell graph).
    Labels are identical by construction (min vertex per component).
    """
    # checkpoint the raw pair stream ONCE: every later consumer (the
    # small-graph probe, round 1, the final vertex join) reuses the
    # persisted blocks instead of re-executing the potentially
    # expensive pair-producing lineage, e.g. the whole minhash
    # pipeline (measured 29s -> ~6s at sf0.1). Not lazy when the
    # lineage ends in a shuffle: under AQE, building the checkpointed
    # frame already runs that shuffle's map stage.
    raw = (edges.select(F.col(a_col).alias("src"),
                        F.col(b_col).alias("dst"))
           .localCheckpoint(eager=False))
    verts = (raw.select(F.col("src").alias("id"))
             .unionByName(raw.select(F.col("dst").alias("id")))
             .distinct())
    rows = _collect_small(raw, ["src", "dst"])
    if rows is not None:
        return _driver_components(raw.sparkSession, rows,
                                  verts.schema["id"].dataType)
    e = _canon(raw).distinct().localCheckpoint(eager=False)
    sig = _signature(e)
    converged = False
    for i in range(max_iter):
        # checkpoint + the signature action = ONE pass per round: the
        # round's shuffles run when the frame is built (AQE), the
        # signature scan persists its output, and the next round (and
        # the final star extraction) reuse the persisted blocks instead
        # of recomputing prior rounds' lineage
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_sig = _signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged and max_iter > 0:
        warnings.warn(
            f"connected_components did not converge in {max_iter} "
            "rounds; returned representatives may split components",
            RuntimeWarning, stacklevel=2)
    # fixpoint edge set is (v, root) stars; roots appear only as dst.
    # Left-join vertices so isolated inputs (self-pair edges only) keep
    # themselves as rep.
    star = e.select(F.col("src").alias("id"), F.col("dst").alias("rep"))
    return (verts.join(star, "id", "left")
            .select("id", F.coalesce("rep", "id").alias("rep")))


def dedup_clusters(pairs: DataFrame, a_col: str = "id_a",
                   b_col: str = "id_b") -> DataFrame:
    """Cluster summary from candidate pairs: (rep, cluster_size) for
    every duplicate cluster (size >= 2 by construction — singletons
    never appear in the pair list)."""
    comp = connected_components(pairs, a_col, b_col)
    return comp.groupBy("rep").agg(F.count("*").alias("cluster_size"))
