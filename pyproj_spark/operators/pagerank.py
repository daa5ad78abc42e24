"""PageRank — the canonical web-graph analysis (Common Crawl
publishes host-level PageRank over exactly the kind of link graph
this engine ingests). Pregel-style iterations as pure DataFrame ops:

  contribution pass: ranks ⋈ edges on src (shuffle on src), partial-
  aggregated sum per dst; rank update r' = (1-d)/N + d·(in + dangling
  share). Dangling mass is one scalar aggregate per iteration —
  ignoring it (the common shortcut) makes ranks leak out of the
  simplex and is measurable on any real crawl where a large fraction
  of pages have no outlinks.

Determinism contract (same as operators/kmeans.py, STRICTER than the
round-3 form): every distributed aggregation is an exact integer-unit
sum — per-edge contributions as round(w*1e12) longs, dangling mass as
round(rank*1e9) longs — so aggregation ORDER cannot perturb anything,
and ranks are rounded after every iteration so a SQL oracle (and the
small-graph driver path) replay the unrolled iterations bit-for-bit.
The iteration count is fixed by the caller — convergence-based
stopping belongs to the driver loop, exactly like kmeans_fit.

Small-graph cutover (the one shared by every link-graph operator,
``bfs._collect_small``): at or below ``bfs.SMALL_LIMIT`` edges the
loop runs driver-side in numpy with the IDENTICAL integer-unit
arithmetic — a 100-host gate graph pays ~10 Spark jobs of pure
scheduling overhead per iteration otherwise. The distributed loop is
untouched above the limit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.operators.bfs import _collect_small


def _small_edges(e: DataFrame):
    """The collected (src, dst) rows of the deduped edge list when its
    ids are integral (the numpy replays index int64 arrays) and it is
    at or below the cutover size; else None."""
    integral = all(f.dataType.typeName() in
                   ("long", "integer", "short", "byte")
                   for f in e.schema.fields)
    return _collect_small(e, e.columns) if integral else None


def _node_table(e: DataFrame, src: str, dst: str) -> DataFrame:
    """Every endpoint once, materialized: the distributed loops join
    it on every iteration."""
    return (e.select(F.col(src).alias("node"))
            .unionByName(e.select(F.col(dst).alias("node")))
            .distinct().localCheckpoint())


def _index(edge_rows):
    """(nodes, si, di): the sorted distinct node ids and each edge's
    source/destination position in them."""
    es = np.array([r[0] for r in edge_rows], dtype=np.int64)
    ed = np.array([r[1] for r in edge_rows], dtype=np.int64)
    nodes = np.unique(np.concatenate([es, ed]))
    return nodes, np.searchsorted(nodes, es), np.searchsorted(nodes, ed)


def _pagerank_small(spark, edge_rows, iters, damping, round_to, seeds):
    """Driver replay of the distributed loop: identical integer-unit
    sums and HALF_UP rounding, same (node, rank) output."""
    nodes, si, di = _index(edge_rows)
    n = len(nodes)
    deg = np.bincount(si, minlength=n)
    has_out = deg > 0

    def rnd(x, p):  # F.round HALF_UP for non-negative values
        s = 10.0 ** p
        return np.floor(x * s + 0.5) / s

    if seeds is None:
        is_seed = np.ones(n, dtype=bool)
        n_tel = n
        rank = np.full(n, round(1.0 / n, round_to))
    else:
        is_seed = np.isin(nodes, np.array(list(seeds), dtype=np.int64))
        n_tel = len(seeds)
        rank = np.where(is_seed, round(1.0 / n_tel, round_to), 0.0)
    for _ in range(iters):
        w = rank / np.maximum(deg, 1)
        cm = np.floor(w[si] * 1e12 + 0.5).astype(np.int64)
        # int64 accumulation (np.add.at), NOT bincount float weights:
        # a hot node's micro-unit in-sum can exceed 2^53
        in_c = np.zeros(n, dtype=np.int64)
        np.add.at(in_c, di, cm)
        dang = round(
            int(np.floor(rank[~has_out] * 1e9 + 0.5)
                .astype(np.int64).sum()) / 1e9, 12)
        base = (1.0 - damping) / n_tel + damping * dang / n_tel
        tel = np.where(is_seed, base, 0.0)
        rank = rnd(tel + damping * (in_c.astype(np.float64) / 1e12),
                   round_to)
    return spark.createDataFrame(
        [(int(v), float(r)) for v, r in zip(nodes, rank)],
        "node long, rank double")


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             round_to: int = 9, seeds: list | None = None) -> DataFrame:
    """(node, rank) after ``iters`` iterations over the directed edge
    list. Nodes = union of srcs and dsts; parallel edges count once
    (dedup), uniform init 1/N.

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala,
    "Topic-sensitive PageRank", WWW 2002 — public): the teleport
    vector (and the dangling-mass redistribution, which must follow
    the same distribution or mass leaks off the seed topic) becomes
    uniform over the seed set instead of all nodes — random walk with
    restart from the seeds, the relevance-to-topic score."""
    e = edges.select(src, dst).distinct()
    rows = _small_edges(e)
    if rows is not None:
        return _pagerank_small(edges.sparkSession, rows, iters,
                               damping, round_to, seeds)
    e = e.localCheckpoint()
    nodes = _node_table(e, src, dst)
    n = nodes.count()
    outdeg = e.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
    src_nodes = outdeg.select(F.col(src).alias("node"))
    if seeds is None:
        is_seed, n_tel = F.lit(True), n
        init = F.lit(round(1.0 / n, round_to))
    else:
        is_seed, n_tel = F.col("node").isin(list(seeds)), len(seeds)
        init = F.when(is_seed, F.lit(round(1.0 / n_tel, round_to))) \
            .otherwise(F.lit(0.0))
    ranks = nodes.select("node", init.alias("rank"))
    for _ in range(iters):
        w = (ranks.withColumnRenamed("node", src).join(outdeg, src)
             .select(src, (F.col("rank") / F.col("deg")).alias("w")))
        # exact integer-micro contributions: aggregation order cannot
        # perturb the sum (and the driver cutover replays it exactly)
        contrib = e.join(w, src).select(
            F.col(dst).alias("node"),
            F.round(F.col("w") * 1e12).cast("long").alias("cm"))
        in_sum = (contrib.groupBy("node")
                  .agg((F.sum("cm").cast("double") / 1e12)
                       .alias("in_c")))
        # dangling nodes (no outlinks) spread their rank over the
        # teleport distribution — summed as exact nano-unit longs
        # (ranks are round_to-dp decimals, so this is lossless)
        dang = (ranks.join(src_nodes, "node", "left_anti")
                .agg(F.coalesce(F.sum(F.round(F.col("rank") * 1e9)
                                      .cast("long")), F.lit(0)))
                .first()[0])
        dang = round(dang / 1e9, 12)
        base = (1.0 - damping) / n_tel + damping * dang / n_tel
        tel = F.when(is_seed, F.lit(base)).otherwise(F.lit(0.0))
        ranks = (nodes.join(in_sum, "node", "left")
                 .select("node",
                         F.round(tel + F.lit(damping)
                                 * F.coalesce("in_c", F.lit(0.0)),
                                 round_to).alias("rank"))
                 # truncate lineage: each iteration's dangling .first()
                 # would otherwise recompute ALL previous iterations
                 # (exponential replan growth — same fix as the CC loop)
                 .localCheckpoint(eager=False))
    return ranks


def _hub_auth_small(spark, edge_rows, iters, round_to, walk):
    """Driver replay of the hub/authority loop: identical integer-unit
    sums as the distributed path."""
    nodes, si, di = _index(edge_rows)
    n = len(nodes)
    # x / 1.0 == x exactly, so HITS is the walk with unit degrees
    odeg = np.maximum(np.bincount(si, minlength=n), 1) if walk else 1.0
    ideg = np.maximum(np.bincount(di, minlength=n), 1) if walk else 1.0

    def prop(scores, from_idx, to_idx, deg):
        w = scores / deg
        cm = np.floor(w[from_idx] * 1e12 + 0.5).astype(np.int64)
        sm = np.zeros(n, dtype=np.int64)
        np.add.at(sm, to_idx, cm)
        norm = int(sm.sum())
        s = 10.0 ** round_to
        return np.floor(sm.astype(np.float64) / float(norm) * s
                        + 0.5) / s

    h = np.ones(n)
    a = None
    for _ in range(iters):
        a = prop(h, si, di, odeg)
        h = prop(a, di, si, ideg)
    return spark.createDataFrame(
        [(int(v), float(hh), float(aa)) for v, hh, aa in zip(nodes, h, a)],
        "node long, hub double, auth double")


def _hub_auth(edges, iters, src, dst, round_to, walk) -> DataFrame:
    """(node, hub, auth) by mutually reinforcing propagation; ``walk``
    divides each contribution by the sender's degree (SALSA), without
    it every degree is 1 (HITS). Each propagation sums
    CAST(round(score[/deg] * 1e12) AS BIGINT) contributions — exact
    longs, associative, so distributed aggregation order cannot leak —
    and L1 normalization divides the two exact longs before the
    per-iteration rounding."""
    e = edges.select(src, dst).distinct()
    rows = _small_edges(e)
    if rows is not None:
        return _hub_auth_small(edges.sparkSession, rows, iters,
                               round_to, walk)
    e = e.localCheckpoint()
    nodes = _node_table(e, src, dst)
    h = nodes.select("node", F.lit(1.0).alias("hub"))
    a = None

    def propagate(scores, score_col, key_in, key_out, out_col):
        sent = e.join(scores.withColumnRenamed("node", key_in), key_in)
        w = F.col(score_col)
        if walk:
            sent = sent.join(
                e.groupBy(key_in).agg(F.count(F.lit(1)).alias("deg")),
                key_in)
            w = w / F.col("deg")
        cm = (sent.select(F.col(key_out).alias("node"),
                          F.round(w * 1e12).cast("long").alias("cm"))
              .groupBy("node").agg(F.sum("cm").alias("sm")))
        norm = cm.agg(F.sum("sm")).first()[0]
        return (nodes.join(cm, "node", "left")
                .select("node",
                        F.round(F.coalesce(F.col("sm"), F.lit(0))
                                .cast("double") / F.lit(float(norm)),
                                round_to).alias(out_col))
                .localCheckpoint(eager=False))

    for _ in range(iters):
        a = propagate(h, "hub", src, dst, "auth")
        h = propagate(a, "auth", dst, src, "hub")
    return h.join(a, "node").select("node", "hub", "auth")


def hits(edges: DataFrame, iters: int = 2, src: str = "src",
         dst: str = "dst", round_to: int = 9) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    hyperlinked environment", JACM 1999 — public): the OTHER classic
    web-graph score, mutually reinforcing — a page is a good authority
    if good hubs link to it, a good hub if it links to good
    authorities. Complements PageRank on the same host graph (HITS
    separates directories/link pages from destination pages, which
    PageRank's single score conflates). Determinism is STRICTER than
    the pagerank loop (see _hub_auth). Returns (node, hub, auth)."""
    return _hub_auth(edges, iters, src, dst, round_to, walk=False)


def salsa(edges: DataFrame, iters: int = 2, src: str = "src",
          dst: str = "dst", round_to: int = 9) -> DataFrame:
    """SALSA (Lempel & Moran, "The stochastic approach for
    link-structure analysis", WWW 2000 — public): HITS with
    degree-normalized propagation — each step is a random-walk step on
    the bipartite hub/authority graph (a(j) = SUM h(i)/outdeg(i) over
    in-links, h(i) = SUM a(j)/indeg(j) over out-links), which removes
    HITS' TKC bias (tightly-knit communities absorbing all the score
    mass). Same determinism contract as hits(), per-iteration rounding
    to round_to dp so a SQL oracle replays the unrolled loop
    bit-for-bit. Returns (node, hub, auth)."""
    return _hub_auth(edges, iters, src, dst, round_to, walk=True)


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts via DEGREE-ORDERED ORIENTATION (the
    classic MapReduce triangle algorithm, Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer", WWW 2011
    — public): orient each undirected edge from the (degree, id)-
    smaller endpoint to the larger, so every triangle is counted
    exactly once and — the scale property — every node's OUT-degree
    is O(sqrt(m)), which bounds the wedge-join fan-out that kills the
    naive three-way self-join on power-law web graphs (the "last
    reducer" holding a celebrity node's neighborhood).

    Plan: dedup undirected edges -> degree agg -> orient -> wedge
    self-join on the apex -> closing-edge semi-join -> explode the 3
    corners -> count per node. Returns (node, triangles)."""
    und = (edges.select(F.least(src, dst).alias("a"),
                        F.greatest(src, dst).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    deg = (und.select(F.col("a").alias("n"))
           .unionByName(und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ed = und.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"))
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (w1.join(w2, "u").filter(F.col("x") < F.col("y")))
    # wedge pairs are node-value-ordered, and so is `und` (least,
    # greatest) — the undirected edge set IS the closing-edge table
    tri = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"])
    corners = (tri.select(F.explode(F.array("u", "x", "y"))
                          .alias("node")))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).alias("triangles")))
