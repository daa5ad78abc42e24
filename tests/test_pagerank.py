"""PageRank (operators/pagerank.py)."""

import pytest

from pyproj_spark.operators.pagerank import pagerank


def test_two_node_cycle(spark):
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r.node: r.rank for r in pagerank(e, iters=5).collect()}
    # symmetric cycle: exact stationary distribution from any start
    assert got[1] == pytest.approx(0.5, abs=1e-9)
    assert got[2] == pytest.approx(0.5, abs=1e-9)


def test_mass_conserved_with_dangling(spark):
    # node 3 has no outlinks: without the dangling term, total mass
    # decays by ~d*rank(3) per iteration
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                              "src long, dst long")
    ranks = pagerank(e, iters=4).collect()
    assert sum(r.rank for r in ranks) == pytest.approx(1.0, abs=1e-6)
    got = {r.node: r.rank for r in ranks}
    # 3 receives from both 1 and 2: highest rank
    assert got[3] > got[2] > 0
    assert got[3] > got[1]


def test_parallel_edges_deduped(spark):
    e1 = spark.createDataFrame([(1, 2), (1, 2), (2, 1)],
                               "src long, dst long")
    e2 = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r1 = {r.node: r.rank for r in pagerank(e1, iters=3).collect()}
    r2 = {r.node: r.rank for r in pagerank(e2, iters=3).collect()}
    assert r1 == r2


def test_hits_star_graph(spark):
    """On a star u1..u4 -> c, the center is the unique authority
    (auth=1) and the spokes are equal hubs (hub=0.25 each)."""
    from pyproj_spark.operators.pagerank import hits
    edges = spark.createDataFrame(
        [(i, 99) for i in range(1, 5)], ["src", "dst"])
    got = (hits(edges, iters=2).toPandas()
           .set_index("node").sort_index())
    assert got.loc[99, "auth"] == 1.0
    assert got.loc[99, "hub"] == 0.0
    for i in range(1, 5):
        assert got.loc[i, "hub"] == 0.25
        assert got.loc[i, "auth"] == 0.0


def test_hits_l1_normalized(spark):
    """Hub and authority vectors must each sum to 1 after every
    iteration (L1 normalization contract)."""
    from pyproj_spark.operators.pagerank import hits
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7) for i in range(20)
         if i % 7 != (i * 3 + 1) % 7], ["src", "dst"])
    got = hits(edges, iters=3).toPandas()
    assert abs(got["hub"].sum() - 1.0) < 1e-6
    assert abs(got["auth"].sum() - 1.0) < 1e-6


def test_triangle_counts_known_graph(spark):
    """K4 has 4 triangles, every node in 3; an attached pendant edge
    adds none; a disconnected path has none."""
    from pyproj_spark.operators.pagerank import triangle_counts
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    extra = [(0, 9), (10, 11), (11, 12)]  # pendant + path
    edges = spark.createDataFrame(k4 + extra, ["src", "dst"])
    got = (triangle_counts(edges).toPandas()
           .set_index("node")["triangles"].to_dict())
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_orientation_invariance(spark):
    """Edge direction and duplication in the input must not change
    the undirected triangle counts."""
    from pyproj_spark.operators.pagerank import triangle_counts
    tri = [(1, 2), (2, 3), (3, 1)]
    fwd = spark.createDataFrame(tri, ["src", "dst"])
    rev = spark.createDataFrame(
        [(b, a) for a, b in tri] + tri + tri, ["src", "dst"])
    a = triangle_counts(fwd).toPandas().set_index("node")
    b = triangle_counts(rev).toPandas().set_index("node")
    assert (a["triangles"] == 1).all()
    assert a.equals(b)


def test_personalized_pagerank_localizes_to_seeds(spark):
    """On two disconnected 3-cycles, PPR seeded in one component puts
    ALL mass there; global PageRank splits it evenly."""
    from pyproj_spark.operators.pagerank import pagerank
    cyc = [(1, 2), (2, 3), (3, 1), (11, 12), (12, 13), (13, 11)]
    edges = spark.createDataFrame(cyc, ["src", "dst"])
    ppr = (pagerank(edges, iters=4, seeds=[1]).toPandas()
           .set_index("node")["rank"])
    assert ppr.loc[[11, 12, 13]].sum() == 0.0
    assert abs(ppr.loc[[1, 2, 3]].sum() - 1.0) < 1e-6
    glob = (pagerank(edges, iters=4).toPandas()
            .set_index("node")["rank"])
    assert abs(glob.loc[[1, 2, 3]].sum() - 0.5) < 1e-6


def test_small_graph_cutover_matches_distributed(spark, monkeypatch):
    """The driver replay (integer-unit sums) and the distributed loop
    must agree bit-for-bit — on the gate-shaped host graph, with and
    without seeds, and for HITS."""
    import pyspark.sql.functions as F
    from pyproj_spark.operators import bfs
    from pyproj_spark.operators.pagerank import hits, pagerank
    edges = (spark.range(0, 3000)
             .select((F.col("id") % 97).alias("src"),
                     ((F.col("id") * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))

    def pdsort(df):
        return (df.toPandas().sort_values("node")
                .reset_index(drop=True))

    def both(run):
        fast = pdsort(run())
        with monkeypatch.context() as m:
            m.setattr(bfs, "SMALL_LIMIT", 0)
            return fast, pdsort(run())

    for seeds in (None, [0, 7, 13]):
        fast, slow = both(lambda: pagerank(edges, iters=3, seeds=seeds))
        assert fast.equals(slow), seeds
    fast, slow = both(lambda: hits(edges, iters=2))
    assert fast.equals(slow)


def test_redirect_resolution(spark):
    """Pointer doubling over a functional redirect graph: chains
    resolve to their terminal, cycles stay unresolved, hop budget is
    honored (chain longer than budget -> resolved=False mid-chain)."""
    from pyproj_spark.operators.redirects import resolve_redirects
    edges = ([(i, i + 1) for i in range(0, 5)]          # chain 0..5
             + [(10, 11), (11, 12), (12, 10)]           # 3-cycle
             + [(i, i + 1) for i in range(20, 50)])     # 30-chain
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["url"]: (r["target"], r["resolved"])
           for r in resolve_redirects(df, max_hops=16).collect()}
    assert out[0] == (5, True) and out[4] == (5, True)
    assert out[5] == (5, True)               # terminal self-resolves
    assert out[10][1] is False               # cycle never resolves
    assert out[11][1] is False and out[12][1] is False
    assert out[20][1] is False               # 30 hops > 16 budget
    assert out[40] == (50, True)             # tail within budget
    # dedup + smallest-target tie-break for non-functional input
    df2 = spark.createDataFrame([(1, 9), (1, 3), (3, 4)],
                                ["src", "dst"])
    out2 = {r["url"]: r["target"]
            for r in resolve_redirects(df2).collect()}
    assert out2[1] == 4  # 1 -> min(3,9)=3 -> 4


def test_salsa_cutover_and_degree_normalization(spark, monkeypatch):
    """SALSA: driver replay == distributed loop bit-for-bit, scores
    are L1-normalized, and the degree normalization shows: on a star
    where one hub links to k leaves plus a 2-cycle elsewhere, SALSA
    authority mass per leaf equals the 1/outdeg-weighted walk."""
    import pyspark.sql.functions as F
    from pyproj_spark.operators import bfs
    from pyproj_spark.operators.pagerank import salsa
    edges = (spark.range(0, 3000)
             .select((F.col("id") % 97).alias("src"),
                     ((F.col("id") * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))

    def pdsort(df):
        return (df.toPandas().sort_values("node")
                .reset_index(drop=True))

    fast = pdsort(salsa(edges, iters=2))
    with monkeypatch.context() as m:
        m.setattr(bfs, "SMALL_LIMIT", 0)
        slow = pdsort(salsa(edges, iters=2))
    assert fast.equals(slow)
    assert abs(fast.hub.sum() - 1.0) < 1e-6
    assert abs(fast.auth.sum() - 1.0) < 1e-6
    # star 0->{1,2,3} plus cycle 4<->5: after one walk step each star
    # leaf holds (1/3)/norm of the authority mass, cycle nodes 1/norm
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5), (5, 4)], "src long, dst long")
    out = {r.node: r for r in salsa(star, iters=1).collect()}
    assert out[1].auth == out[2].auth == out[3].auth
    assert abs(out[1].auth - (1.0 / 3) / 3) < 1e-9  # norm = 1/3*3 + 2
    assert abs(out[4].auth - 1.0 / 3) < 1e-9
