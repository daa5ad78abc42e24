"""BFS hop distance + label propagation (operators/bfs.py)."""

import pytest
from pyspark.sql import functions as F

from pyproj_spark.operators.bfs import hop_distance, label_propagation


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long")


def test_bfs_chain_min_hops(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    got = {r["node"]: r["hop"]
           for r in hop_distance(e, seeds=[0], max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4 is beyond max_hops


def test_bfs_takes_shortest_of_two_paths(spark):
    # 0 -> 9 directly and 0 -> 1 -> 9: hop(9) must be 1
    e = _edges(spark, [(0, 9), (0, 1), (1, 9), (9, 5)])
    got = {r["node"]: r["hop"]
           for r in hop_distance(e, seeds=[0], max_hops=4).collect()}
    assert got == {0: 0, 9: 1, 1: 1, 5: 2}


def test_bfs_multi_seed_and_unreachable(spark):
    e = _edges(spark, [(0, 1), (7, 8), (50, 60)])  # 50,60 unreachable
    got = {r["node"]: r["hop"]
           for r in hop_distance(e, seeds=[0, 7], max_hops=6).collect()}
    assert got == {0: 0, 7: 0, 1: 1, 8: 1}


def test_bfs_early_stop_on_empty_frontier(spark):
    e = _edges(spark, [(0, 1)])
    # frontier empties at hop 2; max_hops=100 must not loop 100 times
    got = hop_distance(e, seeds=[0], max_hops=100).collect()
    assert {r["node"]: r["hop"] for r in got} == {0: 0, 1: 1}


def test_lpa_two_triangles(spark):
    # two disjoint triangles -> every node adopts its triangle's
    # min label within 3 deterministic rounds
    e = _edges(spark, [(1, 2), (2, 3), (3, 1),
                       (10, 11), (11, 12), (12, 10)])
    got = {r["node"]: r["label"]
           for r in label_propagation(e, rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_tie_breaks_to_smallest_label(spark):
    # node 5's neighbors {1, 2} tie at count 1 -> label 1 after one
    # round regardless of input ordering
    e = _edges(spark, [(1, 5), (2, 5)])
    lab = label_propagation(e, rounds=1)
    got = {r["node"]: r["label"] for r in lab.collect()}
    assert got[5] == 1


def test_lpa_deterministic_under_repartition(spark):
    pairs = [(i % 13, (i * 7 + 3) % 13) for i in range(60)
             if i % 13 != (i * 7 + 3) % 13]
    a = label_propagation(_edges(spark, pairs), rounds=3)
    b = label_propagation(
        _edges(spark, list(reversed(pairs))).repartition(7), rounds=3)
    assert sorted(map(tuple, a.collect())) == \
        sorted(map(tuple, b.collect()))


def test_hll_register_merge_equals_direct_grouping(spark):
    """Pyramid soundness: registers merged z8->z6 with max must be
    bit-identical to registers computed directly at the z6 grouping —
    the mergeability property q_hll_pyramid rides on."""
    from pyproj_spark.operators.sketch import hll_registers
    df = spark.range(0, 5000).select(
        (F.col("id") % 64).alias("tx8"),
        ((F.col("id") * 7) % 64).alias("ty8"),
        ((F.col("id") * 2654435761) % 512).cast("string").alias("u"))
    direct = hll_registers(
        df.select((F.shiftright("tx8", 2) * 16
                   + F.shiftright("ty8", 2)).alias("g"), "u"),
        "g", "u")
    regs8 = (df.select((F.col("tx8") * 64 + F.col("ty8")).alias("g8"),
                       "u")
             .transform(lambda d: hll_registers(d, "g8", "u")))
    merged = (regs8
              .select((F.shiftright(F.floor(F.col("g8") / 64), 2) * 16
                       + F.shiftright(F.col("g8") % 64, 2)).alias("g"),
                      "idx", "mx")
              .groupBy("g", "idx").agg(F.max("mx").alias("mx")))
    assert sorted(map(tuple, direct.collect())) == \
        sorted(map(tuple, merged.collect()))


def test_bellman_ford_prefers_cheap_long_path(spark):
    from pyproj_spark.operators.bfs import shortest_paths
    # direct 0->3 costs 10; 0->1->2->3 costs 3
    e = spark.createDataFrame(
        [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)],
        "src long, dst long, w long")
    got = {r["node"]: r["d"]
           for r in shortest_paths(e, seeds=[0], rounds=6).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bellman_ford_bounded_rounds_contract(spark):
    from pyproj_spark.operators.bfs import shortest_paths
    # chain of 5 edges: with rounds=3 only the first 3 hops are final
    e = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], "src long, dst long, w long")
    got = {r["node"]: r["d"]
           for r in shortest_paths(e, seeds=[0], rounds=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # nodes 4,5 not yet reached


# every link-graph loop, driven on one small graph: a chain with
# shortcuts, a 3-cycle, a 4-clique (kcore survivors, redirect cycles)
# and a non-functional redirect source (0 -> 1 and 0 -> 3)
_PAIRS = ([(i, i + 1) for i in range(6)] + [(0, 3), (2, 5)]
          + [(10, 11), (11, 12), (12, 10)]
          + [(a, b) for a in range(20, 24) for b in range(20, 24)
             if a != b]
          + [(30, 31)])


def _undirected(e):
    return (e.select("src", "dst")
            .union(e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
            .distinct())


def _loops():
    from pyproj_spark.operators import bfs, cc, pagerank, redirects
    return {
        "hop_distance": lambda e: bfs.hop_distance(e, [0, 10], 4),
        "label_propagation": lambda e: bfs.label_propagation(e, 3),
        "shortest_paths": lambda e: bfs.shortest_paths(e, [0], 4),
        "kcore_survivors":
            lambda e: bfs.kcore_survivors(_undirected(e), k=2, rounds=3),
        "temporal_reach": lambda e: bfs.temporal_reach(e, [0], 4),
        "resolve_redirects":
            lambda e: redirects.resolve_redirects(e, max_hops=4),
        "resolve_with_distance":
            lambda e: redirects.resolve_with_distance(e, max_hops=8),
        "connected_components":
            lambda e: cc.connected_components(e, "src", "dst"),
        "pagerank": lambda e: pagerank.pagerank(e, iters=3),
        "hits": lambda e: pagerank.hits(e, iters=2),
        "salsa": lambda e: pagerank.salsa(e, iters=2),
    }


@pytest.mark.parametrize("name", sorted(_loops()))
def test_distributed_loop_matches_driver_replay(spark, monkeypatch,
                                                 name):
    """SMALL_LIMIT = 0 forces every operator onto its distributed loop,
    whose output must equal the driver replay's on the same graph."""
    from pyproj_spark.operators import bfs
    run = _loops()[name]
    e = spark.createDataFrame(
        [(a, b, (7 * a + b) % 5 + 1, (a + 2 * b) % 9) for a, b in _PAIRS],
        "src long, dst long, w long, t long")

    def collect(tag):
        # the rounds of a distributed loop fire far more jobs than the
        # driver path's probe + collect
        sc, group = spark.sparkContext, f"{name}:{tag}"
        sc.setJobGroup(group, group)
        try:
            rows = sorted(map(tuple, run(e).collect()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    driver_jobs, driver = collect("driver")
    monkeypatch.setattr(bfs, "SMALL_LIMIT", 0)
    dist_jobs, dist = collect("distributed")
    assert dist_jobs > driver_jobs
    assert driver and dist == driver
