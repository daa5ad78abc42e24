"""dist_transform's one-pass L1 explode against a pure-Python replay
of the k rounds of 4-neighbour scatter-min it replaces."""

from __future__ import annotations

import random

import pytest

from pyproj_spark.queries import _grid_l1_distance, q_dist_transform

SF = "/root/testdata/sf0.01"
N = 64


def _replay_rounds(occ, k=6, n=N):
    """{(gx, gy): d} after k rounds: every labeled cell offers d + 1 to
    its in-grid 4-neighbours and each cell keeps its minimum."""
    dist = {c: 0 for c in occ}
    for _ in range(k):
        nxt = dict(dist)
        for (x, y), d in dist.items():
            for u, v in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                if 0 <= u < n and 0 <= v < n \
                        and nxt.get((u, v), d + 2) > d + 1:
                    nxt[(u, v)] = d + 1
        dist = nxt
    return dist


def _cell_sets():
    corners = [(0, 0), (0, N - 1), (N - 1, 0), (N - 1, N - 1)]
    rng = random.Random(7)
    edges = ([(0, rng.randrange(N)) for _ in range(3)]
             + [(N - 1, rng.randrange(N)) for _ in range(3)]
             + [(rng.randrange(N), 0) for _ in range(3)]
             + [(rng.randrange(N), N - 1) for _ in range(3)])
    inner = [(rng.randrange(N), rng.randrange(N)) for _ in range(25)]
    return {
        "single_inner": [(31, 17)],
        "single_corner": [(N - 1, 0)],
        "corners": corners,
        "corners_edges_inner": corners + edges + inner,
        "near_edge_pair": [(1, 1), (5, 2), (62, 60)],
    }


@pytest.mark.parametrize("case", sorted(_cell_sets()))
def test_one_pass_equals_k_rounds(spark, case):
    occ = sorted(set(_cell_sets()[case]))
    df = spark.createDataFrame(occ, "gx long, gy long")
    got = {(r.gx, r.gy): r.d for r in _grid_l1_distance(df).collect()}
    assert got == _replay_rounds(occ)


def test_schema_matches_the_rounds(spark):
    df = spark.createDataFrame([(3, 4)], "gx long, gy long")
    assert _grid_l1_distance(df).schema.simpleString() == \
        "struct<gx:bigint,gy:bigint,d:int>"


def test_execute_fires_at_most_four_jobs(spark):
    """Six unrolled shuffle rounds fired 8 jobs; the one-pass plan is
    the scan, the distinct and the min."""
    sc = spark.sparkContext
    df = q_dist_transform(spark, SF)
    group = "exec-only:dist_transform"
    sc.setJobGroup(group, "execute dist_transform")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
