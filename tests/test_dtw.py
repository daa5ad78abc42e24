"""DTW trajectory distance vs exhaustive warping-path search."""

import itertools

import pytest

from pyproj_spark.operators.dtw import dtw_to_reference

COLS = ["user_id", "i", "x", "y"]


def _brute_dtw(track, ref):
    """Min over all monotone warping paths, both endpoints anchored."""
    n, m = len(track), len(ref)

    def cost(i, j):
        return ((track[i][0] - ref[j][0]) ** 2
                + (track[i][1] - ref[j][1]) ** 2)

    best = [None]

    def walk(i, j, acc):
        acc += cost(i, j)
        if best[0] is not None and acc >= best[0]:
            return
        if i == n - 1 and j == m - 1:
            best[0] = acc
            return
        for di, dj in ((1, 0), (0, 1), (1, 1)):
            if i + di < n and j + dj < m:
                walk(i + di, j + dj, acc)

    walk(0, 0, 0)
    return best[0]


class TestDTW:
    def test_matches_exhaustive_search(self, spark):
        ref = [(0, 0), (10, 0), (20, 5), (30, 10)]
        tracks = {
            1: [(0, 1), (9, 0), (21, 4), (28, 11), (31, 9)],
            2: [(5, 5), (5, 5), (25, 8)],
            3: [(0, 0), (10, 0), (20, 5), (30, 10)],  # exact: cost 0
        }
        rows = [(u, i, x, y) for u, t in tracks.items()
                for i, (x, y) in enumerate(t)]
        got = {r.user_id: r.dtw_cost for r in dtw_to_reference(
            spark.createDataFrame(rows, COLS), ref).collect()}
        for u, t in tracks.items():
            assert got[u] == _brute_dtw(t, ref), u
        assert got[3] == 0

    def test_speed_invariance_beats_pointwise(self, spark):
        # a track that pauses (repeats a point) still matches the route
        ref = [(0, 0), (10, 0), (20, 0)]
        paused = [(0, 0), (0, 0), (0, 0), (10, 0), (20, 0)]
        rows = [(1, i, x, y) for i, (x, y) in enumerate(paused)]
        [r] = dtw_to_reference(
            spark.createDataFrame(rows, COLS), ref).collect()
        assert r.dtw_cost == 0

    def test_order_respected(self, spark):
        # reversed track must NOT score 0 against the forward route
        ref = [(0, 0), (10, 0), (20, 0)]
        rows = [(1, i, x, y) for i, (x, y) in
                enumerate([(20, 0), (10, 0), (0, 0)])]
        [r] = dtw_to_reference(
            spark.createDataFrame(rows, COLS), ref).collect()
        assert r.dtw_cost > 0

    def test_duplicate_seq_orders_by_x_then_y(self, spark):
        from pyproj_spark.operators.dtw import _collect_tracks
        # shuffled input; three vertices share seq 1
        rows = [(1, 2, 0, 0), (1, 1, 9, 9), (1, 1, 3, 7), (1, 0, 5, 1),
                (1, 1, 3, 2)]
        [r] = _collect_tracks(spark.createDataFrame(rows, COLS),
                              "user_id", "i", "x", "y").collect()
        assert list(zip(r._xs, r._ys)) == [(5, 1), (3, 2), (3, 7), (9, 9),
                                           (0, 0)]


class TestFrechet:
    def test_exact_match_and_brute(self, spark):
        from itertools import product
        from pyproj_spark.operators.dtw import frechet_to_reference

        def brute(track, ref):
            import functools
            @functools.lru_cache(maxsize=None)
            def ca(i, j):
                c = ((track[i][0] - ref[j][0]) ** 2
                     + (track[i][1] - ref[j][1]) ** 2)
                if i == 0 and j == 0:
                    return c
                opts = []
                if i > 0:
                    opts.append(ca(i - 1, j))
                if j > 0:
                    opts.append(ca(i, j - 1))
                if i > 0 and j > 0:
                    opts.append(ca(i - 1, j - 1))
                return max(c, min(opts))
            return ca(len(track) - 1, len(ref) - 1)

        ref = [(0, 0), (10, 0), (20, 5), (30, 10)]
        tracks = {
            1: [(0, 1), (9, 0), (21, 4), (28, 11), (31, 9)],
            2: [(5, 5), (5, 5), (25, 8)],
            3: [(0, 0), (10, 0), (20, 5), (30, 10)],  # exact: 0
        }
        rows = [(u, i, x, y) for u, t in tracks.items()
                for i, (x, y) in enumerate(t)]
        got = {r.user_id: r.frechet_sq for r in frechet_to_reference(
            spark.createDataFrame(rows, COLS), ref).collect()}
        for u, t in tracks.items():
            assert got[u] == brute(tuple(t), tuple(ref)), u
        assert got[3] == 0

    def test_bottleneck_leq_dtw_sum(self, spark):
        # max over the coupling <= sum over the coupling, per coupling,
        # hence over the optima too
        from pyproj_spark.operators.dtw import (dtw_to_reference,
                                                frechet_to_reference)
        ref = [(0, 0), (10, 0), (20, 5), (30, 10)]
        rows = [(1, i, x, y) for i, (x, y) in
                enumerate([(2, 3), (8, 1), (19, 9), (33, 7)])]
        df = spark.createDataFrame(rows, COLS)
        [fr] = frechet_to_reference(df, ref).collect()
        [dt] = dtw_to_reference(df, ref).collect()
        assert 0 < fr.frechet_sq <= dt.dtw_cost
