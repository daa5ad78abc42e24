"""Dynamic-time-warping trajectory distance.

DTW against a reference polyline — the route-conformance /
trajectory-similarity measure that tolerates speed variation, which
Hausdorff (set distance) and resampled-pointwise metrics do not.

All costs are EXACT int64: squared integer coordinate differences,
min/plus recurrence — so an engine replaying the same recurrence gets
bit-identical totals and the oracle can unroll the lattice in SQL.

Execution shape (r6): tracks collapse to one array row per trajectory
(``sort_array(collect_list(struct(seq, x, y)))`` — a regular hash
aggregate with map-side partial aggregation), then ONE Arrow-UDF
crossing runs the DP for a whole Arrow batch of trajectories at once,
vectorized across trajectories with numpy (per length bucket). The
previous shape — ``groupBy().applyInPandas`` with one Python call and
one pandas DataFrame per trajectory — paid ~1 ms of pure Python
per-group overhead per trajectory, which dominated wall time when AQE
coalesced the tiny post-shuffle stage to a single task (measured
3.5 s -> sub-second at sf0.1; see OPTIMIZATION_r06.md). The DP
arithmetic is unchanged: same int64 ops in the same order per
(i, j) lattice step, so results are bit-identical.

Scale shape: the shuffle is one hash partition by trajectory id; DP
memory is O(batch x len(ref)) per Arrow batch. Reference polylines
are driver literals (a route table would broadcast).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf


def _collect_tracks(tracks: DataFrame, user_col: str, seq_col: str,
                    x_col: str, y_col: str) -> DataFrame:
    """(user, xs array<long>, ys array<long>) — one row per trajectory,
    vertices ordered by seq (sort_array on struct(seq, x, y): seq leads
    the struct, so lexicographic struct order == seq order). Vertices
    that share a seq order by (x, y), so a duplicate seq still gives
    one deterministic track."""
    pts = F.array_sort(F.collect_list(F.struct(
        F.col(seq_col).alias("s"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"))))
    return (tracks.groupBy(user_col)
            .agg(pts.alias("_pts"))
            .select(user_col,
                    F.col("_pts.x").alias("_xs"),
                    F.col("_pts.y").alias("_ys")))


def _flat(arr: pa.Array) -> tuple:
    """(flat int64 values, starts, lens) of a list<int> Arrow column —
    flatten() applies any slice offset, so the gather below is safe
    for every batch shape."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = np.asarray(pc.list_value_length(arr), dtype=np.int64)
    flat = np.asarray(arr.flatten(), dtype=np.int64)
    starts = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=starts[1:])
    return flat, starts[:-1], lens


def _lattice_batch(xs_a: pa.Array, ys_a: pa.Array, R: np.ndarray,
                   frechet: bool) -> np.ndarray:
    """Run the anchored 6x|R| lattice for a whole batch of
    trajectories at once. Same per-step int64 arithmetic as the old
    per-group loop; trajectories are bucketed by length so each bucket
    is a dense (n_traj, L) matrix. r6: Arrow-native input — the
    length-bucket matrices gather straight out of the flat Arrow
    value buffer instead of stacking per-row pandas objects."""
    xf, xstarts, lens = _flat(xs_a)
    yf, ystarts, _ = _flat(ys_a)
    m = len(R)
    n = len(lens)
    out = np.zeros(n, np.int64)
    for L in np.unique(lens):
        idx = np.flatnonzero(lens == L)
        if L == 0:
            continue
        g = np.arange(L, dtype=np.int64)
        X = xf[xstarts[idx][:, None] + g]
        Y = yf[ystarts[idx][:, None] + g]
        prev = None
        for i in range(L):
            cost = ((X[:, i:i + 1] - R[:, 0]) ** 2
                    + (Y[:, i:i + 1] - R[:, 1]) ** 2)
            cur = np.empty_like(cost)
            if frechet:
                if prev is None:
                    cur[:, 0] = cost[:, 0]
                    for j in range(1, m):
                        cur[:, j] = np.maximum(cost[:, j], cur[:, j - 1])
                else:
                    cur[:, 0] = np.maximum(cost[:, 0], prev[:, 0])
                    for j in range(1, m):
                        cur[:, j] = np.maximum(
                            cost[:, j],
                            np.minimum(np.minimum(prev[:, j],
                                                  prev[:, j - 1]),
                                       cur[:, j - 1]))
            else:
                if prev is None:
                    cur[:, 0] = cost[:, 0]
                    for j in range(1, m):
                        cur[:, j] = cost[:, j] + cur[:, j - 1]
                else:
                    cur[:, 0] = cost[:, 0] + prev[:, 0]
                    for j in range(1, m):
                        cur[:, j] = cost[:, j] + np.minimum(
                            np.minimum(prev[:, j], prev[:, j - 1]),
                            cur[:, j - 1])
            prev = cur
        out[idx] = prev[:, -1]
    return out


def dtw_to_reference(tracks: DataFrame, ref: list[tuple[int, int]],
                     user_col: str = "user_id", seq_col: str = "i",
                     x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-trajectory DTW cost vs ``ref`` (integer coordinate pairs).

    Cost(i, j) = (x_i - rx_j)^2 + (y_i - ry_j)^2; standard full-band
    recurrence dp[i][j] = cost + min(up, left, diag) with both
    endpoints anchored. Returns (user, n_pts, dtw_cost)."""
    R = np.asarray(ref, dtype=np.int64)

    @arrow_udf("long")
    def _dp(xs_a: pa.Array, ys_a: pa.Array) -> pa.Array:
        return pa.array(_lattice_batch(xs_a, ys_a, R, frechet=False),
                        type=pa.int64())

    return (_collect_tracks(tracks, user_col, seq_col, x_col, y_col)
            .select(F.col(user_col).alias("user_id"),
                    F.size("_xs").cast("int").alias("n_pts"),
                    _dp("_xs", "_ys").alias("dtw_cost")))


def frechet_to_reference(tracks: DataFrame, ref: list[tuple[int, int]],
                         user_col: str = "user_id", seq_col: str = "i",
                         x_col: str = "x", y_col: str = "y"
                         ) -> DataFrame:
    """Per-trajectory DISCRETE FRECHET distance vs ``ref`` (Eiter &
    Mannila 1994 "Computing discrete Frechet distance" — public): the
    min-over-couplings MAX leash length, squared. Same anchored
    lattice as DTW with the plus swapped for max:
    ca[i][j] = max(cost(i,j), min(ca[i-1][j], ca[i-1][j-1],
    ca[i][j-1])) — the bottleneck counterpart of DTW's sum, the third
    member of the trajectory-similarity triad next to Hausdorff (set
    distance, ignores order) and DTW (sum cost, dilutes single
    excursions). Exact int64 squared costs; returns
    (user, n_pts, frechet_sq)."""
    R = np.asarray(ref, dtype=np.int64)

    @arrow_udf("long")
    def _dp(xs_a: pa.Array, ys_a: pa.Array) -> pa.Array:
        return pa.array(_lattice_batch(xs_a, ys_a, R, frechet=True),
                        type=pa.int64())

    return (_collect_tracks(tracks, user_col, seq_col, x_col, y_col)
            .select(F.col(user_col).alias("user_id"),
                    F.size("_xs").cast("int").alias("n_pts"),
                    _dp("_xs", "_ys").alias("frechet_sq")))
