"""HMM map-matching (Viterbi) — the path-coherent upgrade of
nearest-segment snapping (queries.py `snap_roads`): match each
trajectory to the road-segment sequence minimizing
sum(emission d^2) + lambda * (number of segment switches).
Newson & Krumm's (2009) classic formulation, distilled to a deterministic
integer form.

Distributed shape (what must survive 100 TB):
  * candidate costs: one scan cross-joined against the broadcast
    segment table (at corpus scale the segment set is cell-prefiltered
    first, the pip_join/knn pattern, so the fan-out stays bounded);
  * DP: one ``map_groups`` call per trajectory — state is steps x
    states integers, bounded by the trajectory length, never
    corpus-sized;
  * all costs are EXACT int64 (d^2 rounded once to 1e-10-degree^2
    units), so a SQL engine replays the full DP bit-for-bit.

Tie-break contract (shared with the SQL oracle): the forward values
use min() only; the path is reconstructed BACKWARD as
argmin_s(v_k(s) + lambda*[s != path_{k+1}]) with lowest-seg-first
ties — identical in numpy (first-occurrence argmin over seg-sorted
columns) and SQL (ORDER BY cost, seg LIMIT 1).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from pyproj_spark.rows import map_groups

#: segment-switch penalty in the same 1e-10 deg^2 units as emissions
LAMBDA = 2_000_000_000


def emission_costs(pts: DataFrame, segs: DataFrame) -> DataFrame:
    """(traj_id, step, seg_id, em): clamped point-to-segment squared
    distance — the snap_roads arithmetic — rounded once to an exact
    long. ``pts`` needs traj_id, step, lon, lat; ``segs`` needs
    seg_id, ax, ay, bx, by (broadcast)."""
    c = pts.crossJoin(F.broadcast(segs))
    dx, dy = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    traw = (((F.col("lon") - F.col("ax")) * dx
             + (F.col("lat") - F.col("ay")) * dy)
            / (dx * dx + dy * dy))
    t = F.least(F.greatest(traw, F.lit(0.0)), F.lit(1.0))
    ex = F.col("lon") - (F.col("ax") + t * dx)
    ey = F.col("lat") - (F.col("ay") + t * dy)
    em = F.round((ex * ex + ey * ey) * 1e10).cast("long")
    return c.select("traj_id", "step", "seg_id", em.alias("em"))


def viterbi_match(pts: DataFrame, segs: DataFrame,
                  lam: int = LAMBDA) -> DataFrame:
    """(traj_id, step, seg_id): the minimum-cost segment sequence per
    trajectory.

    Execution shape: the emission table collapses to one sorted array
    row per trajectory (``map_groups``: a hash aggregate with map-side
    partial agg) and each trajectory runs the DP in one Python call.
    Emission matrices are dense (emission_costs is a cross join), so
    the (step, seg_id)-sorted flat array reshapes to the steps x states
    matrix — int64 DP, first-argmin tie-breaks."""
    em = emission_costs(pts, segs).select(
        F.col("traj_id").cast("long").alias("traj_id"),
        F.col("step").cast("long").alias("step"),
        F.col("seg_id").cast("int").alias("seg_id"), "em")

    def _dp(traj, steps, seg_ids, ems):
        steps = np.asarray(steps, np.int64)
        seg_ids = np.asarray(seg_ids, np.int64)
        ems = np.asarray(ems, np.int64)
        n_seg = int(np.searchsorted(steps, steps[0], side="right"))
        k_steps = len(steps) // n_seg
        e = ems.reshape(k_steps, n_seg)      # rows: ascending step;
        segs_sorted = seg_ids[:n_seg]        # cols: ascending seg
        vs = [e[0].copy()]
        for k in range(1, k_steps):
            prev = vs[-1]
            vs.append(e[k] + np.minimum(prev, prev.min() + lam))
        path = np.empty(k_steps, dtype=np.int64)
        path[-1] = int(np.argmin(vs[-1]))    # first min = low seg
        for k in range(k_steps - 2, -1, -1):
            cand = vs[k] + lam * (np.arange(n_seg) != path[k + 1])
            path[k] = int(np.argmin(cand))
        return [(traj, int(steps[i * n_seg]), int(segs_sorted[p]))
                for i, p in enumerate(path)]

    return map_groups(em, ["traj_id"], ["step", "seg_id", "em"],
                      "traj_id long, step long, seg_id int", _dp)
