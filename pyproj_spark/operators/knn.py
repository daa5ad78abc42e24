"""kNN operators: exact top-k to a dimension table + cell-ring expansion
self-join for fact-to-fact neighbor search (SURVEY.md §2.6).

Two strategies, chosen by the side sizes — the same decision a query
planner would make:

* :func:`knn_to_zones` — the right side is a DIMENSION table (zones,
  POIs): broadcast it, haversine pre-rank natively in codegen, exact
  Karney re-rank (Arrow UDF) only on the top candidates, window top-k.
  Zero shuffle of the fact side except the final per-query window, which
  AQE coalesces.

* :func:`knn_ring` — both sides are big: candidates are generated by
  k-ring expansion of the geocell id (native array expr + explode),
  equi-joined on cell, ranked by haversine. Approximate by construction
  (candidates limited to the ring radius); the ring radius in cells is
  the recall knob. This is the 10^12-row path: the join is an equi-join
  on a partition-friendly key, skew handled by AQE + optional salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyproj_spark.functions import cells
from pyproj_spark.functions.transform import geod_inverse, haversine_m


def knn_to_zones(points: DataFrame, zones: DataFrame, k: int = 3,
                 prerank: int = 25, lon_col: str = "lon",
                 lat_col: str = "lat", id_cols: tuple = ("url", "anchor_idx"),
                 exact: bool = True, round_m: bool = False) -> DataFrame:
    """Exact k nearest zones (by Karney geodesic distance to the zone
    centroid) for every point. Returns id_cols + rank, zone_id, dist_m.

    Candidate generation is a SINGLE-ROW broadcast of the centroid set
    as an ``array<struct>`` column, pre-ranked per point with native
    array HOFs (``transform`` -> ``array_sort`` -> ``slice``): the fact
    table is never shuffled and never blown up to |P|x|Z| rows — the
    explode emits only O(|P| * prerank). The one wide exchange in the
    whole plan is the final top-k window (which AQE coalesces). The
    previous plan (condition-less broadcast join + row_number window
    over the full |P|x|Z| candidate set) shuffled |Z|x the fact table —
    a scale-killer at 10^4 zones.

    ``array_sort`` on struct(hdist, zone_id, ...) orders field-
    lexicographically = (hdist, zone_id), the same deterministic
    tie-break as the final window. The haversine pre-rank keeps
    `prerank` candidates per point; sphere-vs-ellipsoid distance ratios
    vary by < 0.6%, so prerank=25 for k=3 is a safe exactness margin
    (validated against the brute-force oracle in tests).

    round_m=True ranks on haversine metres rounded to long (cross-
    engine-deterministic rank for oracle comparison); exact=True
    re-ranks the pre-ranked survivors with the Karney kernel.
    """
    cent = zones.select(
        "zone_id",
        F.aggregate("ring", F.lit(0.0),
                    lambda acc, p: acc + p["lon"]).alias("_slon"),
        F.aggregate("ring", F.lit(0.0),
                    lambda acc, p: acc + p["lat"]).alias("_slat"),
        F.size("ring").alias("_n"),
    ).select(
        "zone_id",
        (F.col("_slon") / F.col("_n")).alias("zlon"),
        (F.col("_slat") / F.col("_n")).alias("zlat"),
    )
    carr = cent.agg(F.collect_list(
        F.struct("zone_id", "zlon", "zlat")).alias("_zs"))
    cand = points.crossJoin(F.broadcast(carr))  # 1 broadcast row: no shuffle
    scored = F.transform(
        F.col("_zs"),
        lambda z: F.struct(
            haversine_m(F.col(lon_col), F.col(lat_col),
                        z["zlon"], z["zlat"]).alias("hdist"),
            z["zone_id"].alias("zone_id"),
            z["zlon"].alias("zlon"),
            z["zlat"].alias("zlat")))
    top = cand.select(
        *id_cols, F.col(lon_col), F.col(lat_col),
        F.explode(F.slice(F.array_sort(scored), 1, prerank)).alias("_c"))
    top = top.select(*id_cols, lon_col, lat_col,
                     F.col("_c.hdist").alias("hdist"),
                     F.col("_c.zone_id").alias("zone_id"),
                     F.col("_c.zlon").alias("zlon"),
                     F.col("_c.zlat").alias("zlat"))
    if exact:
        g = geod_inverse("WGS84", F.col(lon_col), F.col(lat_col),
                         F.col("zlon"), F.col("zlat"))
        top = top.withColumn("dist_m", g["dist"])
    else:
        top = top.withColumn("dist_m", F.col("hdist"))
    if round_m:
        top = top.withColumn("dist_m", F.round("dist_m").cast("long"))
    w2 = Window.partitionBy(*id_cols).orderBy("dist_m", "zone_id")
    return (top.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(*id_cols, "rank", "zone_id", "dist_m"))


#: haversine sphere radius (must match functions.transform.haversine_m)
_R_SPHERE = 6371008.8


def knn_ring_exact(left: DataFrame, right: DataFrame, k: int = 3,
                   res: int = cells.DEFAULT_RES, max_ring: int = 64,
                   left_id: str = "lid", right_id: str = "rid",
                   lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """EXACT kNN by cell-ring expansion (the scale algorithm of
    SURVEY.md §2.6): widen the candidate ring geometrically until each
    query's k-th candidate is provably closer than anything outside the
    explored ring, then stop.

    The escalation schedule (ring = 1, 4, 16, ..., max_ring, then exact
    brute force for the stragglers) is UNROLLED INTO ONE LAZY PLAN — no
    driver-side ``while`` over jobs, no per-ring ``count()`` round
    trips, no persist chains: each level's window shuffle is shared by
    its "settled output" and "still pending" consumers via Spark's
    exchange reuse, and unsettled sets shrink geometrically so later
    levels see a vanishing fraction of rows (AQE skips them outright
    when a level empties).

    Settling bound (true conservative minimum, same sphere radius as
    ``haversine_m``): every unexplored cell is >= `ring` grid cells away
    in x or y, so an unexplored point is at least

        min(ring*size*110567,                              # meridian
            2*R*sin(radians(ring*size)/2)*cos(radians(phi_max)))

    metres away, with phi_max = |lat| + (ring+1)*size the highest
    latitude a same-band candidate can reach. Both terms genuinely
    lower-bound the haversine metric (dist >= R*dphi for meridian
    escape; dist >= 2*R*sin(dlam/2)*cos(phi_max) for parallel escape),
    so the documented EXACT guarantee holds — the previous 111320 m/deg
    parallel constant overestimated the escape distance by up to 0.75%
    and could settle a query whose true neighbor lay just outside.
    Near-polar queries never settle via the parallel bound and fall to
    the brute-force tail against the (tiny) polar slice. Distances are
    haversine (the ranking metric of this operator; chain a Karney
    re-rank for ellipsoidal exactness like knn_to_zones).
    """
    size = cells.cell_size_deg(res)
    r = right.select(F.col(right_id),
                     F.col(lon_col).alias("_rlon"),
                     F.col(lat_col).alias("_rlat")) \
             .withColumn("cell", cells.cell_of(F.col("_rlon"),
                                               F.col("_rlat"), res))
    pend = left.select(F.col(left_id), F.col(lon_col).alias("_llon"),
                       F.col(lat_col).alias("_llat"))
    not_self = lambda: ((F.col(left_id) != F.col(right_id))          # noqa: E731
                        | (F.col("_llon") != F.col("_rlon"))
                        | (F.col("_llat") != F.col("_rlat")))
    dist = lambda df: df.withColumn(                                 # noqa: E731
        "dist_m", haversine_m(F.col("_llon"), F.col("_llat"),
                              F.col("_rlon"), F.col("_rlat")))
    w = Window.partitionBy(left_id).orderBy("dist_m", right_id)
    out_parts = []
    ring = 1
    # a ring wider than half the lon grid would wrap (pmod) onto itself
    # and emit duplicate cells -> duplicate candidate pairs; stop the
    # schedule there and let the brute-force tail take over
    nx = 1 << (res + 1)
    while ring <= max_ring and 2 * ring + 1 <= nx:
        l = pend.select(
            left_id, "_llon", "_llat",
            F.explode(cells.k_ring(
                cells.cell_of(F.col("_llon"), F.col("_llat"), res),
                ring, res)).alias("cell"))
        cand = dist(l.join(r, "cell").filter(not_self()))
        topk = (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
        # materialize each level's top-k ONCE (lazy local checkpoint,
        # re-computed from the scans on every invocation): the level
        # chain has four consumers (stats, settling filter, settled
        # output, next level's anti-join), and Spark's exchange reuse
        # does NOT fire across them (AQE canonicalization) — measured
        # 40 parquet scans / 46 exchanges in the unrolled lazy plan
        # vs 0.70s exec with per-level materialization (identical
        # rows). Size is k rows per still-pending query — shrinking
        # geometrically, id+rank+dist only — so the materialization
        # is bounded at any scale.
        topk = topk.localCheckpoint(eager=False)
        stats = topk.groupBy(left_id).agg(
            F.count("*").alias("_n"), F.max("dist_m").alias("_kth"),
            F.first("_llat").alias("_lat"))
        phi_max = F.least(F.abs(F.col("_lat")) + (ring + 1) * size,
                          F.lit(89.999))
        bound = F.least(
            F.lit(ring * size * 110567.0),
            F.lit(2.0 * _R_SPHERE)
            * F.sin(F.radians(F.lit(ring * size)) / 2)
            * F.cos(F.radians(phi_max)))
        settled_ids = stats.filter((F.col("_n") >= k)
                                   & (F.col("_kth") <= bound)) \
                           .select(left_id)
        out_parts.append(
            topk.join(settled_ids, left_id)
                .select(left_id, "rank", right_id, "dist_m"))
        pend = pend.join(settled_ids, left_id, "left_anti")
        ring *= 4
    # stragglers (sparse neighborhoods / polar): exact brute force over
    # what's left — lazily appended; empty at runtime in the common case
    cand = dist(pend.crossJoin(r.drop("cell")).filter(not_self()))
    out_parts.append(cand.withColumn("rank", F.row_number().over(w))
                     .filter(F.col("rank") <= k)
                     .select(left_id, "rank", right_id, "dist_m"))
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def knn_ring(left: DataFrame, right: DataFrame, k: int = 3, ring: int = 1,
             res: int = cells.DEFAULT_RES,
             left_id: str = "lid", right_id: str = "rid",
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Approximate fact-to-fact kNN via cell-ring expansion.

    left/right: DFs with (id, lon, lat). Candidates = right rows whose
    cell falls in the k-ring (Chebyshev radius `ring`) of the left row's
    cell; ranked by haversine. Returns left_id, rank, right_id, dist_m.
    """
    l = left.withColumn(
        "_ring", cells.k_ring(
            cells.cell_of(F.col(lon_col), F.col(lat_col), res), ring, res))
    l = l.select(F.col(left_id), F.col(lon_col).alias("_llon"),
                 F.col(lat_col).alias("_llat"),
                 F.explode("_ring").alias("cell"))
    r = right.select(F.col(right_id),
                     F.col(lon_col).alias("_rlon"),
                     F.col(lat_col).alias("_rlat")) \
             .withColumn("cell", cells.cell_of(F.col("_rlon"),
                                               F.col("_rlat"), res))
    cand = l.join(r, "cell").filter(
        (F.col(left_id) != F.col(right_id))
        | (F.col("_llon") != F.col("_rlon")))
    cand = cand.withColumn(
        "dist_m", haversine_m(F.col("_llon"), F.col("_llat"),
                              F.col("_rlon"), F.col("_rlat")))
    # no dedup needed: each right row has exactly one cell and ring cells
    # are distinct, so every (left, right) pair appears at most once —
    # avoiding a whole extra shuffle here.
    w = Window.partitionBy(left_id).orderBy("dist_m", right_id)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(left_id, "rank", right_id, "dist_m"))


def knn_hex(left: DataFrame, right: DataFrame, k: int = 3, ring: int = 2,
            res: int = 0, left_id: str = "lid", right_id: str = "rid",
            lon_col: str = "lon", lat_col: str = "lat",
            round_m: bool = False) -> DataFrame:
    """Approximate fact-to-fact kNN via HEXAGONAL ring expansion
    (functions.hexcell) — same candidate-join shape as ``knn_ring``
    but on the hex grid, where every ring cell sits at the SAME
    center distance (no square-grid diagonal anisotropy), so a hex
    ring of radius ``ring`` is a tighter, isotropic candidate disc:
    3r²+3r+1 cells vs the quadtree's (2r+1)².

    left/right: DFs with (id, lon, lat). Candidates = right rows whose
    hex cell lies within hex distance ``ring`` of the left row's cell;
    ranked by haversine with id tie-break. One shuffle for the cell
    equi-join, one for the per-left-row top-k window — the LSH-style
    bounded candidate join that survives fact×fact at corpus scale.
    round_m=True ranks on metres rounded to long (cross-engine
    deterministic — what the SQL oracle replays).
    """
    from pyproj_spark.functions import hexcell
    l = left.select(
        F.col(left_id), F.col(lon_col).alias("_llon"),
        F.col(lat_col).alias("_llat"),
        F.explode(hexcell.hex_ring(
            hexcell.hex_of(F.col(lon_col), F.col(lat_col), res),
            ring, res)).alias("cell"))
    r = right.select(F.col(right_id),
                     F.col(lon_col).alias("_rlon"),
                     F.col(lat_col).alias("_rlat")) \
             .withColumn("cell", hexcell.hex_of(F.col("_rlon"),
                                                F.col("_rlat"), res))
    cand = (l.join(r, "cell")
            .filter(F.col(left_id) != F.col(right_id))
            .withColumn("dist_m",
                        haversine_m(F.col("_llon"), F.col("_llat"),
                                    F.col("_rlon"), F.col("_rlat"))))
    if round_m:
        cand = cand.withColumn("dist_m",
                               F.round("dist_m").cast("long"))
    # each right row has exactly one cell and ring cells are distinct,
    # so every (left, right) pair appears at most once — no dedup shuffle
    w = Window.partitionBy(left_id).orderBy("dist_m", right_id)
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(left_id, "rank", right_id, "dist_m"))
