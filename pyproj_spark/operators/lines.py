"""Polyline operators: geodesic line lengths as window + aggregate
(SURVEY.md §2.2 G6/G7 Spark mapping).

The reference's ``Geod.line_length`` walks consecutive points in C
(``pyproj/_geod.pyx:476-539``); distributed, the same dataflow is
``lead() over (partitionBy(line) orderBy(seq))`` -> per-segment Karney
inverse (Arrow UDF) -> ``groupBy(line).agg(sum)``. Catalyst handles
partial aggregation; the only shuffle is the window's, reused by the
final agg because the partition keys match.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyproj_spark.functions.transform import geod_inverse, haversine_m
from pyproj_spark.rows import map_groups


def segment_lengths(points: DataFrame, line_col: str = "line_id",
                    seq_col: str = "seq", lon_col: str = "lon",
                    lat_col: str = "lat", ellps: str = "WGS84",
                    exact: bool = True) -> DataFrame:
    """Per-segment distances (G7): one row per consecutive point pair."""
    w = Window.partitionBy(line_col).orderBy(seq_col)
    df = (points
          .withColumn("_lon2", F.lead(lon_col).over(w))
          .withColumn("_lat2", F.lead(lat_col).over(w))
          .filter(F.col("_lon2").isNotNull()))
    if exact:
        g = geod_inverse(ellps, F.col(lon_col), F.col(lat_col),
                         F.col("_lon2"), F.col("_lat2"))
        df = df.withColumn("seg_m", g["dist"])
    else:
        df = df.withColumn("seg_m", haversine_m(
            F.col(lon_col), F.col(lat_col), F.col("_lon2"), F.col("_lat2")))
    return df.select(line_col, seq_col, "seg_m")


def line_lengths(points: DataFrame, **kw) -> DataFrame:
    """Total geodesic length per line (G6)."""
    line_col = kw.get("line_col", "line_id")
    return (segment_lengths(points, **kw)
            .groupBy(line_col)
            .agg(F.sum("seg_m").alias("length_m")))


def polygon_areas(points: DataFrame, poly_col: str = "poly_id",
                  seq_col: str = "seq", lon_col: str = "lon",
                  lat_col: str = "lat", ellps: str = "WGS84") -> DataFrame:
    """EXACT geodesic polygon area + perimeter per polygon (SURVEY.md
    §2.2 G8 as a grouped DataFrame op): rows are ring vertices keyed by
    polygon id and vertex order; each group runs the Green's-theorem +
    Gauss-Legendre kernel (kernels/area.py, golden-tested against the
    reference's values) once per polygon, its vertices in ``seq_col``
    order (one ``map_groups`` stage). The cheap all-Catalyst spherical
    twin for in-plan predicates is
    functions.transform.spherical_ring_area_m2."""
    from pyproj_spark.kernels.geod import Geod

    geod = Geod(ellps=ellps)

    def _area(poly, _seqs, lons, lats):
        area, perim = geod.polygon_area_perimeter(lons, lats)
        return [(poly, float(area), float(perim))]

    return map_groups(
        points, [poly_col], [seq_col, lon_col, lat_col],
        f"{poly_col} long, area_m2 double, perimeter_m double", _area)


def convex_hulls(df: DataFrame, group_col: str, lon_col: str = "lon",
                 lat_col: str = "lat") -> DataFrame:
    """Per-group planar convex hull (Andrew's monotone chain, 1979 —
    public): the footprint-estimation op (zone coverage outline,
    cluster envelope). Sequential stack semantics make it one
    ``map_groups`` stage — one shuffle on the group key, the scan in
    Python, hull size is O(sqrt of points) in practice so the output
    stays tiny.

    Returns (group_col, hull) with hull = array<struct<lon, lat>> in
    counter-clockwise order starting from the lexicographically
    smallest vertex; degenerate groups (< 3 distinct points) return
    their distinct points sorted."""
    def _hull(g, lons, lats):
        pts = sorted(set(zip(lons, lats)))
        if len(pts) < 3:
            hull = pts
        else:
            def half(seq):
                out = []
                for p in seq:
                    while len(out) >= 2 and (
                        (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                        - (out[-1][1] - out[-2][1])
                            * (p[0] - out[-2][0])) <= 0:
                        out.pop()
                    out.append(p)
                return out
            lower = half(pts)
            upper = half(reversed(pts))
            hull = lower[:-1] + upper[:-1]
        return [(g, [{"lon": float(x), "lat": float(y)}
                     for x, y in hull])]

    return map_groups(df, [group_col], [lon_col, lat_col],
                      f"{group_col} long, "
                      "hull array<struct<lon: double, lat: double>>", _hull)


def simplify_lines(df: DataFrame, group_col: str = "user_id",
                   seq_col: str = "seq", x_col: str = "x",
                   y_col: str = "y", eps: float = 30.0) -> DataFrame:
    """Douglas-Peucker polyline simplification (Douglas & Peucker 1973)
    — the vector-tile reduction operator: per line, keep the minimal
    vertex subset whose chord deviation stays within eps. Lines are
    per-row-group small (a track, a ring) while the line COUNT is
    corpus-scale, so the right Spark shape is one ``map_groups`` call
    per line (one shuffle on the line key), the same contract as
    convex_hulls.

    Determinism: the split decision uses only +,-,*,/,sqrt (all
    IEEE-exact, no libm), with first-argmax tie-break — so an engine
    replaying the same floats makes identical keep decisions, which is
    what the unrolled-split DuckDB oracle checks. Output: the kept
    (group, seq) vertex rows.
    """
    def _kept(g, seqs, xs, ys):
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            i0, i1 = stack.pop()
            if i1 - i0 < 2:
                continue
            dx = xs[i1] - xs[i0]
            dy = ys[i1] - ys[i0]
            px = xs[i0 + 1:i1]
            py = ys[i0 + 1:i1]
            # exact same arithmetic text as the SQL oracle
            d = (np.abs(dx * (ys[i0] - py) - (xs[i0] - px) * dy)
                 / np.sqrt(dx * dx + dy * dy))
            j = int(np.argmax(d))  # first max == smallest seq on ties
            if d[j] > eps:
                k = i0 + 1 + j
                keep[k] = True
                stack.append((i0, k))
                stack.append((k, i1))
        return [(g, s) for s, k in zip(seqs, keep) if k]

    pts = df.select(F.col(group_col).cast("long").alias(group_col),
                    F.col(seq_col).cast("long").alias(seq_col),
                    F.col(x_col).cast("double").alias("_x"),
                    F.col(y_col).cast("double").alias("_y"))
    return map_groups(pts, [group_col], [seq_col, "_x", "_y"],
                      f"{group_col} long, {seq_col} long", _kept)


def resample_tracks(points: DataFrame, user_col: str = "user_id",
                    ts_us_col: str = "t_us", lon_col: str = "lon",
                    lat_col: str = "lat",
                    step_us: int = 21_600_000_000,
                    tiebreak_col: str | None = None) -> DataFrame:
    """Trajectory resampling to a fixed time grid (the stage that makes
    irregular GPS/ping streams joinable on time): for every consecutive
    ping pair of a track, emit each grid instant g = k*step in
    (t1, t2] with the position linearly interpolated at
    f = (g - t1) / (t2 - t1).

    Plan shape: ONE window shuffle (partitionBy user, the same
    partitioning every downstream per-user op reuses) + a native
    sequence/explode — output is bounded by elapsed-time/step per
    track, never by ping count squared. Grid indices are computed with
    exact integer arithmetic ((t - t%step)/step — both factors exactly
    representable, so the double division is exact and cross-engine
    safe); the interpolation factor is a single IEEE divide replayed
    identically by the oracle.

    Pairs with t2 == t1 (duplicate timestamps) carry no grid interval
    and are skipped deterministically — pass ``tiebreak_col`` so tied
    timestamps chain in a deterministic order (otherwise the anchor
    choice for the segments AROUND a tie is shuffle-order-dependent).
    Grid intervals (t1, t2] of consecutive pairs partition the track's
    time span, so no grid instant is emitted twice."""
    order = ([ts_us_col, tiebreak_col] if tiebreak_col
             else [ts_us_col])
    w = Window.partitionBy(user_col).orderBy(*order)
    t1, t2 = F.col(ts_us_col), F.col("_t2")
    k1 = ((t1 - t1 % step_us) / step_us).cast("long") + 1
    k2 = ((t2 - t2 % step_us) / step_us).cast("long")
    f = ((F.col("g_us") - t1).cast("double")
         / (t2 - t1).cast("double"))
    return (points
            .withColumn("_t2", F.lead(ts_us_col).over(w))
            .withColumn("_lon2", F.lead(lon_col).over(w))
            .withColumn("_lat2", F.lead(lat_col).over(w))
            .filter(F.col("_t2") > t1)
            .withColumn("_k1", k1).withColumn("_k2", k2)
            .filter(F.col("_k2") >= F.col("_k1"))
            .select(user_col, ts_us_col, "_t2", lon_col, lat_col,
                    "_lon2", "_lat2",
                    F.explode(F.sequence("_k1", "_k2")).alias("_k"))
            .withColumn("g_us", F.col("_k") * step_us)
            .select(
                F.col(user_col),
                F.col("g_us"),
                (F.col(lon_col)
                 + (F.col("_lon2") - F.col(lon_col)) * f).alias("lon_g"),
                (F.col(lat_col)
                 + (F.col("_lat2") - F.col(lat_col)) * f).alias("lat_g")))


def clean_tracks(points: DataFrame, vmax_ms: float = 250.0,
                 user_col: str = "user_id", seq_col: str = "ts",
                 id_col: str = "event_id", lon_col: str = "lon",
                 lat_col: str = "lat") -> DataFrame:
    """Trajectory spike filter (GPS-outlier cleaning): flag segments
    whose implied speed exceeds ``vmax_ms``. The decision compares
    EXACT integer metres against vmax * max(dt, 1s): whole metres
    because asin amplifies library ulp error without bound as
    segments approach antipodal (worst observed ~1 mm on global
    random tracks — far inside the 0.5 m rounding margin, far
    outside 0.5 mm). One window shuffle per user; no joins. Returns
    one row per segment with (dist_m, dt_s, spike)."""
    w = Window.partitionBy(user_col).orderBy(seq_col, id_col)
    df = (points
          .withColumn("_lon2", F.lead(lon_col).over(w))
          .withColumn("_lat2", F.lead(lat_col).over(w))
          .withColumn("_ts2", F.lead(seq_col).over(w))
          .filter(F.col("_lon2").isNotNull()))
    dist_m = F.round(haversine_m(
        F.col(lon_col), F.col(lat_col),
        F.col("_lon2"), F.col("_lat2"))).cast("long")
    dt_s = F.unix_timestamp("_ts2") - F.unix_timestamp(seq_col)
    spike = dist_m > (F.greatest(dt_s, F.lit(1))
                      * F.lit(int(vmax_ms)))
    return df.select(
        user_col, F.col(id_col).alias("seg_id"),
        dist_m.alias("dist_m"), dt_s.alias("dt_s"),
        spike.cast("int").alias("spike"))
