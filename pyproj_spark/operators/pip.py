"""Point-in-polygon join — cell-prefiltered equi-join + exact test.

The graft's flagship join (SURVEY.md §2.6): instead of a theta-join
(impossible at 10^12 rows), PIP becomes

  1. anchors gain a geocell id (pure Catalyst bit math, no shuffle);
  2. zones explode their covering cells -> (cell, zone) rows, BROADCAST
     (zones are a dimension table);
  3. equi-join on cell = the only join, map-side via broadcast hash join
     (zero shuffle of the fact table);
  4. exact even-odd crossing test as a vectorized pandas UDF, batched per
     zone inside each Arrow batch (ring geometry is identical across a
     zone's rows, so the inner loop is one numpy pass per distinct zone).
     The rings are collected once per zones frame and shipped with
     sparkContext.broadcast.

Exact-match contract: :func:`point_in_ring_np` is the one definition of
the even-odd test — the brute-force oracle in tests (FIXTURES.md §9)
and perfbench use it, and join output rows must match it exactly.
:func:`ring_contains` is its native (Catalyst) twin for literal rings,
bit-identical to it. Antimeridian-crossing rings are handled by
wrapping vertex longitudes into the point's local frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from pyproj_spark.functions import cells


def point_in_ring_np(lon: np.ndarray, lat: np.ndarray,
                     ring_lon: np.ndarray, ring_lat: np.ndarray
                     ) -> np.ndarray:
    """Vectorized even-odd (crossing-number) test; lon wrap-aware.

    Points on an edge are resolved by the half-open rule (y1 > lat) !=
    (y2 > lat) — deterministic, matching the test oracle bit-for-bit.
    """
    # Ring-local continuous frame: unwrap every vertex to within +-180 of
    # vertex 0 (rings span << 180 deg by construction), then wrap the
    # point into the same frame. The seam lands ~antipodal to the ring,
    # so no edge spans it and the planar ray test is globally correct
    # (a per-vertex wrap would split far-away rings across the seam and
    # let the eastward ray wrap around and hit them).
    ref = ring_lon[0]
    rx = ref + ((ring_lon - ref + 180.0) % 360.0 - 180.0)
    px = ref + ((lon - ref + 180.0) % 360.0 - 180.0)
    x1 = rx
    x2 = np.roll(rx, -1)
    y1 = ring_lat
    y2 = np.roll(ring_lat, -1)
    yy1 = y1[None, :]
    yy2 = y2[None, :]
    cross = (yy1 > lat[:, None]) != (yy2 > lat[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (lat[:, None] - yy1) * (x2 - x1)[None, :] \
            / (yy2 - yy1)
    hits = cross & (px[:, None] < xint)
    return (hits.sum(axis=1) % 2).astype(bool)


def _ring_edges(lat: Column, ring) -> list[tuple[Column, Column]]:
    """The per-edge terms of :func:`point_in_ring_np` over a literal
    ring of (lon, lat) vertices: one ``(cross, x_intercept)`` pair of
    Columns per edge, with the reference's unwrapped vertices,
    half-open rule and evaluation order. A horizontal edge never
    crosses (and would divide by zero), so it has no term."""
    a = np.asarray(ring, dtype=float)
    ref = a[0, 0]
    rx = ref + ((a[:, 0] - ref + 180.0) % 360.0 - 180.0)
    ry = a[:, 1]
    edges = zip(rx.tolist(), ry.tolist(), np.roll(rx, -1).tolist(),
                np.roll(ry, -1).tolist())
    return [((F.lit(ya) > lat) != (F.lit(yb) > lat),
             F.lit(xa) + (lat - F.lit(ya)) * F.lit(xb - xa)
             / F.lit(yb - ya))
            for xa, ya, xb, yb in edges if ya != yb]


def ring_contains(lon: Column, lat: Column, ring) -> Column:
    """Native twin of :func:`point_in_ring_np` for a literal ring of
    (lon, lat) vertices: a boolean Column, bit-identical to the
    reference (the point wraps into the ring's frame with ``pmod``).
    Like the reference it assumes the ring spans well under 180° of
    longitude: ``pmod`` and numpy's ``%`` may put a point within ~1e-13°
    of the seam opposite the ring on different sides of it, where both
    sides are outside such a ring."""
    ref = float(ring[0][0])
    px = F.lit(ref) + (F.pmod(lon - F.lit(ref) + F.lit(180.0),
                              F.lit(360.0)) - F.lit(180.0))
    tot = F.lit(0)
    for cross, xint in _ring_edges(lat, ring):
        tot = tot + F.when(cross & (px < xint), 1).otherwise(0)
    return tot % 2 == 1


def _make_pip_udf(rings_bc):
    """PIP filter reading the {zone_id: (lons, lats)} ring table from a
    SparkContext BROADCAST — shipped once per executor, not pickled into
    every task closure (at 10^5 zones a closure would re-serialize the
    whole table per task). The ring geometry never crosses Arrow per row
    (it is identical across a zone's candidate rows; shipping it as a
    struct column multiplied the batch payload by the ring size)."""

    @pandas_udf(BooleanType())
    def _pip(zone_id: pd.Series, lon: pd.Series,
             lat: pd.Series) -> pd.Series:
        rings = rings_bc.value
        lon_v = lon.to_numpy()
        lat_v = lat.to_numpy()
        out = np.zeros(len(lon_v), dtype=bool)
        # rows arrive join-ordered: group by zone_id (one numpy pass per
        # distinct zone inside the batch) — zone_id is the key; a
        # geometry-derived key would collide for zones sharing vertices
        for zid, idx in zone_id.groupby(zone_id).groups.items():
            r = rings.get(zid)
            if r is None or len(r[0]) == 0:
                continue
            ii = np.asarray(idx)
            out[ii] = point_in_ring_np(lon_v[ii], lat_v[ii], r[0], r[1])
        return pd.Series(out)

    return _pip


def pip_join(anchors: DataFrame, zones: DataFrame,
             res: int = cells.DEFAULT_RES,
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """anchors ⋈ zones where the point lies inside the zone ring.

    anchors: any DF with lon/lat columns. zones: zones_df schema
    (zone_id, name, ring, cells) — a DIMENSION table: its rings are
    collected once on the driver and shipped per executor via
    sparkContext.broadcast. A NULL or empty ring matches nothing.
    Returns anchors columns + zone_id.
    """
    a = anchors.withColumn(
        "cell", cells.cell_of(F.col(lon_col), F.col(lat_col), res))
    # The ring collect + broadcast is a driver round trip per call; a
    # zones DIMENSION table is typically reused across many queries in a
    # session, so the broadcast is memoized on the DataFrame object
    # itself (plan-side metadata, rebuilt whenever the caller rebuilds
    # the zones frame — never keyed on fact data).
    rings_bc = zones.__dict__.get("_pip_rings_bc")
    if rings_bc is None:
        rings = {
            r["zone_id"]: (np.array([p["lon"] for p in r["ring"] or ()]),
                           np.array([p["lat"] for p in r["ring"] or ()]))
            for r in zones.select("zone_id", "ring").collect()}
        sc = anchors.sparkSession.sparkContext
        rings_bc = zones.__dict__["_pip_rings_bc"] = sc.broadcast(rings)
    zc = zones.select("zone_id", F.explode("cells").alias("cell"))
    cand = a.join(F.broadcast(zc), "cell")
    hit = cand.filter(_make_pip_udf(rings_bc)(
        F.col("zone_id"), F.col(lon_col), F.col(lat_col)))
    return hit.drop("cell")
