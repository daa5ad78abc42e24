"""S2-style cell index (functions/s2cell.py): Hilbert tables vs the
classic algorithm, Column-vs-numpy bit equality, hierarchy/range
contracts, and face geometry."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyproj_spark.functions import s2cell


def _classic_xy2d(order, x, y):
    """Wikipedia 'Hilbert curve' xy2d — the mutating-loop reference
    form the lookup tables were derived from."""
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_tables_match_classic():
    level = 6
    n = 1 << level
    pos = np.asarray(s2cell._POS)
    nxt = np.asarray(s2cell._NXT)
    for i in range(n):
        for j in range(n):
            st = d = 0
            for k in range(level - 1, -1, -1):
                idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
                d = (d << 2) | pos[idx]
                st = nxt[idx]
            assert d == _classic_xy2d(n, i, j)


def test_face_assignment():
    lons = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lats = np.array([0.0, 0.0, 89.0, 0.0, 0.0, -89.0])
    face, _, _ = s2cell._face_uv_np(lons, lats)
    assert face.tolist() == [0, 1, 2, 3, 4, 5]
    cells = s2cell.encode_np(lons, lats, 8)
    assert ((cells >> 55) & 7).tolist() == [0, 1, 2, 3, 4, 5]
    assert ((cells >> 58) & 31).tolist() == [8] * 6


def test_near_axis_point_encodes_without_warning():
    """The off-face quotients of a point beside the x axis overflow;
    np.select discards them, so no warning is due."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cells = s2cell.encode_np([0.0], [1e-308], 10)
    assert cells.tolist() == [2882303761517641728]


def test_level_bounds():
    with pytest.raises(ValueError):
        s2cell.encode_np(np.array([0.0]), np.array([0.0]), 21)


def test_parent_hierarchy_np():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 2000)
    lat = rng.uniform(-89.9, 89.9, 2000)
    fine = s2cell.encode_np(lon, lat, 12)
    for lp in (11, 7, 3, 0):
        coarse = s2cell.encode_np(lon, lat, lp)
        assert (s2cell.parent_np(fine, lp) == coarse).all()


def test_column_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179.9, 179.9, 3000)
    lat = rng.uniform(-89.9, 89.9, 3000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], ["lon", "lat"])
    for level in (0, 1, 10, 20):
        got = df.withColumn(
            "cell", s2cell.cell_of(F.col("lon"), F.col("lat"), level)) \
            .select("cell").toPandas()["cell"].to_numpy()
        exp = s2cell.encode_np(lon, lat, level)
        assert (got == exp).all(), f"level {level}"


def test_parent_and_range_columns(spark):
    rng = np.random.default_rng(13)
    lon = rng.uniform(-179.9, 179.9, 500)
    lat = rng.uniform(-89.9, 89.9, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], ["lon", "lat"])
    out = (df.withColumn("c12", s2cell.cell_of(F.col("lon"),
                                               F.col("lat"), 12))
           .withColumn("c5", s2cell.cell_of(F.col("lon"),
                                            F.col("lat"), 5))
           .withColumn("p5", s2cell.parent(F.col("c12"), 5))
           .withColumn("rng", s2cell.descendant_range(F.col("c5"), 12))
           .toPandas())
    assert (out["p5"] == out["c5"]).all()
    # containment as one integer BETWEEN: every fine cell falls in its
    # coarse ancestor's half-open descendant range
    assert ((out["rng"].map(lambda r: r["lo"]) <= out["c12"])
            & (out["c12"] < out["rng"].map(lambda r: r["hi"]))).all()


def test_hilbert_locality():
    """Consecutive ids along the curve are spatially adjacent: cells
    sorted by id have grid-neighbor (i,j) steps (the property that
    makes id ranges compact regions)."""
    level = 5
    n = 1 << level
    cells = {}
    for i in range(n):
        for j in range(n):
            st = d = 0
            for k in range(level - 1, -1, -1):
                idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
                d = (d << 2) | s2cell._POS[idx]
                st = s2cell._NXT[idx]
            cells[d] = (i, j)
    for d in range(n * n - 1):
        (i1, j1), (i2, j2) = cells[d], cells[d + 1]
        assert abs(i1 - i2) + abs(j1 - j2) == 1


def test_poles_and_antimeridian():
    """Exact poles and the +-180 seam must encode without NaN/error
    and land on the correct faces (no ts/tan singularities — the
    index works from the unit vector directly)."""
    lon = np.array([0.0, 0.0, 180.0, -180.0, 179.999999, -179.999999])
    lat = np.array([90.0, -90.0, 0.0, 0.0, 45.0, -45.0])
    cells = s2cell.encode_np(lon, lat, 12)
    faces = ((cells >> 55) & 7)
    assert faces[0] == 2 and faces[1] == 5    # poles -> z faces
    assert faces[2] == 3 and faces[3] == 3    # seam -> -x face
    # +180 and -180 straddle the face-3 centerline by one float ulp
    # (sin(pi_float) = +-1.2e-16): adjacent j rows, NOT equal ids —
    # the same seam artifact real S2 has; assert they stay within one
    # j step of each other via the shared i column
    f3, u3, v3 = s2cell._face_uv_np(lon[2:4], lat[2:4])
    assert abs(v3[0]) < 1e-15 and abs(v3[1]) < 1e-15
    # all ids carry the right level and are non-negative
    assert ((cells >> 58) & 31 == 12).all() and (cells >= 0).all()


def test_covering_superset_fuzz():
    """covering_bbox is a SOUND superset: every cell of every in-bbox
    point is covered (hypothesis-style fuzz, dense sampling)."""
    rng = np.random.default_rng(17)
    for _ in range(30):
        w = rng.uniform(-180, 170)
        e = w + rng.uniform(1, 60)
        if e > 180:
            e -= 360
        s = rng.uniform(-88, 80)
        n = min(s + rng.uniform(1, 30), 89.9)
        level = int(rng.integers(2, 9))
        cov = set(s2cell.covering_bbox(w, s, e, n, level))
        if w <= e:
            lon = rng.uniform(w, e, 3000)
        else:
            lon = w + rng.uniform(0, (e + 360) - w, 3000)
            lon = np.where(lon > 180, lon - 360, lon)
        lat = rng.uniform(s, n, 3000)
        cells = set(s2cell.encode_np(lon, lat, level).tolist())
        assert not (cells - cov), (w, s, e, n, level)


def test_covering_ranges_contain_leaves():
    w, s, e, n = -130.5, 22.5, -60.25, 52.75
    ranges = s2cell.covering_ranges(w, s, e, n, 4, 8)
    # merged: strictly fewer ranges than covering cells, sorted,
    # non-overlapping
    assert len(ranges) < len(s2cell.covering_bbox(w, s, e, n, 4))
    assert all(r1[1] <= r2[0] for r1, r2 in zip(ranges, ranges[1:]))
    rng = np.random.default_rng(23)
    lon = rng.uniform(w, e, 3000)
    lat = rng.uniform(s, n, 3000)
    leaves = s2cell.encode_np(lon, lat, 8)
    for c in leaves:
        assert any(lo <= c < hi for lo, hi in ranges)


def test_covering_polygon_superset():
    """Polygon coverings are sound supersets over the repo's zone
    shapes (dense in-polygon sampling)."""
    from pyproj_spark.operators.pip import point_in_ring_np
    from pyproj_spark.queries import PIP_ZONES
    rng = np.random.default_rng(9)
    for zid, ring in PIP_ZONES.items():
        cov = set(s2cell.covering_polygon(ring, 5))
        xs = np.array([p[0] for p in ring])
        ys = np.array([p[1] for p in ring])
        lons = rng.uniform(xs.min(), xs.max(), 8000)
        lats = rng.uniform(ys.min(), ys.max(), 8000)
        inside = point_in_ring_np(lons, lats, xs, ys)
        cells = set(s2cell.encode_np(lons[inside], lats[inside], 5)
                    .tolist())
        assert not (cells - cov), zid


def test_adaptive_covering_certainty():
    """Adaptive coverings: far fewer cells than fixed-level, superset
    preserved, and certain=True ranges contain ONLY in-polygon
    points (they skip the exact test downstream)."""
    from pyproj_spark.operators.pip import point_in_ring_np
    from pyproj_spark.queries import PIP_ZONES
    rng = np.random.default_rng(31)
    for zid, ring in PIP_ZONES.items():
        adapt = s2cell.covering_polygon_adaptive(ring, 8)
        fixed = s2cell.covering_polygon(ring, 8)
        assert len(adapt) < len(fixed) / 5
        assert any(c for _, c in adapt)
        ranges = s2cell.ranges_from_cells([c for c, _ in adapt], 8)
        cranges = s2cell.ranges_from_cells(
            [c for c, cc in adapt if cc], 8)
        xs = np.array([p[0] for p in ring])
        ys = np.array([p[1] for p in ring])
        lons = rng.uniform(xs.min(), xs.max(), 8000)
        lats = rng.uniform(ys.min(), ys.max(), 8000)
        inside = point_in_ring_np(lons, lats, xs, ys)
        leaves = s2cell.encode_np(lons, lats, 8)

        def in_r(c, rs):
            return any(lo <= c < hi for lo, hi in rs)

        for c, isin in zip(leaves, inside):
            if isin:
                assert in_r(c, ranges), zid          # superset
            if in_r(c, cranges):
                assert isin, zid                     # certainty
