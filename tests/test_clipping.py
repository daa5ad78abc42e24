"""General concave clipping: the Weiler–Atherton vertex-output kernel
(operators/clipping.py) cross-checked against the fan-triangle
decomposition area (functions/clip.py) — two independent algorithms
that must agree on every pair — plus the Spark surfaces."""

from __future__ import annotations

import numpy as np
import pytest

from pyproj_spark.operators.clipping import (_area2, _ccw,
                                             clip_pair_stats,
                                             clip_rings_np)

L = np.array([(0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4)], float)
SQ = np.array([(0.5, 0.5), (3.5, 0.5), (3.5, 3.5), (0.5, 3.5)], float)
STAR = np.array([(2, -1), (3, 2.03), (6, 2.03), (3.5, 3.5), (4.5, 6),
                 (2, 4.2), (-0.5, 6), (0.5, 3.47), (-2, 2.03),
                 (1.02, 2.03)], float)
CONC = np.array(list(reversed([(0.03, 2.01), (2.01, 0.03),
                               (4.03, 2.01), (3.01, 2.01),
                               (2.01, 1.03), (1.03, 2.01)])), float)


def fan_area(P, Q):
    """Independent numpy mirror of functions/clip.py's fan-triangle
    intersection area (the DuckDB-oracle path)."""
    P = _ccw(np.asarray(P, float))
    Q = np.asarray(Q, float)

    def half(ring, a, b, s):
        if len(ring) == 0:
            return ring
        out = []

        def d(pt):
            return s * ((b[0] - a[0]) * (pt[1] - a[1])
                        - (b[1] - a[1]) * (pt[0] - a[0]))

        for i in range(len(ring)):
            p, q = ring[i], ring[(i + 1) % len(ring)]
            dp, dq = d(p), d(q)
            if (dp >= 0) != (dq >= 0):
                t = dp / (dp - dq)
                out.append(p + t * (q - p))
            if dq >= 0:
                out.append(q)
        return np.array(out) if out else np.zeros((0, 2))

    total = 0.0
    c0 = Q[0]
    for i in range(1, len(Q) - 1):
        ci, cj = Q[i], Q[i + 1]
        cr = ((ci[0] - c0[0]) * (cj[1] - c0[1])
              - (ci[1] - c0[1]) * (cj[0] - c0[0]))
        s = 1.0 if cr > 0 else (-1.0 if cr < 0 else 0.0)
        if s == 0.0:
            continue
        r = half(P, c0, ci, s)
        r = half(r, ci, cj, s)
        r = half(r, cj, c0, s)
        if len(r) >= 3:
            total += s * _area2(r)
    return abs(total) / 2


CASES = [("L&SQ", L, SQ, 1), ("L&STAR", L, STAR, 2),
         ("STAR&L", STAR, L, 2), ("L&CONC", L, CONC, 2),
         ("STAR&CONC", STAR, CONC, 1), ("SQ&CONC", SQ, CONC, 1)]


@pytest.mark.parametrize("name,P,Q,pieces", CASES)
def test_wa_matches_fan_area(name, P, Q, pieces):
    n_pieces, n_verts, area = clip_pair_stats(P, Q)
    assert n_pieces == pieces
    assert area == pytest.approx(fan_area(P, Q), abs=1e-10)
    assert n_verts >= 3 * n_pieces


def test_symmetry():
    a1 = clip_pair_stats(L, STAR)[2]
    a2 = clip_pair_stats(STAR, L)[2]
    assert a1 == pytest.approx(a2, abs=1e-10)


def test_containment_and_disjoint():
    inner = np.array([(1.2, 1.2), (1.8, 1.2), (1.8, 1.8)], float)
    big = np.array([(0, 0), (5, 0), (5, 5), (0, 5)], float)
    far = big + 100.0
    # subject inside clip -> subject; clip inside subject -> clip
    assert clip_pair_stats(inner, big)[2] == pytest.approx(
        abs(_area2(inner)) / 2)
    assert clip_pair_stats(big, inner)[2] == pytest.approx(
        abs(_area2(inner)) / 2)
    assert clip_rings_np(big, far) == []


def test_multi_piece_output_rings_are_simple_ccw():
    rings = clip_rings_np(L, CONC)
    assert len(rings) == 2
    for r in rings:
        assert _area2(r) > 0  # CCW
        assert len(r) >= 3


def test_degenerate_contact_raises():
    # STAR's unperturbed ancestor had a vertex exactly on L's x=1 edge
    bad = STAR.copy()
    bad[-1] = (1.0, 2.0)
    bad[1] = (3.0, 2.0)
    bad[2] = (6.0, 2.0)
    with pytest.raises(ValueError, match="degenerate"):
        for _ in range(3):  # any of the 3 contacts may trip it
            clip_rings_np(L, bad)


def test_random_star_polygons_match_fan():
    rng = np.random.default_rng(7)

    def rad_poly(cx, cy, k):
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        # radius band [2, 3]: chords subtend < the inradius, so the
        # polygon is genuinely simple (a thin band would self-cross)
        r = rng.uniform(2.0, 3.0, k)
        return np.c_[cx + r * np.cos(ang), cy + r * np.sin(ang)]

    checked = 0
    for _ in range(60):
        P = rad_poly(0, 0, int(rng.integers(5, 11)))
        Q = rad_poly(rng.uniform(-2, 2), rng.uniform(-2, 2),
                     int(rng.integers(5, 11)))
        try:
            _, _, a = clip_pair_stats(P, Q)
        except ValueError:
            continue  # degenerate draw
        assert a == pytest.approx(fan_area(P, Q), abs=1e-9)
        checked += 1
    assert checked >= 50


def test_spark_clip_zones_exact_operator(spark):
    from pyspark.sql import functions as F

    from pyproj_spark.operators.clipping import clip_zones_exact
    rows = []
    for pid, (P, Q) in enumerate([(L, SQ), (L, STAR), (L, CONC),
                                  (STAR, CONC)]):
        rows.append((pid,
                     [{"x": float(x), "y": float(y)} for x, y in P],
                     [{"x": float(x), "y": float(y)} for x, y in Q]))
    df = spark.createDataFrame(
        rows, "pair_id int, ring array<struct<x:double,y:double>>, "
              "creg array<struct<x:double,y:double>>")
    out = {r["pair_id"]: r for r in clip_zones_exact(df).collect()}
    for pid, (P, Q) in enumerate([(L, SQ), (L, STAR), (L, CONC),
                                  (STAR, CONC)]):
        np_, nv, a = clip_pair_stats(P, Q)
        assert out[pid]["n_pieces"] == np_
        assert out[pid]["area"] == pytest.approx(a, abs=1e-10)
    # no shuffle: single map_rows (mapInArrow) stage over the scan
    plan = clip_zones_exact(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan


def test_spark_intersection_area2_matches_numpy(spark):
    from pyspark.sql import functions as F

    from pyproj_spark.functions.clip import ccw, intersection_area2
    df = spark.createDataFrame(
        [([{"x": float(x), "y": float(y)} for x, y in L],
          [{"x": float(x), "y": float(y)} for x, y in CONC])],
        "subj array<struct<x:double,y:double>>, "
        "clip array<struct<x:double,y:double>>")
    got = (df.withColumn("s2", ccw(F.col("subj")))
           .select((intersection_area2(F.col("s2"), F.col("clip")) / 2)
                   .alias("a"))).first()["a"]
    assert got == pytest.approx(fan_area(L, CONC), abs=1e-12)


def test_cyrus_beck_clip_matches_shapely_free_brute_force(spark):
    """q_clip_length vs an independent dense-sampling estimate: the
    parametric interval [t0, t1] must bracket exactly the inside
    samples (up to grid resolution)."""
    from pyproj_spark.queries import PIP_ZONES, q_clip_length
    ring = PIP_ZONES[1]

    def inside(x, y):
        c = False
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if ((y1 > y) != (y2 > y)) and \
                    x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                c = not c
        return c

    rows = q_clip_length(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 10
    for r in rows[:40]:
        k = r["doc_id"]
        x0 = (k * 7919 % 80000) / 1000.0 - 20.0
        y0 = (k * 104729 % 45000) / 1000.0 + 25.0
        dx = (k * 4073 % 30000) / 1000.0 - 15.0
        dy = (k * 2741 % 20000) / 1000.0 - 10.0
        ts = [i / 2000.0 for i in range(2001)]
        ins = [t for t in ts if inside(x0 + t * dx, y0 + t * dy)]
        assert ins, f"doc {k}: no inside samples but clip emitted"
        assert abs(min(ins) - r["t0"]) < 2e-3
        assert abs(max(ins) - r["t1"]) < 2e-3


def test_zone_fill_intervals_match_pip_at_pixel_centers(spark):
    """Scanline intervals must contain exactly the pixel centers the
    even-odd PIP test accepts — fill and PIP are the same geometry."""
    from pyproj_spark.queries import PIP_ZONES, q_zone_fill

    def inside(ring, x, y):
        c = False
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if ((y1 > y) != (y2 > y)) and \
                    x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                c = not c
        return c

    got = {}
    for r in q_zone_fill(spark, "/root/testdata/sf0.001").collect():
        got[(r["zone_id"], r["py"])] = (r["px_lo"], r["px_hi"])
    wx, hy = 360.0 / 256, 170.0 / 128
    assert len(got) > 100
    for zid, ring in PIP_ZONES.items():
        for py in range(128):
            yc = -85.0 + (py + 0.5) * hy
            ins = [px for px in range(256)
                   if inside(ring, -180.0 + (px + 0.5) * wx, yc)]
            if not ins:
                assert (zid, py) not in got
            else:
                assert got[(zid, py)] == (min(ins), max(ins)), \
                    (zid, py)
