"""Geodesic polygon area + perimeter (pyproj ``polygon_area_perimeter``).

Reference semantics: ``pyproj/geod.py:922-970`` / ``pyproj/_geod.pyx:
541-591`` (signed area, CCW positive, algebraic accumulation), golden
values ``test/test_geod.py`` (triangle (1,2),(3,4),(5,2) on WGS84 =
-49187690467.58623 m^2, asserted decimal=2 — i.e. ~1e-13 relative).

Method (original, not Karney's C4 series): Green's theorem on the
ellipsoid.  With F(phi) = integral of M(phi) N(phi) cos(phi) dphi
           = a^2 (1-e^2)/2 [ sin(phi)/(1 - e^2 sin^2 phi)
                             + atanh(e sin(phi))/e ],
the signed area of a closed curve is

    area = w * 2*pi*F(pi/2) - sum_edges integral F(phi) dlambda

(w = winding number around the pole axis; CCW positive).  Along a
geodesic edge parametrized by the arc angle sigma we have analytically
(Karney 2013 notation; alpha0 = Clairaut azimuth, A3/C3 the longitude
series derived in tools/derive_geodesic_series.py):

    sin(beta) = cos(alpha0) sin(sigma)
    dlambda/dsigma = sin(alpha0) [ 1/(1 - cos^2(alpha0) sin^2 sigma)
                       - f A3 (1 + sum 2 l C3_l cos(2 l sigma)) ]

so each edge integral is a smooth 1-D integral evaluated by panel
Gauss-Legendre quadrature to machine precision.  This trades the paper's
truncated C4 series for exact quadrature — same asymptotic cost per
edge, no series-coefficient risk, and it is only used on small
dimension tables (zones) or inside per-ring ``rows.map_rows`` stages,
never in the per-page hot path.
"""

from __future__ import annotations

import numpy as np

from pyproj_spark.kernels.geodesic import (
    Geodesic, _norm, _sin_series, ang_diff, sincosd,
)

# 16-point Gauss-Legendre nodes/weights on [-1, 1]
_GL_X, _GL_W = np.polynomial.legendre.leggauss(16)
_MAX_PANEL = 0.25  # rad of sigma per quadrature panel


def _authalic_F(sinphi, a, e2):
    """F(phi) = a^2(1-e^2)/2 [ s/(1-e^2 s^2) + atanh(e s)/e ], s=sin(phi)."""
    if e2 == 0.0:
        return a * a * sinphi
    e = np.sqrt(e2)
    return (a * a * (1.0 - e2) / 2.0
            * (sinphi / (1.0 - e2 * sinphi * sinphi)
               + np.arctanh(e * sinphi) / e))


def polygon_area_perimeter(g: Geodesic, lons, lats, radians: bool = False):
    """Signed geodesic area (m^2, CCW positive) and perimeter of a ring.

    The ring is closed automatically (last->first edge) like the
    reference. Returns (area, perimeter) floats.
    """
    lons = np.atleast_1d(np.asarray(lons, dtype=np.float64))
    lats = np.atleast_1d(np.asarray(lats, dtype=np.float64))
    if radians:
        lons, lats = np.degrees(lons), np.degrees(lats)
    if lons.size < 2:
        return 0.0, 0.0
    # drop an explicitly closed duplicate last vertex
    if lons.size > 2 and lons[0] == lons[-1] and lats[0] == lats[-1]:
        lons, lats = lons[:-1], lats[:-1]
    lo1, la1 = lons, lats
    lo2, la2 = np.roll(lons, -1), np.roll(lats, -1)

    az1, az2, s12 = g.inverse(lo1, la1, lo2, la2)
    perimeter = float(np.sum(s12))
    if lons.size == 2 and np.allclose(s12, 0.0):
        return 0.0, perimeter

    # per-edge geodesic frame (true frame, from the forward azimuth)
    sa1, ca1 = sincosd(az1)
    sb1, cb1 = g._beta(la1)
    sb2, cb2 = g._beta(la2)
    sa2, ca2 = sincosd(az2)
    sa0 = sa1 * cb1
    ca0 = np.hypot(ca1, sa1 * sb1)
    sig1 = np.arctan2(sb1, ca1 * cb1)
    sig2 = np.arctan2(sb2, ca2 * cb2)
    # continuous sigma2 >= sigma1 (edges are shortest paths: sig12 in [0, pi])
    sig12 = np.remainder(sig2 - sig1, 2.0 * np.pi)
    sig2 = sig1 + sig12

    k2 = g.ep2 * ca0 ** 2
    eps = g._eps(k2)
    a3 = g._a3f(eps)
    c3 = g._c3f(eps)  # list of arrays per edge

    # Anchor trick: integrate F dlambda as
    #   F(phi_mid) * dlambda_exact + integral (F - F(phi_mid)) dlambda
    # so that the ~1e-15 rad endpoint noise in sigma1/sigma2 (from
    # azimuth double-rounding) multiplies only the small F-variation
    # along the edge, not |F| ~ 2e13 — keeps absolute area error at the
    # 1e-3 m^2 level pyproj's decimal=2 asserts demand.
    lam12_exact = np.radians(ang_diff(lo1, lo2))
    sbm = ca0 * np.sin(0.5 * (sig1 + sig2))
    cbm = np.sqrt(np.maximum(1.0 - sbm ** 2, 0.0))
    sphi_m = sbm / np.sqrt(sbm ** 2 + (g.f1 * cbm) ** 2)
    F_mid = _authalic_F(sphi_m, g.a, g.e2)

    # panel quadrature, vectorized over (edges x nodes)
    n_panels = np.maximum(1, np.ceil(sig12 / _MAX_PANEL).astype(int))
    max_p = int(n_panels.max()) if n_panels.size else 1
    total = F_mid * lam12_exact
    e2 = g.e2
    f = g.f
    f1 = g.f1
    for p in range(max_p):
        act = p < n_panels
        if not act.any():
            break
        lo = sig1 + sig12 * (p / n_panels)
        hi = sig1 + sig12 * np.minimum((p + 1) / n_panels, 1.0)
        mid = 0.5 * (hi + lo)
        half = 0.5 * (hi - lo)
        # sigma nodes: (edges, nodes)
        sg = mid[:, None] + half[:, None] * _GL_X[None, :]
        ssig, csig = np.sin(sg), np.cos(sg)
        sbeta = ca0[:, None] * ssig
        # sin(phi) from sin(beta): tan(phi) = tan(beta)/(1-f)
        cbeta = np.sqrt(np.maximum(1.0 - sbeta ** 2, 0.0))
        sphi = sbeta / np.sqrt(sbeta ** 2 + (f1 * cbeta) ** 2)
        Fv = _authalic_F(sphi, g.a, e2) - F_mid[:, None]
        # dlambda/dsigma
        dl = 1.0 / (1.0 - (ca0[:, None] ** 2) * ssig ** 2)
        trig = np.ones_like(sg)
        for ll, c3l in enumerate(c3, start=1):
            trig = trig + 2.0 * ll * c3l[:, None] * np.cos(2.0 * ll * sg)
        dl = sa0[:, None] * (dl - f * a3[:, None] * trig)
        contrib = half * np.sum(_GL_W[None, :] * Fv * dl, axis=1)
        total = total + np.where(act, contrib, 0.0)

    # edges touching a pole: the whole lon change happens AT the pole
    # (a geodesic reaching a pole is meridional), so the edge contributes
    # F(+-90) * dlambda, not F(phi_mid) * dlambda.
    pole1 = np.abs(la1) >= 90.0 - 1e-12
    pole2 = np.abs(la2) >= 90.0 - 1e-12
    touches = pole1 | pole2
    if touches.any():
        psign = np.where(pole1, np.sign(la1), np.sign(la2))
        Fp_edge = _authalic_F(psign, g.a, e2)
        total = np.where(touches, Fp_edge * lam12_exact, total)

    # meridional over-pole edges: smooth part is 0, but lambda jumps by +-pi
    # at the pole; add F(+-pi/2) * jump.
    merid = np.abs(sa0) < 1e-14
    if merid.any():
        crosses_n = merid & (sig1 < np.pi / 2) & (sig2 > np.pi / 2)
        crosses_s = merid & (
            ((sig1 < 3 * np.pi / 2) & (sig2 > 3 * np.pi / 2))
            | ((sig1 < -np.pi / 2) & (sig2 > -np.pi / 2)))
        jump = np.radians(ang_diff(lo1, lo2))
        Fn = _authalic_F(np.array(1.0), g.a, e2)
        total = np.where(crosses_n, jump * Fn, total)
        total = np.where(crosses_s, jump * -Fn, total)

    # winding number around the pole axis; result is correct modulo the
    # total ellipsoid area, so normalize into (-A_total/2, A_total/2]
    # (geod_polygonarea's convention, which pyproj inherits).
    w = int(np.round(np.sum(ang_diff(lo1, lo2)) / 360.0))
    Fp = float(_authalic_F(np.array(1.0), g.a, e2))
    a_total = 4.0 * np.pi * Fp
    area = w * 2.0 * np.pi * Fp - float(np.sum(total))
    area = area - a_total * np.floor(area / a_total + 0.5)
    if area == -a_total / 2.0:
        area = a_total / 2.0
    return float(area), perimeter
