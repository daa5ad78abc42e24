"""Map-projection kernels — vectorized numpy, radians in/out.

Each projection converts geodetic (lam, phi) [radians, lam relative to
lon_0] <-> projected (x, y) [metres, false easting/northing included].
Formulas from public sources: Snyder, "Map Projections: A Working
Manual" (USGS PP 1395, 1987); Karney, "Transverse Mercator with an
accuracy of a few nanometers" (2011) — Krüger alpha/beta tables verified
in 50-digit arithmetic by tools/verify_tm_series.py.

These kernels are the Spark analogue of the reference's PROJ pipeline
steps (``pyproj/_transformer.pyx:807-827`` executes them in C); here
they run inside scalar Arrow UDFs, one Arrow batch per call.
Failed points become NaN/inf in-band, matching pyproj's inf-on-error
convention (``pyproj/_transformer.pyx:828-837``).
"""

from __future__ import annotations

import numpy as np

from pyproj_spark.kernels.ellipsoid import Ellipsoid

# --------------------------------------------------------------------------
# Krüger series, order 6 in third flattening n (verified tools/verify_tm_series.py)
_ALPHA = [
    (1 / 2, -2 / 3, 5 / 16, 41 / 180, -127 / 288, 7891 / 37800),
    (0, 13 / 48, -3 / 5, 557 / 1440, 281 / 630, -1983433 / 1935360),
    (0, 0, 61 / 240, -103 / 140, 15061 / 26880, 167603 / 181440),
    (0, 0, 0, 49561 / 161280, -179 / 168, 6601661 / 7257600),
    (0, 0, 0, 0, 34729 / 80640, -3418889 / 1995840),
    (0, 0, 0, 0, 0, 212378941 / 319334400),
]
_BETA = [
    (1 / 2, -2 / 3, 37 / 96, -1 / 360, -81 / 512, 96199 / 604800),
    (0, 1 / 48, 1 / 15, -437 / 1440, 46 / 105, -1118711 / 3870720),
    (0, 0, 17 / 480, -37 / 840, -209 / 4480, 5569 / 90720),
    (0, 0, 0, 4397 / 161280, -11 / 504, -830251 / 7257600),
    (0, 0, 0, 0, 4583 / 161280, -108847 / 3991680),
    (0, 0, 0, 0, 0, 20648693 / 638668800),
]


def _polyn(coeffs, n):
    return sum(c * n ** (k + 1) for k, c in enumerate(coeffs))


def _taupf(tau, e):
    """tau' = tan(chi) from tau = tan(phi) — exact (Karney 2011 eq. 7-9)."""
    tau1 = np.hypot(1.0, tau)
    sig = np.sinh(e * np.arctanh(e * tau / tau1))
    return np.hypot(1.0, sig) * tau - sig * tau1


def _tauf(taup, e):
    """Invert _taupf by Newton (Karney 2011 eq. 19-21)."""
    e2m = 1.0 - e * e
    tau = taup / e2m
    stol = 0.1 * np.sqrt(np.finfo(float).eps) * np.maximum(1.0, np.abs(taup))
    for _ in range(8):
        taupa = _taupf(tau, e)
        dtau = ((taup - taupa) * (1.0 + e2m * tau ** 2)
                / (e2m * np.hypot(1.0, tau) * np.hypot(1.0, taupa)))
        tau = tau + dtau
        if np.all(np.abs(dtau) < stol):
            break
    return tau


def _ts(phi, e):
    """Snyder's t(phi) = exp(-psi): isometric-latitude exponential."""
    return np.exp(-(np.arcsinh(np.tan(phi)) - e * np.arctanh(e * np.sin(phi))))


def _phi_from_ts(t, e):
    """phi from t = exp(-psi) via the exact tau Newton."""
    taup = (1.0 / t - t) / 2.0  # sinh(psi) = tan(chi)
    return np.arctan(_tauf(taup, e))


class Projection:
    """Base: subclasses implement _fwd/_inv on (lam, phi) radians with lam
    already relative to lon_0; this class handles lon_0/x_0/y_0."""

    name = "base"
    #: True for projections defined on a sphere regardless of the CRS
    #: ellipsoid (webmerc, eqc) — distortion factors then use e2=0,
    #: matching PROJ's proj_factors convention.
    spherical_factors = False

    def __init__(self, E: Ellipsoid, lon_0=0.0, x_0=0.0, y_0=0.0, **kw):
        self.E = E
        self.lon_0 = np.radians(float(lon_0))
        self.x_0 = float(x_0)
        self.y_0 = float(y_0)
        #: +over semantics (reference transformer.py force_over kwarg):
        #: True disables the adjlon longitude wrap in both directions
        self.over = bool(kw.pop("over", False))
        self._setup(**kw)

    def _setup(self, **kw):
        pass

    def forward(self, lam, phi):
        dl = lam - self.lon_0
        if not self.over:
            dl = np.remainder(dl + np.pi, 2.0 * np.pi) - np.pi
        x, y = self._fwd(dl, phi)
        return x + self.x_0, y + self.y_0

    def inverse(self, x, y):
        lam, phi = self._inv(x - self.x_0, y - self.y_0)
        lam = lam + self.lon_0
        if not self.over:
            lam = np.remainder(lam + np.pi, 2.0 * np.pi) - np.pi
        return lam, phi

    # -- exact rectifying-latitude meridian arc (the same Krueger
    # alpha/beta machinery as tmerc; used by cass and bonne) --

    def _arc_setup(self):
        E = self.E
        n = E.n
        self.A = E.a / (1.0 + n) * (1.0 + n ** 2 / 4
                                    + n ** 4 / 64 + n ** 6 / 256)
        self.alpha = [_polyn(c, n) for c in _ALPHA]
        self.beta = [_polyn(c, n) for c in _BETA]

    def _mdist(self, phi):
        e = self.E.e
        chi = np.arctan(_taupf(np.tan(phi), e))
        mu = chi.copy()
        for j, aj in enumerate(self.alpha, start=1):
            mu = mu + aj * np.sin(2 * j * chi)
        return self.A * mu

    def _footpoint(self, m):
        mu = m / self.A
        chi = mu.copy()
        for j, bj in enumerate(self.beta, start=1):
            chi = chi - bj * np.sin(2 * j * mu)
        return np.arctan(_tauf(np.tan(chi), self.E.e))


class LongLat(Projection):
    name = "longlat"

    def __init__(self, E, **kw):
        super().__init__(E, lon_0=0.0, x_0=0.0, y_0=0.0)

    def _fwd(self, lam, phi):
        return lam, phi

    def _inv(self, x, y):
        return x, y


class WebMercator(Projection):
    """EPSG:3857 — spherical formulas on the WGS84 semi-major axis.
    Golden: (33, 98) -> (10909310.098, 3895303.963)
    (reference pyproj/transformer.py:903-907)."""

    name = "webmerc"
    spherical_factors = True

    def _fwd(self, lam, phi):
        a = self.E.a
        bad = np.abs(phi) > np.pi / 2 - 1e-10  # pole: PROJ errors -> inf
        with np.errstate(divide="ignore", invalid="ignore"):
            y = np.where(bad, np.sign(phi) * np.inf,
                         a * np.arcsinh(np.tan(np.where(bad, 0.0, phi))))
        return a * lam, y

    def _inv(self, x, y):
        a = self.E.a
        return x / a, np.arctan(np.sinh(y / a))


class Mercator(Projection):
    """Ellipsoidal Mercator (PROJ merc). k_0 or lat_ts."""

    name = "merc"

    def _setup(self, k_0=1.0, lat_ts=None, **kw):
        E = self.E
        if lat_ts is not None:
            pts = np.radians(float(lat_ts))
            k_0 = np.cos(pts) / np.sqrt(1.0 - E.e2 * np.sin(pts) ** 2)
        self.k0 = float(k_0)

    def _fwd(self, lam, phi):
        a, e = self.E.a, self.E.e
        bad = np.abs(phi) > np.pi / 2 - 1e-10  # pole: PROJ errors -> inf
        phis = np.where(bad, 0.0, phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            psi = np.arcsinh(np.tan(phis)) - e * np.arctanh(e * np.sin(phis))
            psi = np.where(bad, np.sign(phi) * np.inf, psi)
        return a * self.k0 * lam, a * self.k0 * psi

    def _inv(self, x, y):
        a, e = self.E.a, self.E.e
        taup = np.sinh(y / (a * self.k0))
        return x / (a * self.k0), np.arctan(_tauf(taup, e))


class TransverseMercator(Projection):
    """Exact transverse Mercator (Krüger order-6; Karney 2011). Used for
    UTM (k_0=0.9996, x_0=500000) and national TM grids (e.g. EPSG:2100)."""

    name = "tmerc"

    def _setup(self, k_0=1.0, lat_0=0.0, **kw):
        E = self.E
        n = E.n
        self.k0 = float(k_0)
        self.A = E.a / (1.0 + n) * (1.0 + n ** 2 / 4 + n ** 4 / 64 + n ** 6 / 256)
        self.alpha = [_polyn(c, n) for c in _ALPHA]
        self.beta = [_polyn(c, n) for c in _BETA]
        lat0 = np.radians(float(lat_0))
        if lat0 != 0.0:
            xi0, _ = self._zeta(np.array([0.0]), np.array([lat0]))
            self.m0 = float(self.k0 * self.A * xi0[0])
        else:
            self.m0 = 0.0

    def _zeta(self, dl, phi):
        e = self.E.e
        with np.errstate(divide="ignore", invalid="ignore"):
            taup = _taupf(np.tan(phi), e)
        cl = np.cos(dl)
        xi_p = np.arctan2(taup, cl)
        eta_p = np.arcsinh(np.sin(dl) / np.hypot(taup, cl))
        xi = xi_p.copy()
        eta = eta_p.copy()
        for j, aj in enumerate(self.alpha, start=1):
            xi = xi + aj * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
            eta = eta + aj * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
        return xi, eta

    def _fwd(self, dl, phi):
        xi, eta = self._zeta(dl, phi)
        return self.k0 * self.A * eta, self.k0 * self.A * xi - self.m0

    def _inv(self, x, y):
        e = self.E.e
        xi = (y + self.m0) / (self.k0 * self.A)
        eta = x / (self.k0 * self.A)
        xi_p = xi.copy()
        eta_p = eta.copy()
        for j, bj in enumerate(self.beta, start=1):
            xi_p = xi_p - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
            eta_p = eta_p - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        sh = np.sinh(eta_p)
        taup = np.sin(xi_p) / np.hypot(sh, np.cos(xi_p))
        lam = np.arctan2(sh, np.cos(xi_p))
        phi = np.arctan(_tauf(taup, e))
        return lam, phi


class UTM(TransverseMercator):
    name = "utm"

    def __init__(self, E, zone: int, south: bool = False, **kw):
        super().__init__(E, lon_0=zone * 6 - 183, x_0=500000.0,
                         y_0=10000000.0 if south else 0.0, k_0=0.9996,
                         over=kw.pop("over", False))


class LambertConformalConic(Projection):
    """LCC 1SP/2SP ellipsoidal (Snyder pp. 104-110). EPSG:2263 family."""

    name = "lcc"

    def _setup(self, lat_0=0.0, lat_1=None, lat_2=None, k_0=1.0, **kw):
        E = self.E
        e = E.e
        p0 = np.radians(float(lat_0))
        p1 = np.radians(float(lat_1 if lat_1 is not None else lat_0))

        def m(p):
            return np.cos(p) / np.sqrt(1.0 - E.e2 * np.sin(p) ** 2)

        t0, t1 = _ts(p0, e), _ts(p1, e)
        if lat_2 is not None and float(lat_2) != float(lat_1):
            p2 = np.radians(float(lat_2))
            t2 = _ts(p2, e)
            self.n = (np.log(m(p1)) - np.log(m(p2))) / (np.log(t1) - np.log(t2))
        else:
            self.n = np.sin(p1)
        self.F = float(k_0) * m(p1) / (self.n * t1 ** self.n)
        self.rho0 = E.a * self.F * t0 ** self.n

    def _fwd(self, dl, phi):
        a, e = self.E.a, self.E.e
        t = _ts(phi, e)
        with np.errstate(invalid="ignore"):
            rho = a * self.F * t ** self.n
        th = self.n * dl
        return rho * np.sin(th), self.rho0 - rho * np.cos(th)

    def _inv(self, x, y):
        a, e = self.E.a, self.E.e
        sgn = np.sign(self.n) or 1.0
        rho = sgn * np.hypot(x, self.rho0 - y)
        th = np.arctan2(sgn * x, sgn * (self.rho0 - y))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (rho / (a * self.F)) ** (1.0 / self.n)
        return th / self.n, _phi_from_ts(t, e)


class LambertAzimuthalEqualArea(Projection):
    """LAEA, ellipsoidal via authalic latitude + spherical closed form
    (Snyder pp. 182-190). Oblique/polar aspects."""

    name = "laea"

    def _setup(self, lat_0=0.0, **kw):
        E = self.E
        self.phi0 = np.radians(float(lat_0))
        e = E.e
        if E.is_sphere:
            self.qp = 2.0
        else:
            self.qp = self._q(np.pi / 2)
        self.polar = abs(abs(self.phi0) - np.pi / 2) < 1e-10
        self.north = self.phi0 > 0
        if not self.polar:
            b0 = self._beta(self.phi0)
            self.sinb0, self.cosb0 = np.sin(b0), np.cos(b0)
            self.Rq = E.a * np.sqrt(self.qp / 2.0)
            if E.is_sphere:
                self.D = 1.0
            else:
                m0 = np.cos(self.phi0) / np.sqrt(
                    1.0 - E.e2 * np.sin(self.phi0) ** 2)
                self.D = E.a * m0 / (self.Rq * self.cosb0) \
                    if abs(self.cosb0) > 1e-12 else 1.0

    def _q(self, phi):
        E = self.E
        e, e2 = E.e, E.e2
        s = np.sin(phi)
        if e == 0:
            return 2.0 * s
        return (1.0 - e2) * (s / (1.0 - e2 * s * s)
                             + np.arctanh(e * s) / e)

    def _beta(self, phi):
        return np.arcsin(np.clip(self._q(phi) / self.qp, -1.0, 1.0))

    def _phi_from_q(self, q):
        E = self.E
        e, e2 = E.e, E.e2
        if e == 0:
            return np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
        phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
        for _ in range(10):
            s = np.sin(phi)
            d = ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi) + 1e-300)
                 * (q / (1.0 - e2) - s / (1.0 - e2 * s * s)
                    - np.arctanh(e * s) / e))
            phi = phi + d
        return phi

    def _fwd(self, dl, phi):
        E = self.E
        b = self._beta(phi)
        sb, cb = np.sin(b), np.cos(b)
        sl, cl = np.sin(dl), np.cos(dl)
        if self.polar:
            q = self._q(phi)
            if self.north:
                with np.errstate(invalid="ignore"):
                    rho = E.a * np.sqrt(np.maximum(self.qp - q, 0.0))
                return rho * sl, -rho * cl
            rho = E.a * np.sqrt(np.maximum(self.qp + q, 0.0))
            return rho * sl, rho * cl
        denom = 1.0 + self.sinb0 * sb + self.cosb0 * cb * cl
        with np.errstate(divide="ignore", invalid="ignore"):
            B = self.Rq * np.sqrt(2.0 / denom)
        x = B * self.D * cb * sl
        y = (B / self.D) * (self.cosb0 * sb - self.sinb0 * cb * cl)
        return x, y

    def _inv(self, x, y):
        E = self.E
        if self.polar:
            rho = np.hypot(x, y)
            with np.errstate(invalid="ignore"):
                if self.north:
                    q = self.qp - (rho / E.a) ** 2
                    lam = np.arctan2(x, -y)
                else:
                    q = -(self.qp - (rho / E.a) ** 2)
                    lam = np.arctan2(x, y)
            return lam, self._phi_from_q(q)
        rho = np.hypot(x / self.D, self.D * y)
        with np.errstate(divide="ignore", invalid="ignore"):
            ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * self.Rq), -1.0, 1.0))
            sce, cce = np.sin(ce), np.cos(ce)
            q = self.qp * (cce * self.sinb0
                           + self.D * y * sce * self.cosb0 / np.where(
                               rho == 0, 1.0, rho))
            lam = np.arctan2(x * sce,
                             self.D * rho * self.cosb0 * cce
                             - self.D * self.D * y * self.sinb0 * sce)
        q = np.where(rho == 0, self.qp * self.sinb0, q)
        lam = np.where(rho == 0, 0.0, lam)
        return lam, self._phi_from_q(q)


class AzimuthalEquidistant(Projection):
    """AEQD — ellipsoidal via Karney geodesics, like PROJ's aeqd."""

    name = "aeqd"

    def _setup(self, lat_0=0.0, **kw):
        from pyproj_spark.kernels.geodesic import Geodesic
        self.lat0 = float(lat_0)
        self._geod = Geodesic(self.E)

    def _fwd(self, dl, phi):
        lon = np.degrees(dl)
        lat = np.degrees(phi)
        az1, _, s = self._geod.inverse(
            np.zeros_like(lon), np.full_like(lon, self.lat0), lon, lat)
        azr = np.radians(az1)
        return s * np.sin(azr), s * np.cos(azr)

    def _inv(self, x, y):
        s = np.hypot(x, y)
        az = np.degrees(np.arctan2(x, y))
        lon, lat, _ = self._geod.direct(
            np.zeros_like(s), np.full_like(s, self.lat0), az, s)
        return np.radians(lon), np.radians(lat)


class Stereographic(Projection):
    """Polar/oblique ellipsoidal stereographic (Snyder pp. 154-163)."""

    name = "stere"

    def _setup(self, lat_0=90.0, k_0=1.0, lat_ts=None, **kw):
        E = self.E
        e = E.e
        self.phi0 = np.radians(float(lat_0))
        self.polar = abs(abs(self.phi0) - np.pi / 2) < 1e-10
        self.north = self.phi0 > 0
        k0 = float(k_0)
        if self.polar:
            if lat_ts is not None and abs(abs(float(lat_ts)) - 90.0) > 1e-10:
                pts = np.radians(abs(float(lat_ts)))
                mts = np.cos(pts) / np.sqrt(1.0 - E.e2 * np.sin(pts) ** 2)
                tts = _ts(pts, e)
                k0 = mts * np.sqrt((1.0 + e) ** (1.0 + e)
                                   * (1.0 - e) ** (1.0 - e)) / (2.0 * tts)
            self.k0 = k0
            self.akm = (2.0 * E.a * k0
                        / np.sqrt((1.0 + e) ** (1.0 + e)
                                  * (1.0 - e) ** (1.0 - e)))
        else:
            self.k0 = k0
            chi0 = np.arctan(_taupf(np.tan(self.phi0), e))
            self.schi0, self.cchi0 = np.sin(chi0), np.cos(chi0)
            self.m0 = np.cos(self.phi0) / np.sqrt(
                1.0 - E.e2 * np.sin(self.phi0) ** 2)

    def _fwd(self, dl, phi):
        E = self.E
        e = E.e
        if self.polar:
            sgn = 1.0 if self.north else -1.0
            t = _ts(sgn * phi, e)
            rho = self.akm * t
            return rho * np.sin(dl), -sgn * rho * np.cos(dl)
        chi = np.arctan(_taupf(np.tan(phi), e))
        sc, cc = np.sin(chi), np.cos(chi)
        sl, cl = np.sin(dl), np.cos(dl)
        A = (2.0 * E.a * self.k0 * self.m0
             / (self.cchi0 * (1.0 + self.schi0 * sc
                              + self.cchi0 * cc * cl)))
        return A * cc * sl, A * (self.cchi0 * sc - self.schi0 * cc * cl)

    def _inv(self, x, y):
        E = self.E
        e = E.e
        if self.polar:
            sgn = 1.0 if self.north else -1.0
            rho = np.hypot(x, y)
            t = rho / self.akm
            phi = sgn * _phi_from_ts(t, e)
            lam = np.arctan2(x, -sgn * y)
            return lam, phi
        rho = np.hypot(x, y)
        # Snyder 21-15: ce = 2 atan(rho * cos(chi0) / (2 a k0 m0))
        ce = 2.0 * np.arctan2(rho * self.cchi0, 2.0 * E.a * self.k0 * self.m0)
        sce, cce = np.sin(ce), np.cos(ce)
        safe_rho = np.where(rho == 0, 1.0, rho)
        chi = np.arcsin(np.clip(
            cce * self.schi0 + y * sce * self.cchi0 / safe_rho, -1, 1))
        chi = np.where(rho == 0, np.arcsin(self.schi0), chi)
        lam = np.arctan2(x * sce,
                         safe_rho * self.cchi0 * cce - y * self.schi0 * sce)
        lam = np.where(rho == 0, 0.0, lam)
        phi = np.arctan(_tauf(np.tan(chi), e))
        return lam, phi


class EqualEarth(Projection):
    """eqearth — Equal Earth (Šavrič, Patterson & Jenny 2019; EPSG
    method 1078, EPSG:8857-8859). Ellipsoidal handling as in PROJ:
    authalic latitude + authalic radius, then the published polynomial
    pseudocylindrical form; exactly equal-area by construction."""

    name = "eqearth"

    A1, A2, A3, A4 = 1.340264, -0.081106, 0.000893, 0.003796
    M = np.sqrt(3.0) / 2.0

    def _setup(self, **kw):
        E = self.E
        e, e2 = E.e, E.e2
        if e == 0:
            self.qp = 2.0
        else:
            sp = 1.0
            self.qp = (1.0 - e2) * (sp / (1.0 - e2 * sp * sp)
                                    + np.arctanh(e * sp) / e)
        self.Rq = E.a * np.sqrt(self.qp / 2.0)

    def _beta(self, phi):
        E = self.E
        e, e2 = E.e, E.e2
        if e == 0:
            return phi
        s = np.sin(phi)
        q = (1.0 - e2) * (s / (1.0 - e2 * s * s) + np.arctanh(e * s) / e)
        return np.arcsin(np.clip(q / self.qp, -1.0, 1.0))

    def _poly(self, t):
        """y/theta polynomial and its theta-derivative."""
        t2 = t * t
        t6 = t2 * t2 * t2
        f = self.A1 + self.A2 * t2 + t6 * (self.A3 + self.A4 * t2)
        fp = self.A1 + 3.0 * self.A2 * t2 \
            + t6 * (7.0 * self.A3 + 9.0 * self.A4 * t2)
        return f, fp

    def _fwd(self, dl, phi):
        beta = self._beta(phi)
        theta = np.arcsin(self.M * np.sin(beta))
        f, fp = self._poly(theta)
        x = self.Rq * dl * np.cos(theta) / (self.M * fp)
        y = self.Rq * theta * f
        return x, y

    def _inv(self, x, y):
        E = self.E
        e, e2 = E.e, E.e2
        # Newton for theta from y = Rq * theta * f(theta)
        yr = y / self.Rq
        theta = np.clip(yr / self.A1, -np.pi / 2, np.pi / 2)
        for _ in range(12):
            f, fp = self._poly(theta)
            theta = theta - (theta * f - yr) / np.maximum(fp, 1e-12)
        f, fp = self._poly(theta)
        dl = self.M * x * fp / (self.Rq * np.cos(theta))
        beta = np.arcsin(np.clip(np.sin(theta) / self.M, -1.0, 1.0))
        if e == 0:
            return dl, beta
        q = self.qp * np.sin(beta)
        phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
        for _ in range(10):
            s = np.sin(phi)
            d = ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi) + 1e-300)
                 * (q / (1.0 - e2) - s / (1.0 - e2 * s * s)
                    - np.arctanh(e * s) / e))
            phi = phi + d
        return dl, phi


class ObliqueStereographicAlternative(Projection):
    """sterea — EPSG method 9809 "Oblique Stereographic": double
    projection through a conformal sphere (Gauss sphere at lat_0),
    then spherical oblique stereographic. This is PROJ's ``sterea``
    (distinct from ``stere``'s direct Snyder oblique form) and the
    projection of Amersfoort / RD New (EPSG:28992). Formulas from
    EPSG Guidance Note 7-2 §"Oblique and Equatorial Stereographic".
    Reference surfaces the method through proj=sterea CRS strings
    (pyproj/crs/crs.py CRS.from_proj4)."""

    name = "sterea"

    def _setup(self, lat_0=0.0, k_0=1.0, **kw):
        E = self.E
        e, e2 = E.e, E.e2
        phi0 = np.radians(float(lat_0))
        self.k0 = float(k_0)
        s0, c0 = np.sin(phi0), np.cos(phi0)
        # Gauss (conformal) sphere constants at the origin
        rho0 = E.a * (1.0 - e2) / (1.0 - e2 * s0 * s0) ** 1.5
        nu0 = E.a / np.sqrt(1.0 - e2 * s0 * s0)
        self.R = np.sqrt(rho0 * nu0)
        self.n = np.sqrt(1.0 + e2 * c0 ** 4 / (1.0 - e2))
        S1 = (1.0 + s0) / (1.0 - s0)
        S2 = (1.0 - e * s0) / (1.0 + e * s0)
        w1 = (S1 * S2 ** e) ** self.n
        sin_chi00 = (w1 - 1.0) / (w1 + 1.0)
        self.c = ((self.n + s0) * (1.0 - sin_chi00)
                  / ((self.n - s0) * (1.0 + sin_chi00)))
        w2 = self.c * w1
        chi0 = np.arcsin((w2 - 1.0) / (w2 + 1.0))
        self.schi0, self.cchi0 = np.sin(chi0), np.cos(chi0)

    def _conformal(self, phi):
        """Ellipsoidal latitude -> conformal-sphere latitude chi."""
        e = self.E.e
        sp = np.sin(phi)
        Sa = (1.0 + sp) / (1.0 - sp)
        Sb = (1.0 - e * sp) / (1.0 + e * sp)
        w = self.c * (Sa * Sb ** e) ** self.n
        return np.arcsin(np.clip((w - 1.0) / (w + 1.0), -1.0, 1.0))

    def _fwd(self, dl, phi):
        L = self.n * dl  # conformal-sphere longitude offset
        chi = self._conformal(phi)
        sc, cc = np.sin(chi), np.cos(chi)
        sl, cl = np.sin(L), np.cos(L)
        B = 1.0 + sc * self.schi0 + cc * self.cchi0 * cl
        f = 2.0 * self.R * self.k0 / B
        return f * cc * sl, f * (sc * self.cchi0 - cc * self.schi0 * cl)

    def _inv(self, x, y):
        e = self.E.e
        # invert the spherical oblique stereographic to (chi, L)
        rho = np.hypot(x, y)
        ce = 2.0 * np.arctan2(rho, 2.0 * self.R * self.k0)
        sce, cce = np.sin(ce), np.cos(ce)
        safe_rho = np.where(rho == 0, 1.0, rho)
        chi = np.arcsin(np.clip(
            cce * self.schi0 + y * sce * self.cchi0 / safe_rho, -1, 1))
        chi = np.where(rho == 0, np.arcsin(np.clip(self.schi0, -1, 1)),
                       chi)
        L = np.arctan2(x * sce,
                       safe_rho * self.cchi0 * cce - y * self.schi0 * sce)
        L = np.where(rho == 0, 0.0, L)
        # invert the conformal mapping: from
        # w = (1+sin chi)/(1-sin chi) = c*(Sa*Sb^e)^n and
        # ln(Sa*Sb^e) = 2*psi (isometric latitude), psi = -ln ts
        sc = np.sin(chi)
        psi = (np.log((1.0 + sc) / np.maximum(1.0 - sc, 1e-300) / self.c)
               / (2.0 * self.n))
        phi = _phi_from_ts(np.exp(-psi), e)
        return L / self.n, phi


class EquidistantCylindrical(Projection):
    """eqc / Plate Carrée — spherical formulas like PROJ."""

    name = "eqc"
    spherical_factors = True

    def _setup(self, lat_ts=0.0, lat_0=0.0, **kw):
        self.cos_ts = np.cos(np.radians(float(lat_ts)))
        self.lat0 = np.radians(float(lat_0))

    def _fwd(self, dl, phi):
        a = self.E.a
        return a * dl * self.cos_ts, a * (phi - self.lat0)

    def _inv(self, x, y):
        a = self.E.a
        return x / (a * self.cos_ts), y / a + self.lat0


class Sinusoidal(Projection):
    """Sinusoidal (ellipsoidal, Snyder pp. 243-248) — equal-area."""

    name = "sinu"

    def _setup(self, **kw):
        E = self.E
        e2 = E.e2
        # meridian-arc series (same rectifying machinery as TM)
        n = E.n
        self.A = E.a / (1.0 + n) * (1.0 + n ** 2 / 4 + n ** 4 / 64 + n ** 6 / 256)
        self.alpha = [_polyn(c, n) for c in _ALPHA]
        self.beta = [_polyn(c, n) for c in _BETA]

    def _mdist(self, phi):
        # meridian arc via rectifying latitude: m = A * mu(phi);
        # mu = chi + sum alpha sin(2 j chi) evaluated through TM xi at lam=0
        e = self.E.e
        chi = np.arctan(_taupf(np.tan(phi), e))
        mu = chi.copy()
        for j, aj in enumerate(self.alpha, start=1):
            mu = mu + aj * np.sin(2 * j * chi)
        return self.A * mu

    def _fwd(self, dl, phi):
        E = self.E
        s = np.sin(phi)
        x = E.a * dl * np.cos(phi) / np.sqrt(1.0 - E.e2 * s * s)
        return x, self._mdist(phi)

    def _inv(self, x, y):
        E = self.E
        mu = y / self.A
        chi = mu.copy()
        for j, bj in enumerate(self.beta, start=1):
            chi = chi - bj * np.sin(2 * j * mu)
        phi = np.arctan(_tauf(np.tan(chi), E.e))
        s = np.sin(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            dl = x * np.sqrt(1.0 - E.e2 * s * s) / (E.a * np.cos(phi))
        return dl, phi


class HotineObliqueMercator(Projection):
    """omerc variant B (EPSG 9815: center + azimuth + k_0), Snyder
    pp. 70-75. Validated by roundtrip, conformality (h == k), and
    scale k == k_0 at the projection center."""

    name = "omerc"

    def _setup(self, lat_0=0.0, alpha=90.0, gamma=None, k_0=1.0,
               lonc=None, no_uoff=False, **kw):
        E = self.E
        e, e2 = E.e, E.e2
        phi0 = np.radians(float(lat_0))
        alphac = np.radians(float(alpha))
        self.gammac = np.radians(float(gamma)) if gamma is not None \
            else alphac
        # lon_c rides in via lon_0 (PROJ's +lonc maps to the center lon)
        lonc_r = np.radians(float(lonc)) if lonc is not None else 0.0
        sphi0, cphi0 = np.sin(phi0), np.cos(phi0)
        self.B = np.sqrt(1.0 + e2 * cphi0 ** 4 / (1.0 - e2))
        self.A = (E.a * self.B * float(k_0) * np.sqrt(1.0 - e2)
                  / (1.0 - e2 * sphi0 ** 2))
        t0 = _ts(phi0, e)
        D = (self.B * np.sqrt(1.0 - e2)
             / (cphi0 * np.sqrt(1.0 - e2 * sphi0 ** 2)))
        D2 = max(D * D, 1.0)
        sgn = 1.0 if phi0 >= 0 else -1.0
        Fc = D + np.sqrt(D2 - 1.0) * sgn
        self.E_ = Fc * t0 ** self.B
        G = (Fc - 1.0 / Fc) / 2.0
        self.g0 = np.arcsin(np.clip(np.sin(alphac) / D, -1.0, 1.0))
        self.sg0, self.cg0 = np.sin(self.g0), np.cos(self.g0)
        # lam0 relative to the center longitude (lon_0 handles absolute)
        self.lam0 = lonc_r - np.arcsin(
            np.clip(G * np.tan(self.g0), -1.0, 1.0)) / self.B
        if no_uoff:
            self.uc = 0.0
        else:
            self.uc = ((self.A / self.B)
                       * np.arctan2(np.sqrt(D2 - 1.0), np.cos(alphac))
                       * sgn)

    def _fwd(self, dl, phi):
        e = self.E.e
        with np.errstate(all="ignore"):
            t = _ts(phi, e)
            Q = self.E_ / t ** self.B
            S = (Q - 1.0 / Q) / 2.0
            T = (Q + 1.0 / Q) / 2.0
            Bl = self.B * (dl - self.lam0)
            V = np.sin(Bl)
            U = (-V * self.cg0 + S * self.sg0) / T
            v = self.A * np.log((1.0 - U) / (1.0 + U)) / (2.0 * self.B)
            u = self.A * np.arctan2(S * self.cg0 + V * self.sg0,
                                    np.cos(Bl)) / self.B - self.uc
            cg, sg = np.cos(self.gammac), np.sin(self.gammac)
            x = v * cg + u * sg
            y = u * cg - v * sg
        return x, y

    def _inv(self, x, y):
        e = self.E.e
        with np.errstate(all="ignore"):
            cg, sg = np.cos(self.gammac), np.sin(self.gammac)
            v = x * cg - y * sg
            u = y * cg + x * sg + self.uc
            Qp = np.exp(-self.B * v / self.A)
            Sp = (Qp - 1.0 / Qp) / 2.0
            Tp = (Qp + 1.0 / Qp) / 2.0
            Vp = np.sin(self.B * u / self.A)
            Up = (Vp * self.cg0 + Sp * self.sg0) / Tp
            t = (self.E_ / np.sqrt((1.0 + Up) / (1.0 - Up))) ** (1.0 / self.B)
            phi = _phi_from_ts(t, e)
            lam = self.lam0 - np.arctan2(
                Sp * self.cg0 - Vp * self.sg0,
                np.cos(self.B * u / self.A)) / self.B
        return lam, phi


def _authalic_q(E: Ellipsoid, phi):
    """Snyder's q(phi) (eq. 3-12) — shared by laea/aea/cea."""
    e, e2 = E.e, E.e2
    s = np.sin(phi)
    if e == 0:
        return 2.0 * s
    return (1.0 - e2) * (s / (1.0 - e2 * s * s) + np.arctanh(e * s) / e)


def _phi_from_q_iter(E: Ellipsoid, q):
    """Invert q(phi) by Snyder 3-16 iteration — shared by laea/aea/cea."""
    e, e2 = E.e, E.e2
    if e == 0:
        return np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    qp = _authalic_q(E, np.pi / 2)
    phi = np.arcsin(np.clip(q / qp, -1.0, 1.0))
    for _ in range(10):
        s = np.sin(phi)
        # Snyder 3-16
        d = ((1.0 - e2 * s * s) ** 2 / (2.0 * np.cos(phi) + 1e-300)
             * (q / (1.0 - e2) - s / (1.0 - e2 * s * s)
                - np.arctanh(e * s) / e))
        phi = phi + d
    return phi


class AlbersEqualArea(Projection):
    """aea — Albers equal-area conic, ellipsoidal (Snyder pp. 98-103)."""

    name = "aea"

    def _setup(self, lat_0=0.0, lat_1=29.5, lat_2=None, **kw):
        E = self.E
        p0 = np.radians(float(lat_0))
        p1 = np.radians(float(lat_1))

        def m(p):
            return np.cos(p) / np.sqrt(1.0 - E.e2 * np.sin(p) ** 2)

        q0, q1 = _authalic_q(E, p0), _authalic_q(E, p1)
        if lat_2 is not None and float(lat_2) != float(lat_1):
            p2 = np.radians(float(lat_2))
            q2 = _authalic_q(E, p2)
            self.n = (m(p1) ** 2 - m(p2) ** 2) / (q2 - q1)
        else:
            self.n = np.sin(p1)
        self.C = m(p1) ** 2 + self.n * q1
        self.rho0 = E.a * np.sqrt(self.C - self.n * q0) / self.n

    def _fwd(self, dl, phi):
        E = self.E
        q = _authalic_q(E, phi)
        with np.errstate(invalid="ignore"):
            rho = E.a * np.sqrt(np.maximum(self.C - self.n * q, 0.0)) / self.n
        th = self.n * dl
        return rho * np.sin(th), self.rho0 - rho * np.cos(th)

    def _inv(self, x, y):
        E = self.E
        sgn = 1.0 if self.n >= 0 else -1.0
        rho = sgn * np.hypot(x, self.rho0 - y)
        th = np.arctan2(sgn * x, sgn * (self.rho0 - y))
        q = (self.C - (rho * self.n / E.a) ** 2) / self.n
        return th / self.n, _phi_from_q_iter(E, q)


class CylindricalEqualArea(Projection):
    """cea — Lambert cylindrical equal-area, ellipsoidal (Snyder
    pp. 76-85)."""

    name = "cea"

    def _setup(self, lat_ts=0.0, k_0=None, **kw):
        E = self.E
        if k_0 is None:
            pts = np.radians(float(lat_ts))
            k_0 = np.cos(pts) / np.sqrt(1.0 - E.e2 * np.sin(pts) ** 2)
        self.k0 = float(k_0)

    def _fwd(self, dl, phi):
        E = self.E
        q = _authalic_q(E, phi)
        return E.a * self.k0 * dl, E.a * q / (2.0 * self.k0)

    def _inv(self, x, y):
        E = self.E
        q = 2.0 * y * self.k0 / E.a
        return x / (E.a * self.k0), _phi_from_q_iter(E, q)


class Orthographic(Projection):
    """ortho — orthographic, spherical formulas (Snyder pp. 145-153);
    far hemisphere -> inf."""

    name = "ortho"

    def _setup(self, lat_0=0.0, **kw):
        self.phi0 = np.radians(float(lat_0))
        self.s0, self.c0 = np.sin(self.phi0), np.cos(self.phi0)

    def _fwd(self, dl, phi):
        a = self.E.a
        cosc = (self.s0 * np.sin(phi)
                + self.c0 * np.cos(phi) * np.cos(dl))
        hidden = cosc < -1e-12
        x = a * np.cos(phi) * np.sin(dl)
        y = a * (self.c0 * np.sin(phi) - self.s0 * np.cos(phi) * np.cos(dl))
        return (np.where(hidden, np.inf, x), np.where(hidden, np.inf, y))

    def _inv(self, x, y):
        a = self.E.a
        rho = np.hypot(x, y)
        with np.errstate(invalid="ignore"):
            c = np.arcsin(np.clip(rho / a, -1.0, 1.0))
            sc, cc = np.sin(c), np.cos(c)
            safe = np.where(rho == 0, 1.0, rho)
            phi = np.arcsin(np.clip(cc * self.s0 + y * sc * self.c0 / safe,
                                    -1, 1))
            lam = np.arctan2(x * sc,
                             safe * self.c0 * cc - y * self.s0 * sc)
        phi = np.where(rho == 0, self.phi0, phi)
        lam = np.where(rho == 0, 0.0, lam)
        return lam, phi


class VerticalPerspective(Projection):
    """nsper — near-sided vertical perspective, spherical (Snyder
    pp. 173-178)."""

    name = "nsper"

    def _setup(self, lat_0=0.0, h=35785831.0, **kw):
        self.phi0 = np.radians(float(lat_0))
        self.s0, self.c0 = np.sin(self.phi0), np.cos(self.phi0)
        self.P = 1.0 + float(h) / self.E.a

    def _fwd(self, dl, phi):
        a = self.E.a
        cosc = (self.s0 * np.sin(phi)
                + self.c0 * np.cos(phi) * np.cos(dl))
        hidden = cosc < 1.0 / self.P
        with np.errstate(all="ignore"):
            kp = (self.P - 1.0) / (self.P - cosc)
            x = a * kp * np.cos(phi) * np.sin(dl)
            y = a * kp * (self.c0 * np.sin(phi)
                          - self.s0 * np.cos(phi) * np.cos(dl))
        return (np.where(hidden, np.inf, x), np.where(hidden, np.inf, y))

    def _inv(self, x, y):
        a = self.E.a
        P = self.P
        rho = np.hypot(x, y) / a
        with np.errstate(all="ignore"):
            # Snyder 23-19: sin(c) from the perspective quadratic
            num = P - np.sqrt(np.maximum(
                1.0 - rho * rho * (P + 1.0) / (P - 1.0), 0.0))
            den = (P - 1.0) / rho + rho / (P - 1.0)
            sc = np.where(rho == 0, 0.0, num / np.where(den == 0, 1.0, den))
            cc = np.sqrt(np.maximum(1.0 - sc * sc, 0.0))
            safe = np.where(rho == 0, 1.0, rho)
            phi = np.arcsin(np.clip(
                cc * self.s0 + (y / a) * sc * self.c0 / safe, -1, 1))
            lam = np.arctan2((x / a) * sc,
                             safe * self.c0 * cc - (y / a) * self.s0 * sc)
        phi = np.where(rho == 0, self.phi0, phi)
        lam = np.where(rho == 0, 0.0, lam)
        return lam, phi


class RotatedLatLon(Projection):
    """ob_tran o_proj=longlat — rotated-pole lat/lon grid (the CF
    rotated_latitude_longitude / reference RotatedLatLon builder).
    Output 'x/y' are rotated lon/lat in RADIANS times a (PROJ keeps
    angular output for +o_proj=longlat; we scale by a like PROJ's
    to-meter convention for ob_tran in metres).

    Conventions match PROJ's ob_tran o_forward/o_inverse exactly:
    o_lat_p is the true latitude of the rotated pole; the rotated
    pole's TRUE longitude is lon_0 - 180 (hence the CF mapping
    lon_0 = grid_north_pole_longitude + 180); o_lon_p is an OUTPUT-side
    rotated-longitude offset (CF north_pole_grid_longitude)."""

    name = "ob_tran"

    def _setup(self, o_lat_p=90.0, o_lon_p=0.0, **kw):
        self.pla = np.radians(float(o_lat_p))
        self.plo = np.radians(float(o_lon_p))
        self.sp, self.cp = np.sin(self.pla), np.cos(self.pla)

    def _fwd(self, dl, phi):
        # true (dl, phi) -> rotated; dl is relative to lon_0 already
        sp, cp = self.sp, self.cp
        cosl = np.cos(dl)
        sphi, cphi = np.sin(phi), np.cos(phi)
        phi_r = np.arcsin(np.clip(sp * sphi - cp * cphi * cosl,
                                  -1.0, 1.0))
        lam_r = np.arctan2(cphi * np.sin(dl),
                           sp * cphi * cosl + cp * sphi) + self.plo
        lam_r = np.remainder(lam_r + np.pi, 2.0 * np.pi) - np.pi
        return self.E.a * lam_r, self.E.a * phi_r

    def _inv(self, x, y):
        sp, cp = self.sp, self.cp
        lam_r = x / self.E.a - self.plo
        phi_r = y / self.E.a
        s, c = np.sin(phi_r), np.cos(phi_r)
        cosl = np.cos(lam_r)
        phi = np.arcsin(np.clip(sp * s + cp * c * cosl, -1.0, 1.0))
        dl = np.arctan2(c * np.sin(lam_r), sp * c * cosl - cp * s)
        return dl, phi


class Geostationary(Projection):
    """geos — geostationary satellite view (derived from the view
    geometry; conventions match PROJ/EUMETSAT CGMS: scan angles x
    sweep-dependent, scaled by satellite height). Points on the far side
    of the globe -> inf (in-band error)."""

    name = "geos"

    def _setup(self, h=35785831.0, sweep="y", **kw):
        E = self.E
        self.h = float(h)
        self.sweep = str(sweep)
        self.rg = 1.0 + self.h / E.a          # satellite radius, units of a
        self.rp = E.b / E.a
        self.rp2 = self.rp * self.rp

    def _fwd(self, dl, phi):
        E = self.E
        with np.errstate(all="ignore"):
            phic = np.arctan(self.rp2 * np.tan(phi))
            cc, sc = np.cos(phic), np.sin(phic)
            re = self.rp / np.hypot(self.rp * cc, sc)
            Vx = re * cc * np.cos(dl)
            Vy = re * cc * np.sin(dl)
            Vz = re * sc
            tmp = self.rg - Vx
            # visibility: satellite must see the point (PROJ's test)
            hidden = ((self.rg - Vx) * Vx - Vy * Vy
                      - Vz * Vz / self.rp2) < 0.0
            if self.sweep == "x":
                x = self.h * np.arctan(Vy / np.hypot(Vz, tmp))
                y = self.h * np.arctan(Vz / tmp)
            else:
                x = self.h * np.arctan(Vy / tmp)
                y = self.h * np.arctan(Vz / np.hypot(Vy, tmp))
            x = np.where(hidden, np.inf, x)
            y = np.where(hidden, np.inf, y)
        return x, y

    def _inv(self, x, y):
        with np.errstate(all="ignore"):
            ax = x / self.h
            ay = y / self.h
            if self.sweep == "x":
                dy = np.tan(ax) / np.cos(ay)
                dz = np.tan(ay)
            else:
                dy = np.tan(ax)
                dz = np.tan(ay) / np.cos(ax)
            # ray P = S + s*(-1, dy, dz) from S = (rg, 0, 0); intersect
            # the normalized ellipsoid u^2 + v^2 + (w/rp)^2 = 1
            a_ = 1.0 + dy * dy + dz * dz / self.rp2
            b_ = -2.0 * self.rg
            c_ = self.rg * self.rg - 1.0
            disc = b_ * b_ - 4.0 * a_ * c_
            s = (-b_ - np.sqrt(disc)) / (2.0 * a_)
            Px = self.rg - s
            Py = s * dy
            Pz = s * dz
            lam = np.arctan2(Py, Px)
            phi = np.arctan(Pz / (self.rp2 * np.hypot(Px, Py)))
        return lam, phi


class Polyconic(Projection):
    """American Polyconic (ellipsoidal, Snyder 1987 pp. 124-131,
    eqs. 18-12..18-22). Central meridian true to scale (y follows the
    meridian arc); each parallel is a non-concentric circular arc with
    radius N·cotφ. Inverse is Snyder's Newton iteration (18-21)."""

    name = "poly"

    def _setup(self, lat_0=0.0, **kw):
        E = self.E
        n = E.n
        self.A = E.a / (1.0 + n) * (1.0 + n ** 2 / 4 + n ** 4 / 64
                                    + n ** 6 / 256)
        self.alpha = [_polyn(c, n) for c in _ALPHA]
        self.beta = [_polyn(c, n) for c in _BETA]
        self.lat_0 = np.radians(float(lat_0))
        self.M0 = float(self._mdist(np.array([self.lat_0]))[0])

    # same verified rectifying-latitude meridian arc as Sinusoidal, but
    # branch-UNWRAPPED (chi(phi + k*pi) = chi(phi) + k*pi): the inverse
    # Newton may step outside +-90 deg transiently, and an aliased arc
    # length there would make it converge to a mirrored root
    def _mdist(self, phi):
        e = self.E.e
        k = np.round(phi / np.pi)
        phir = phi - k * np.pi
        chi = np.arctan(_taupf(np.tan(phir), e)) + k * np.pi
        mu = chi.copy()
        for j, aj in enumerate(self.alpha, start=1):
            mu = mu + aj * np.sin(2 * j * chi)
        return self.A * mu

    def _fwd(self, dl, phi):
        E = self.E
        s = np.sin(phi)
        c = np.cos(phi)
        flat = np.abs(s) < 1e-12
        s_safe = np.where(flat, 1.0, s)
        N = E.a / np.sqrt(1.0 - E.e2 * s * s)
        cot = c / s_safe
        Ep = dl * s
        x = np.where(flat, E.a * dl, N * cot * np.sin(Ep))
        # 2 sin^2(E'/2), NOT 1 - cos(E'): near the equator E' ~ dl*phi
        # is tiny and the direct form cancels to ~7% relative error,
        # which no inverse can undo
        y = np.where(flat, -self.M0,
                     self._mdist(phi) - self.M0 + N * cot
                     * 2.0 * np.sin(Ep / 2.0) ** 2)
        return x, y

    def _inv(self, x, y):
        E = self.E
        a = E.a
        e2 = E.e2
        A = (self.M0 + y) / a
        B = (x / a) ** 2 + A * A
        flat = np.abs(A) < 1e-12

        # Root of Snyder's f(phi) (18-19 basis) by vectorized bisection:
        # f -> +inf at -pi/2 and -inf at +pi/2 (its tan-phi coefficient
        # is -[(Ma-A)^2 + (x/a)^2]/2 <= 0), so a bracketed root always
        # exists and bisection cannot diverge — raw Newton from the
        # Snyder seed phi_1 = A goes chaotic for near-pole y values.
        def f(phi):
            s = np.sin(phi)
            C = np.sqrt(1.0 - e2 * s * s) * np.tan(phi)
            Ma = self._mdist(phi) / a
            return A * (C * Ma + 1.0) - Ma - 0.5 * (Ma * Ma + B) * C

        lo = np.full_like(A, -np.pi / 2 + 1e-9)
        hi = np.full_like(A, np.pi / 2 - 1e-9)
        flo = f(lo)
        with np.errstate(invalid="ignore", divide="ignore"):
            # 40 rounds localize to ~1.4e-12 rad: Newton alone cannot
            # polish near the equator where Snyder's equation is
            # ill-conditioned (C -> 0), so the bracket must carry the
            # accuracy there; Newton below supplies the last digits in
            # the well-conditioned interior
            for _ in range(40):
                mid = 0.5 * (lo + hi)
                fm = f(mid)
                take_lo = (flo > 0) == (fm > 0)
                lo = np.where(take_lo, mid, lo)
                flo = np.where(take_lo, fm, flo)
                hi = np.where(take_lo, hi, mid)
            phi = 0.5 * (lo + hi)
            # near-equator branch: Snyder's equation loses ~eps/phi^2 of
            # relative accuracy as phi -> 0 (C -> 0 cancellation), but
            # there the series solution is exact to O(phi^3):
            #   x ~ a*dlam,  y + M0 - M(phi) ~ N*dlam^2*phi/2
            #   => phi = A / ((1 - e2) + dlam^2/2),  dlam^2 = B - A^2
            small = np.abs(A) < 1e-4
            phi_series = A / ((1.0 - e2)
                              + np.maximum(B - A * A, 0.0) / 2.0)
            # polish with bracket-clipped Newton (Snyder 18-21): from a
            # localized seed it is quadratic; the clip keeps it safe
            for _ in range(2):
                s = np.sin(phi)
                s2 = np.where(np.abs(np.sin(2 * phi)) < 1e-300, 1e-300,
                              np.sin(2 * phi))
                C = np.sqrt(1.0 - e2 * s * s) * np.tan(phi)
                Ma = self._mdist(phi) / a
                Mp = (1.0 - e2) / np.power(1.0 - e2 * s * s, 1.5)
                num = A * (C * Ma + 1.0) - Ma - 0.5 * (Ma * Ma + B) * C
                den = (e2 * s2 * (Ma * Ma + B - 2.0 * A * Ma) / (4.0 * C)
                       + (A - Ma) * (C * Mp - 2.0 / s2) - Mp)
                phi = np.clip(phi - num / den, lo, hi)
            # the series value wins where the iteration is
            # ill-conditioned (Newton/bisection can't do better there)
            phi = np.where(small, phi_series, phi)
        s = np.sin(phi)
        C = np.sqrt(1.0 - e2 * s * s) * np.tan(phi)
        s_safe = np.where(np.abs(s) < 1e-12, 1.0, s)
        with np.errstate(invalid="ignore"):
            dl = np.arcsin(np.clip(x * C / a, -1.0, 1.0)) / s_safe
        dl = np.where(flat, x / a, dl)
        phi = np.where(flat, 0.0, phi)
        return dl, phi


class SwissObliqueMercator(Projection):
    """Swiss oblique Mercator (PROJ ``somerc``; Rosenmund 1903): the
    double projection — ellipsoid to the Gauss conformal sphere at
    lat_0, rotate the center to the pseudo-equator, then equatorial
    spherical Mercator. Formulas are swisstopo's published "Formulas
    and constants for the calculation of the Swiss conformal
    cylindrical projection" (public). Used by EPSG:21781 (CH1903 /
    LV03) and EPSG:2056 (CH1903+ / LV95). The forward is fully
    closed-form; the inverse latitude is the standard conformal
    fixed-point (contraction ~e^2 per pass).
    Reference scope: pyproj/crs/_cf1x8.py has no CF mapping for
    somerc; parity target is Transformer.from_crs(4149, 21781)."""

    name = "somerc"

    def _setup(self, lat_0=0.0, k_0=1.0, **kw):
        E = self.E
        e2, e = E.e2, E.e
        phi0 = np.radians(float(lat_0))
        s0, c0 = np.sin(phi0), np.cos(phi0)
        self.alpha = np.sqrt(1.0 + e2 / (1.0 - e2) * c0 ** 4)
        self.R = (float(k_0) * E.a * np.sqrt(1.0 - e2)
                  / (1.0 - e2 * s0 * s0))
        self.b0 = np.arcsin(s0 / self.alpha)
        self.K = (np.log(np.tan(np.pi / 4 + self.b0 / 2))
                  - self.alpha * np.log(np.tan(np.pi / 4 + phi0 / 2))
                  + self.alpha * e / 2
                  * np.log((1 + e * s0) / (1 - e * s0)))

    def _fwd(self, lam, phi):
        e = self.E.e
        bad = np.abs(phi) > np.pi / 2 - 1e-10
        phis = np.where(bad, 0.0, phi)
        sp = np.sin(phis)
        S = (self.alpha * np.log(np.tan(np.pi / 4 + phis / 2))
             - self.alpha * e / 2 * np.log((1 + e * sp) / (1 - e * sp))
             + self.K)
        b = 2.0 * (np.arctan(np.exp(S)) - np.pi / 4)
        b = np.where(bad, np.sign(phi) * np.pi / 2, b)
        ln = self.alpha * lam
        sb0, cb0 = np.sin(self.b0), np.cos(self.b0)
        sb, cb = np.sin(b), np.cos(b)
        sbb = np.clip(cb0 * sb - sb0 * cb * np.cos(ln), -1.0, 1.0)
        ll = np.arctan2(cb * np.sin(ln), cb0 * cb * np.cos(ln) + sb0 * sb)
        with np.errstate(divide="ignore"):
            y = self.R / 2.0 * np.log((1.0 + sbb) / (1.0 - sbb))
        return self.R * ll, y

    def _inv(self, x, y):
        e = self.E.e
        bb = 2.0 * (np.arctan(np.exp(y / self.R)) - np.pi / 4)
        ll = x / self.R
        sb0, cb0 = np.sin(self.b0), np.cos(self.b0)
        sbb, cbb = np.sin(bb), np.cos(bb)
        b = np.arcsin(np.clip(cb0 * sbb + sb0 * cbb * np.cos(ll),
                              -1.0, 1.0))
        lam = np.arctan2(cbb * np.sin(ll),
                         cb0 * cbb * np.cos(ll) - sb0 * sbb) / self.alpha
        base = (np.log(np.tan(np.pi / 4 + b / 2)) - self.K) / self.alpha
        phi = b
        for _ in range(8):
            phi = (2.0 * np.arctan(np.exp(
                base + e * np.arctanh(e * np.sin(phi)))) - np.pi / 2)
        return lam, phi


class Mollweide(Projection):
    """Mollweide (spherical, Snyder pp. 251-252) — equal-area
    pseudocylindrical; PROJ moll treats the ellipsoid as a sphere of
    radius a. Golden: R=1, lon_0=-90, (50N, 75W) ->
    (0.1788845, 0.9208758) (Snyder numerical example; theta converges
    to 0.7091086 rad)."""

    name = "moll"
    spherical_factors = True

    def _fwd(self, dl, phi):
        a = self.E.a
        # 2*theta + sin(2*theta) = pi * sin(phi), Newton on t = 2*theta
        rhs = np.pi * np.sin(phi)
        t = 2.0 * np.arcsin(np.clip(rhs / np.pi, -1.0, 1.0))
        for _ in range(10):
            f = t + np.sin(t) - rhs
            t = t - f / np.maximum(1.0 + np.cos(t), 1e-14)
        th = t / 2.0
        sqrt2 = np.sqrt(2.0)
        return (2.0 * sqrt2 / np.pi * a * dl * np.cos(th),
                sqrt2 * a * np.sin(th))

    def _inv(self, x, y):
        a = self.E.a
        sqrt2 = np.sqrt(2.0)
        th = np.arcsin(np.clip(y / (sqrt2 * a), -1.0, 1.0))
        phi = np.arcsin(np.clip((2.0 * th + np.sin(2.0 * th)) / np.pi,
                                -1.0, 1.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            dl = np.pi * x / (2.0 * sqrt2 * a * np.cos(th))
        return dl, phi


class MillerCylindrical(Projection):
    """Miller cylindrical (spherical, Snyder pp. 86-89):
    y = R ln(tan(pi/4 + 0.4 phi)) / 0.8."""

    name = "mill"
    spherical_factors = True

    def _fwd(self, dl, phi):
        a = self.E.a
        return a * dl, a * np.arcsinh(np.tan(0.8 * phi)) / 0.8

    def _inv(self, x, y):
        a = self.E.a
        return x / a, np.arctan(np.sinh(0.8 * y / a)) / 0.8


class Gnomonic(Projection):
    """Gnomonic (spherical, Snyder pp. 164-168): every great circle
    maps to a straight line (validated by the collinearity property
    test). Points on or past the horizon (cos c <= 0) -> inf."""

    name = "gnom"
    spherical_factors = True

    def _setup(self, lat_0=0.0, **kw):
        p0 = np.radians(float(lat_0))
        self.sp0, self.cp0 = np.sin(p0), np.cos(p0)

    def _fwd(self, dl, phi):
        a = self.E.a
        sp, cp = np.sin(phi), np.cos(phi)
        cosc = self.sp0 * sp + self.cp0 * cp * np.cos(dl)
        with np.errstate(divide="ignore", invalid="ignore"):
            k = np.where(cosc > 1e-10, 1.0 / cosc, np.inf)
        return (a * k * cp * np.sin(dl),
                a * k * (self.cp0 * sp - self.sp0 * cp * np.cos(dl)))

    def _inv(self, x, y):
        a = self.E.a
        rho = np.hypot(x, y)
        c = np.arctan(rho / a)
        sc, cc = np.sin(c), np.cos(c)
        with np.errstate(divide="ignore", invalid="ignore"):
            phi = np.where(
                rho < 1e-10, np.arcsin(np.clip(self.sp0, -1, 1)),
                np.arcsin(np.clip(cc * self.sp0 + y * sc * self.cp0
                                  / np.where(rho < 1e-10, 1.0, rho),
                                  -1.0, 1.0)))
            dl = np.arctan2(x * sc, rho * self.cp0 * cc
                            - y * self.sp0 * sc)
            dl = np.where(rho < 1e-10, 0.0, dl)
        return dl, phi


class Cassini(Projection):
    """Cassini-Soldner (ellipsoidal, Snyder pp. 92-95, eq. 8-13..8-17;
    PROJ cass). The meridian arc M uses the engine's exact
    rectifying-latitude series (the same Krueger machinery as tmerc,
    exact to the alpha/beta order) instead of Snyder's truncated
    3-21/3-26 — at dl=0 the forward equals the tmerc northing to
    sub-micron (ulp-level arctan-vs-arctan2 difference only), which
    the tests assert. EPSG:3068 Soldner Berlin."""

    name = "cass"

    def _setup(self, lat_0=0.0, **kw):
        self._arc_setup()
        self.m0 = float(self._mdist(np.array([np.radians(float(lat_0))]))[0])

    def _fwd(self, dl, phi):
        E = self.E
        s, c = np.sin(phi), np.cos(phi)
        N = E.a / np.sqrt(1.0 - E.e2 * s * s)
        T = np.tan(phi) ** 2
        A_ = dl * c
        C = E.e2 * c * c / (1.0 - E.e2)
        x = N * (A_ - T * A_ ** 3 / 6.0
                 - (8.0 - T + 8.0 * C) * T * A_ ** 5 / 120.0)
        y = (self._mdist(phi) - self.m0
             + N * np.tan(phi) * (A_ ** 2 / 2.0
                                  + (5.0 - T + 6.0 * C) * A_ ** 4 / 24.0))
        return x, y

    def _inv(self, x, y):
        E = self.E
        p1 = self._footpoint(self.m0 + y)
        s1, c1 = np.sin(p1), np.cos(p1)
        T1 = np.tan(p1) ** 2
        N1 = E.a / np.sqrt(1.0 - E.e2 * s1 * s1)
        R1 = E.a * (1.0 - E.e2) / (1.0 - E.e2 * s1 * s1) ** 1.5
        D = x / N1
        phi = p1 - (N1 * np.tan(p1) / R1) * (D ** 2 / 2.0
                                             - (1.0 + 3.0 * T1) * D ** 4 / 24.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            dl = (D - T1 * D ** 3 / 3.0
                  + (1.0 + 3.0 * T1) * T1 * D ** 5 / 15.0) / c1
        return dl, phi


class Krovak(Projection):
    """Krovak oblique conformal conic (EPSG method 9819, the S-JTSK
    grid of CZ/SK; PROJ krovak). Constants follow the EPSG guidance
    note: gaussian sphere at lat_0, oblique rotation by the cone
    azimuth alpha, conformal cone on the 78.5-degree pseudo-standard
    parallel. Returns PROJ's default east-north orientation
    (x = -westing, y = -southing) as used by EPSG:5514."""

    name = "krovak"

    def _setup(self, lat_0=49.5, alpha=30.28813972527778, k_0=0.9999,
               **kw):
        E = self.E
        e, e2 = E.e, E.e2
        pc = np.radians(float(lat_0))
        self.alphac = np.radians(float(alpha))
        pp = np.radians(78.5)  # pseudo-standard parallel (fixed)
        sc = np.sin(pc)
        self.B = np.sqrt(1.0 + e2 * np.cos(pc) ** 4 / (1.0 - e2))
        A_ = E.a * np.sqrt(1.0 - e2) / (1.0 - e2 * sc * sc)
        self.g0 = np.arcsin(sc / self.B)
        self.t0 = (np.tan(np.pi / 4 + self.g0 / 2)
                   * ((1.0 + e * sc) / (1.0 - e * sc)) ** (e * self.B / 2)
                   / np.tan(np.pi / 4 + pc / 2) ** self.B)
        self.n = np.sin(pp)
        self.r0 = float(k_0) * A_ / np.tan(pp)
        self.tan_pp = np.tan(np.pi / 4 + pp / 2)

    def _fwd(self, dl, phi):
        e = self.E.e
        sp = np.sin(phi)
        U = 2.0 * (np.arctan(
            self.t0 * np.tan(phi / 2 + np.pi / 4) ** self.B
            / ((1.0 + e * sp) / (1.0 - e * sp)) ** (e * self.B / 2))
            - np.pi / 4)
        V = -self.B * dl
        cU = np.cos(U)
        T = np.arcsin(np.clip(np.cos(self.alphac) * np.sin(U)
                              + np.sin(self.alphac) * cU * np.cos(V),
                              -1.0, 1.0))
        D = np.arcsin(np.clip(cU * np.sin(V) / np.cos(T), -1.0, 1.0))
        theta = self.n * D
        r = (self.r0 * self.tan_pp ** self.n
             / np.tan(T / 2 + np.pi / 4) ** self.n)
        # Krovak native axes: X = southing (r cos theta), Y = westing
        # (r sin theta); east-north variant negates and swaps.
        return -r * np.sin(theta), -r * np.cos(theta)

    def _inv(self, x, y):
        e = self.E.e
        Xp, Yp = -y, -x  # back to southing/westing
        r = np.hypot(Xp, Yp)
        theta = np.arctan2(Yp, Xp)
        D = theta / self.n
        T = 2.0 * (np.arctan((self.r0 / r) ** (1.0 / self.n)
                             * self.tan_pp) - np.pi / 4)
        U = np.arcsin(np.clip(np.cos(self.alphac) * np.sin(T)
                              - np.sin(self.alphac) * np.cos(T)
                              * np.cos(D), -1.0, 1.0))
        V = np.arcsin(np.clip(np.cos(T) * np.sin(D) / np.cos(U),
                              -1.0, 1.0))
        phi = U.copy()
        for _ in range(12):
            sp = np.sin(phi)
            phi = 2.0 * (np.arctan(
                self.t0 ** (-1.0 / self.B)
                * np.tan(U / 2 + np.pi / 4) ** (1.0 / self.B)
                * ((1.0 + e * sp) / (1.0 - e * sp)) ** (e / 2))
                - np.pi / 4)
        return -V / self.B, phi


class Bonne(Projection):
    """Bonne pseudoconic (ellipsoidal, Snyder pp. 138-140, eq.
    14-1..14-11; PROJ bonne, EPSG method 9827). Equal-area by
    construction: parallels are concentric circular arcs true to
    scale, meridian distances along the central meridian are true.
    The meridian arc M uses the engine's exact rectifying-latitude
    series (the same Krueger machinery as tmerc/cass) instead of
    Snyder's truncated eq. 3-21. lat_1 is the standard parallel;
    lat_1 = 0 degenerates to sinusoidal and is rejected, matching
    PROJ's -35 error."""

    name = "bonne"

    def _setup(self, lat_1=None, **kw):
        if lat_1 is None or float(lat_1) == 0.0:
            raise ValueError("bonne requires a nonzero +lat_1")
        self._arc_setup()
        E = self.E
        p1 = np.radians(float(lat_1))
        self.sign1 = 1.0 if p1 >= 0 else -1.0
        s1 = np.sin(p1)
        m1 = np.cos(p1) / np.sqrt(1.0 - E.e2 * s1 * s1)
        #: radius of the standard-parallel arc (a*m1/sin(phi1))
        self.rho1 = float(E.a * m1 / s1)
        self.M1 = float(self._mdist(np.array([p1]))[0])

    def _fwd(self, dl, phi):
        E = self.E
        sp = np.sin(phi)
        m = np.cos(phi) / np.sqrt(1.0 - E.e2 * sp * sp)
        rho = self.rho1 + self.M1 - self._mdist(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            Ea = np.where(rho != 0.0, E.a * m * dl / rho, 0.0)
        return rho * np.sin(Ea), self.rho1 - rho * np.cos(Ea)

    def _inv(self, x, y):
        E = self.E
        rho = self.sign1 * np.hypot(x, self.rho1 - y)
        phi = self._footpoint(self.rho1 + self.M1 - rho)
        sp = np.sin(phi)
        m = np.cos(phi) / np.sqrt(1.0 - E.e2 * sp * sp)
        ang = np.arctan2(self.sign1 * x, self.sign1 * (self.rho1 - y))
        with np.errstate(divide="ignore", invalid="ignore"):
            dl = np.where(np.abs(m) > 1e-15, rho * ang / (E.a * m), 0.0)
        return dl, phi


class VanDerGrinten(Projection):
    """Van der Grinten I (spherical, Snyder pp. 239-243, eq.
    29-6a..29-17 forward / 28-18..28-26 closed-form cubic inverse;
    PROJ vandg). The whole world maps inside the circle of radius
    pi*R (property-locked); equator and central meridian are straight
    and true-ratio, all other meridians/parallels are circular arcs."""

    name = "vandg"
    spherical_factors = True

    def _fwd(self, dl, phi):
        R = self.E.a
        theta = np.arcsin(np.clip(np.abs(2.0 * phi / np.pi), 0.0, 1.0))
        st, ct = np.sin(theta), np.cos(theta)
        with np.errstate(divide="ignore", invalid="ignore"):
            A = 0.5 * np.abs(np.pi / dl - dl / np.pi)
            G = ct / (st + ct - 1.0)
            P = G * (2.0 / st - 1.0)
            Q = A * A + G
            P2A2 = P * P + A * A
            GmP2 = G - P * P
            x = (np.sign(dl) * np.pi * R
                 * (A * GmP2 + np.sqrt(np.maximum(
                     A * A * GmP2 * GmP2 - P2A2 * (G * G - P * P), 0.0)))
                 / P2A2)
            y = (np.sign(phi) * np.pi * R
                 * (P * Q - A * np.sqrt(np.maximum(
                     (A * A + 1.0) * P2A2 - Q * Q, 0.0)))
                 / P2A2)
        # equator: straight, true to scale
        eq = np.abs(phi) < 1e-14
        x = np.where(eq, R * dl, x)
        y = np.where(eq, 0.0, y)
        # central meridian / poles: x = 0, y = pi*R*tan(theta/2).
        # |dl| below TOL must take this branch: the general formula's
        # (A^2+1)(P^2+A^2) - Q^2 subtracts two A^4-scale terms whose
        # true difference is O(A^2) — below one ulp once A > 1e8
        # (PROJ vandg.c applies the same TOL guard).
        special = (np.abs(dl) < 1e-8) | (np.abs(phi) >= np.pi / 2 - 1e-12)
        x = np.where(special & ~eq, 0.0, x)
        y = np.where(special & ~eq,
                     np.sign(phi) * np.pi * R * np.tan(theta / 2.0), y)
        return x, y

    def _inv(self, x, y):
        R = self.E.a
        X = x / (np.pi * R)
        Y = y / (np.pi * R)
        X2, Y2 = X * X, Y * Y
        with np.errstate(divide="ignore", invalid="ignore"):
            c1 = -np.abs(Y) * (1.0 + X2 + Y2)
            c2 = c1 - 2.0 * Y2 + X2
            c3 = -2.0 * c1 + 1.0 + 2.0 * Y2 + (X2 + Y2) ** 2
            d = (Y2 / c3 + (2.0 * c2 ** 3 / c3 ** 3
                            - 9.0 * c1 * c2 / (c3 * c3)) / 27.0)
            a1 = (c1 - c2 * c2 / (3.0 * c3)) / c3
            m1 = 2.0 * np.sqrt(np.maximum(-a1 / 3.0, 0.0))
            th1 = np.arccos(np.clip(3.0 * d / (a1 * m1), -1.0, 1.0)) / 3.0
            phi = (np.sign(y) * np.pi
                   * (-m1 * np.cos(th1 + np.pi / 3.0) - c2 / (3.0 * c3)))
            lam = (np.pi * (X2 + Y2 - 1.0
                            + np.sqrt(1.0 + 2.0 * (X2 - Y2)
                                      + (X2 + Y2) ** 2))
                   / (2.0 * X))
        phi = np.where(Y == 0.0, 0.0, phi)
        lam = np.where(X == 0.0, 0.0, lam)
        return lam, phi


class WinkelTripel(Projection):
    """Winkel Tripel (spherical; PROJ wintri): the arithmetic mean of
    the equirectangular projection on lat_1 and the Aitoff projection.
    PROJ's default lat_1 is acos(2/pi) (Winkel's original choice).
    No closed-form inverse exists: _inv runs a fixed-count damped 2-D
    Newton with a central-difference Jacobian (deterministic: fixed
    iteration count, pure numpy)."""

    name = "wintri"
    spherical_factors = True

    def _setup(self, lat_1=None, **kw):
        self.cosphi1 = (2.0 / np.pi if lat_1 is None
                        else float(np.cos(np.radians(float(lat_1)))))

    def _fwd(self, dl, phi):
        R = self.E.a
        c = np.cos(phi)
        d = np.arccos(np.clip(c * np.cos(dl / 2.0), -1.0, 1.0))
        sinc = np.where(d != 0.0,
                        np.sin(np.where(d != 0.0, d, 1.0))
                        / np.where(d != 0.0, d, 1.0), 1.0)
        x = 0.5 * R * (dl * self.cosphi1
                       + 2.0 * c * np.sin(dl / 2.0) / sinc)
        y = 0.5 * R * (phi + np.sin(phi) / sinc)
        return x, y

    def _inv(self, x, y):
        R = self.E.a
        lam = np.clip(x / (R * 0.5 * (self.cosphi1 + 1.0)), -np.pi, np.pi)
        phi = np.clip(y / R, -np.pi / 2, np.pi / 2)
        h = 1e-7
        for _ in range(25):
            fx, fy = self._fwd(lam, phi)
            rx, ry = fx - x, fy - y
            fx1, fy1 = self._fwd(lam + h, phi)
            fx2, fy2 = self._fwd(lam, phi + h)
            j11, j21 = (fx1 - fx) / h, (fy1 - fy) / h
            j12, j22 = (fx2 - fx) / h, (fy2 - fy) / h
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            dlam = (rx * j22 - ry * j12) / det
            dphi = (ry * j11 - rx * j21) / det
            lam = np.clip(lam - dlam, -np.pi, np.pi)
            phi = np.clip(phi - dphi, -np.pi / 2, np.pi / 2)
        return lam, phi


class Hammer(Projection):
    """Hammer (Hammer-Aitoff; spherical, Snyder pp. 160-163, eq.
    24-4..24-9; PROJ hammer with W=0.5): the equatorial Lambert
    azimuthal equal-area projection with longitudes halved and x
    doubled — exactly equal-area (property-locked), the whole world
    in a 2:1 ellipse."""

    name = "hammer"
    spherical_factors = True

    def _fwd(self, dl, phi):
        R = self.E.a
        c = np.cos(phi)
        z = np.sqrt(1.0 + c * np.cos(dl / 2.0))
        return (R * np.sqrt(8.0) * c * np.sin(dl / 2.0) / z,
                R * np.sqrt(2.0) * np.sin(phi) / z)

    def _inv(self, x, y):
        R = self.E.a
        xp, yp = x / 2.0, y  # undo the x-doubling -> equatorial LAEA
        rho = np.hypot(xp, yp)
        c = 2.0 * np.arcsin(np.clip(rho / (2.0 * R), -1.0, 1.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            phi = np.where(rho > 0.0,
                           np.arcsin(np.clip(yp * np.sin(c)
                                             / np.where(rho > 0, rho, 1.0),
                                             -1.0, 1.0)), 0.0)
            lam2 = np.arctan2(xp * np.sin(c), rho * np.cos(c))
        return 2.0 * np.where(rho > 0.0, lam2, 0.0), phi


class Aitoff(Projection):
    """Aitoff (spherical; PROJ aitoff): the equatorial azimuthal
    equidistant projection with longitudes halved and x doubled —
    the parent of Winkel Tripel's curved half. No closed-form
    inverse: fixed-count damped 2-D Newton (the wintri pattern)."""

    name = "aitoff"
    spherical_factors = True

    def _fwd(self, dl, phi):
        R = self.E.a
        c = np.cos(phi)
        d = np.arccos(np.clip(c * np.cos(dl / 2.0), -1.0, 1.0))
        sinc = np.where(d != 0.0,
                        np.sin(np.where(d != 0.0, d, 1.0))
                        / np.where(d != 0.0, d, 1.0), 1.0)
        return (2.0 * R * c * np.sin(dl / 2.0) / sinc,
                R * np.sin(phi) / sinc)

    def _inv(self, x, y):
        R = self.E.a
        lam = np.clip(x / R, -np.pi, np.pi)
        phi = np.clip(y / R, -np.pi / 2, np.pi / 2)
        h = 1e-7
        for _ in range(25):
            fx, fy = self._fwd(lam, phi)
            rx, ry = fx - x, fy - y
            fx1, fy1 = self._fwd(lam + h, phi)
            fx2, fy2 = self._fwd(lam, phi + h)
            j11, j21 = (fx1 - fx) / h, (fy1 - fy) / h
            j12, j22 = (fx2 - fx) / h, (fy2 - fy) / h
            det = j11 * j22 - j12 * j21
            det = np.where(np.abs(det) < 1e-30, 1e-30, det)
            dlam = (rx * j22 - ry * j12) / det
            dphi = (ry * j11 - rx * j21) / det
            lam = np.clip(lam - dlam, -np.pi, np.pi)
            phi = np.clip(phi - dphi, -np.pi / 2, np.pi / 2)
        return lam, phi


PROJECTIONS = {
    "hammer": Hammer,
    "aitoff": Aitoff,
    "bonne": Bonne,
    "vandg": VanDerGrinten,
    "wintri": WinkelTripel,
    "somerc": SwissObliqueMercator,
    "geos": Geostationary,
    "poly": Polyconic,
    "aea": AlbersEqualArea,
    "cea": CylindricalEqualArea,
    "ortho": Orthographic,
    "nsper": VerticalPerspective,
    "ob_tran": RotatedLatLon,
    "omerc": HotineObliqueMercator,
    "longlat": LongLat,
    "latlong": LongLat,
    "webmerc": WebMercator,
    "merc": Mercator,
    "tmerc": TransverseMercator,
    "etmerc": TransverseMercator,
    "utm": UTM,
    "lcc": LambertConformalConic,
    "laea": LambertAzimuthalEqualArea,
    "aeqd": AzimuthalEquidistant,
    "stere": Stereographic,
    "sterea": ObliqueStereographicAlternative,
    "eqearth": EqualEarth,
    "eqc": EquidistantCylindrical,
    "sinu": Sinusoidal,
    "moll": Mollweide,
    "mill": MillerCylindrical,
    "gnom": Gnomonic,
    "cass": Cassini,
    "krovak": Krovak,
}
