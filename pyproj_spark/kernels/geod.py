"""Geod — pyproj-compatible facade over the Karney kernel.

Mirrors the API semantics of ``pyproj/geod.py`` (reference
``pyproj/geod.py:239-421`` fwd/inv, ``:423-534`` npts, ``:536-846``
intermediate, ``:848-920`` line lengths, ``:1150-1184``
reverse_azimuth), vectorized over numpy arrays. The Spark layer exposes
these as Arrow-UDF kernels; line/polygon aggregations are expressed as
window + groupBy compositions instead (SURVEY.md §2.2 G6-G8).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from pyproj_spark.kernels.ellipsoid import Ellipsoid, get_ellipsoid
from pyproj_spark.kernels.geodesic import Geodesic


@dataclass
class GeodIntermediateReturn:
    """reference pyproj/_geod.pyx:18-42 — (npts, del_s, dist, lons,
    lats, azis). Iterable as (lons, lats, azis) for tuple unpacking."""

    npts: int
    del_s: float
    dist: float
    lons: "np.ndarray"
    lats: "np.ndarray"
    azis: "np.ndarray"

    def __iter__(self):
        return iter((self.lons, self.lats, self.azis))


def reverse_azimuth(az, radians: bool = False):
    """Flip azimuth by 180 deg — reference ``pyproj/_geod.pyx:70-85``."""
    az = np.asarray(az, dtype=np.float64)
    half = math.pi if radians else 180.0
    out = np.where(az > 0.0, az - half, az + half)
    return out


class Geod:
    """Ellipsoid geodesic computations (pyproj.Geod semantics)."""

    def __init__(self, ellps: str | None = None, a: float | None = None,
                 b: float | None = None, rf: float | None = None,
                 f: float | None = None, es: float | None = None,
                 e: float | None = None, sphere: bool = False,
                 R: float | None = None):
        # initstring form: Geod("+ellps=clrk66") / Geod("+a=... +b=...")
        # (reference pyproj/geod.py:143-237)
        if isinstance(ellps, str) and ("+" in ellps or "=" in ellps):
            from pyproj_spark.crs.crs import _parse_proj_string
            p = _parse_proj_string(ellps)
            ellps = p.get("ellps")
            a = a if a is not None else p.get("a")
            b = b if b is not None else p.get("b")
            rf = rf if rf is not None else p.get("rf")
            f = f if f is not None else p.get("f")
            es = es if es is not None else p.get("es")
            R = R if R is not None else p.get("R")
        if R is not None:
            ell = Ellipsoid.from_params(a=R, f=0.0, name="sphere")
        elif a is not None:
            ell = Ellipsoid.from_params(a=a, b=b, rf=rf, f=f, es=es, e=e)
        elif ellps is not None:
            ell = get_ellipsoid(ellps)
        elif sphere:
            ell = get_ellipsoid("sphere")
        else:
            ell = get_ellipsoid("WGS84")
        self.ellipsoid = ell
        self.a, self.f, self.b, self.es = ell.a, ell.f, ell.b, ell.e2
        self.sphere = ell.is_sphere
        self._g = Geodesic(ell)

    # -- kernels ------------------------------------------------------------

    def fwd(self, lons, lats, az, dist, radians: bool = False,
            return_back_azimuth: bool = True):
        """Direct geodesic — ``pyproj/geod.py:239-329``."""
        lons, lats, az = self._in(lons, lats, az, radians=radians)
        dist = np.asarray(dist, dtype=np.float64)
        lon2, lat2, az2 = self._g.direct(lons, lats, az, dist)
        if return_back_azimuth:
            az2 = reverse_azimuth(az2)
        return self._out(lon2, radians), self._out(lat2, radians), \
            self._out(az2, radians)

    def inv(self, lons1, lats1, lons2, lats2, radians: bool = False,
            return_back_azimuth: bool = True):
        """Inverse geodesic — ``pyproj/geod.py:331-421``."""
        lons1, lats1, lons2, lats2 = self._in(lons1, lats1, lons2, lats2,
                                              radians=radians)
        az1, az2, s12 = self._g.inverse(lons1, lats1, lons2, lats2)
        if return_back_azimuth:
            az2 = reverse_azimuth(az2)
        return self._out(az1, radians), self._out(az2, radians), s12

    def npts(self, lon1, lat1, lon2, lat2, npts: int, radians: bool = False,
             initial_idx: int = 1, terminus_idx: int = 1):
        """npts equally-spaced intermediate points — ``pyproj/geod.py:423-534``.

        Scalar endpoints -> list of (lon, lat) tuples, matching the
        reference's return shape.
        """
        lons, lats, _ = self.inv_intermediate(
            lon1, lat1, lon2, lat2, npts=npts, radians=radians,
            initial_idx=initial_idx, terminus_idx=terminus_idx)
        return list(zip(lons.tolist(), lats.tolist()))

    def inv_intermediate(self, lon1, lat1, lon2, lat2, npts: int = 0,
                         del_s: float = 0.0, radians: bool = False,
                         initial_idx: int = 1, terminus_idx: int = 1,
                         flags=None, return_back_azimuth: bool = True):
        """Points along the geodesic between two endpoints (scalar endpoints).

        Matches ``pyproj/geod.py:536-698`` / ``pyproj/_geod.pyx:360-474``:
        exactly one of npts / del_s given. With del_s, the point count is
        npts = dist/del_s - initial_idx - terminus_idx + 1 adjusted per
        the NPTS_* flag (ROUND = C half-away-from-zero — NOT Python
        banker's rounding — /CEIL/TRUNC, _geod.pyx:420-430); with
        DEL_S_RECALC (default) the increment is recomputed so points are
        evenly spaced end to end, with DEL_S_NO_RECALC the given del_s
        spacing is kept. AZIS_DISCARD (default) returns azis=None.
        """
        from pyproj_spark.enums import GeodIntermediateFlag as GIF
        if flags is None:
            flags = GIF.DEFAULT
        if (npts != 0) == (del_s != 0.0):
            from pyproj_spark.exceptions import GeodError
            raise GeodError("npts and del_s are mutually exclusive, "
                            "only one of them must be != 0")
        a1, a2, dist = self._g.inverse(
            *(np.degrees(v) if radians else float(v)
              for v in (lon1, lat1, lon2, lat2)))
        dist = float(dist)
        if npts == 0:
            x = dist / del_s - initial_idx - terminus_idx + 1
            mode = flags & GIF.NPTS_MASK
            if mode == GIF.NPTS_ROUND:
                x = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
            elif mode == GIF.NPTS_CEIL:
                x = math.ceil(x)
            npts = int(x)  # NPTS_TRUNC: bare C-style truncation
        if (flags & GIF.DEL_S_MASK) == GIF.DEL_S_RECALC:
            d = dist / (npts + initial_idx + terminus_idx - 1)
        else:
            d = float(del_s)
        idx = np.arange(initial_idx, initial_idx + npts, dtype=np.float64)
        s = idx * d
        lon1d = np.degrees(lon1) if radians else float(lon1)
        lat1d = np.degrees(lat1) if radians else float(lat1)
        lons, lats, azis = self._g.direct(
            np.full(npts, lon1d), np.full(npts, lat1d),
            np.full(npts, float(a1)), s)
        return GeodIntermediateReturn(
            npts, d, dist, self._out(lons, radians),
            self._out(lats, radians),
            self._azis_out(azis, flags, radians, return_back_azimuth))

    def fwd_intermediate(self, lon1, lat1, azi1, npts: int, del_s: float,
                         radians: bool = False, initial_idx: int = 1,
                         terminus_idx: int = 1, flags=None,
                         return_back_azimuth: bool = True):
        """Points every del_s metres along an azimuth —
        ``pyproj/geod.py:700-846``; total line length is
        del_s * (npts + initial_idx + terminus_idx - 1)
        (``_geod.pyx:411-414``)."""
        idx = np.arange(initial_idx, initial_idx + npts, dtype=np.float64)
        s = idx * float(del_s)
        lon1d = np.degrees(lon1) if radians else float(lon1)
        lat1d = np.degrees(lat1) if radians else float(lat1)
        az1d = np.degrees(azi1) if radians else float(azi1)
        lons, lats, azis = self._g.direct(
            np.full(npts, lon1d), np.full(npts, lat1d),
            np.full(npts, az1d), s)
        dist = float(del_s) * (npts + initial_idx + terminus_idx - 1)
        return GeodIntermediateReturn(
            npts, float(del_s), dist,
            self._out(lons, radians), self._out(lats, radians),
            self._azis_out(azis, flags, radians, return_back_azimuth))

    def _azis_out(self, azis, flags, radians: bool,
                  return_back_azimuth: bool):
        """AZIS_DISCARD (default) -> None, AZIS_KEEP -> the azimuth
        array (reference ``_geod.pyx:436-446`` store_az)."""
        from pyproj_spark.enums import GeodIntermediateFlag as GIF
        if flags is None or (flags & GIF.AZIS_MASK) != GIF.AZIS_KEEP:
            return None
        if return_back_azimuth:
            azis = reverse_azimuth(azis)
        return self._out(azis, radians)

    def line_lengths(self, lons, lats, radians: bool = False):
        """Per-segment distances (n-1 values) — ``pyproj/geod.py:885-920``."""
        lons = np.asarray(lons, dtype=np.float64)
        lats = np.asarray(lats, dtype=np.float64)
        if radians:
            lons, lats = np.degrees(lons), np.degrees(lats)
        _, _, d = self._g.inverse(lons[:-1], lats[:-1], lons[1:], lats[1:])
        return d

    def line_length(self, lons, lats, radians: bool = False) -> float:
        """Total polyline length — ``pyproj/geod.py:848-883``."""
        return float(np.sum(self.line_lengths(lons, lats, radians=radians)))

    def polygon_area_perimeter(self, lons, lats, radians: bool = False):
        """Signed geodesic area (m^2, CCW positive) + perimeter of a ring —
        ``pyproj/geod.py:922-970``. See kernels/area.py for the math."""
        from pyproj_spark.kernels.area import polygon_area_perimeter
        return polygon_area_perimeter(self._g, lons, lats, radians=radians)

    # -- geometry dispatch (G9) ---------------------------------------------

    def geometry_length(self, geometry, radians: bool = False) -> float:
        """Recursive length over GeoJSON-like dicts (or objects exposing
        ``__geo_interface__``) — reference ``pyproj/geod.py:972-1040``
        dispatches over shapely types; shapely is absent here so the
        engine speaks GeoJSON."""
        g = getattr(geometry, "__geo_interface__", geometry)
        t = g["type"]
        c = g.get("coordinates")
        if t == "Point":
            return 0.0
        if t in ("LineString", "LinearRing"):
            lons = [p[0] for p in c]
            lats = [p[1] for p in c]
            return self.line_length(lons, lats, radians=radians)
        if t == "Polygon":
            return sum(self.line_length([p[0] for p in ring],
                                        [p[1] for p in ring],
                                        radians=radians)
                       for ring in c)
        if t.startswith("Multi") or t == "GeometryCollection":
            parts = (g["geometries"] if t == "GeometryCollection" else
                     [{"type": t[5:], "coordinates": part} for part in c])
            return sum(self.geometry_length(p, radians=radians)
                       for p in parts)
        raise ValueError(f"unsupported geometry type {t!r}")

    def geometry_area_perimeter(self, geometry, radians: bool = False):
        """Signed area + perimeter over GeoJSON-like dicts — reference
        ``pyproj/geod.py:1042-1105`` (hole areas subtracted, hole
        perimeters NOT added to the exterior perimeter for polygons,
        matching the reference's golden values)."""
        g = getattr(geometry, "__geo_interface__", geometry)
        t = g["type"]
        c = g.get("coordinates")
        if t == "Point" or t == "MultiPoint":
            return 0.0, 0.0
        if t in ("LineString", "LinearRing"):
            return self.polygon_area_perimeter(
                [p[0] for p in c], [p[1] for p in c], radians=radians)
        if t == "Polygon":
            area, perim = self.polygon_area_perimeter(
                [p[0] for p in c[0]], [p[1] for p in c[0]], radians=radians)
            for hole in c[1:]:
                ha, _ = self.polygon_area_perimeter(
                    [p[0] for p in hole], [p[1] for p in hole],
                    radians=radians)
                # hole area reduces |total|, keeping the exterior's sign
                # (reference geod.py:1087-1095 golden behavior)
                area -= math.copysign(abs(ha), area)
            return area, perim
        if t.startswith("Multi") or t == "GeometryCollection":
            parts = (g["geometries"] if t == "GeometryCollection" else
                     [{"type": t[5:], "coordinates": part} for part in c])
            area = 0.0
            perim = 0.0
            for p in parts:
                a, pe = self.geometry_area_perimeter(p, radians=radians)
                area += a
                perim += pe
            return area, perim
        raise ValueError(f"unsupported geometry type {t!r}")

    # -- unit plumbing -------------------------------------------------------

    @staticmethod
    def _in(*arrs, radians: bool = False):
        out = []
        for v in arrs:
            v = np.asarray(v, dtype=np.float64)
            out.append(np.degrees(v) if radians else v)
        return out

    @staticmethod
    def _out(v, radians: bool):
        return np.radians(v) if radians else v

    def __repr__(self):
        return f"Geod(a={self.a}, f={self.f})"
