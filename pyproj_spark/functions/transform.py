"""Spark column functions for CRS transforms — scalar Arrow UDFs.

One Arrow batch in -> one out, never per-row Python (the engine-wide
rule from BASELINE.json input_hint); every kernel crosses through
``rows.map_arrays``. The TransformSpec is resolved on the driver (plan
once — reference ``docs/advanced_examples.rst:269-291`` shows why) and
captured in the UDF closure; each python worker materializes the numpy
kernel once per spec via the module-level cache in
``pyproj_spark.plans.spec`` (the Spark analogue of the reference's
per-thread ``TransformerLocal``, ``pyproj/transformer.py:416-474``),
and each pipeline, ITRF frame pair and ellipsoid once via the
``functools.cache``d constructors below.

Noop elision: if src == dst CRS the returned Column is built from the
input columns directly — no UDF enters the plan at all
(``pyproj/_transformer.pyx:772-773`` semantics, §4 of SURVEY.md).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from pyproj_spark.crs.crs import CRS
from pyproj_spark.plans.spec import TransformSpec, get_kernel
from pyproj_spark.rows import map_arrays


def transform_xy(crs_from, crs_to, x: Column, y: Column,
                 always_xy: bool = True, with_op_id: bool = False
                 ) -> Column:
    """struct<x:double, y:double> column transforming (x, y) between CRSs.

    ``always_xy=True`` by default: engine-internal coordinate columns are
    always (lon/easting, lat/northing); authority axis order only matters
    at the user-facing Transformer API.

    ``with_op_id=True`` adds an ``op_id:int`` field — the per-row
    operation actually used (the DataFrame form of the reference's
    ``get_last_used_operation``, ``pyproj/transformer.py:559-574``;
    per-row because grid coverage makes the operation point-dependent:
    in-grid rows report OP_GRID, the rest the Helmert/ballpark fallback).
    """
    src = CRS.from_user_input(crs_from)
    dst = CRS.from_user_input(crs_to)
    spec = TransformSpec(src.srs, dst.srs, always_xy=always_xy)
    if src == dst:
        # noop elision: identity projection, no Python boundary
        if with_op_id:
            return F.struct(x.cast("double").alias("x"),
                            y.cast("double").alias("y"),
                            F.lit(0).cast("int").alias("op_id"))
        return F.struct(x.cast("double").alias("x"),
                        y.cast("double").alias("y"))
    if with_op_id:
        def _xf_op(xs, ys):
            xo, yo, _, ops = get_kernel(spec).call_with_ops(xs, ys)
            return xo, yo, ops

        return map_arrays("struct<x:double,y:double,op_id:int>", _xf_op,
                          x, y)
    return map_arrays("struct<x:double,y:double>",
                      lambda xs, ys: get_kernel(spec)(xs, ys)[:2], x, y)


def transform_xy_keyed(crs_from, crs_by_key: dict, key: Column,
                       x: Column, y: Column,
                       always_xy: bool = True) -> Column:
    """Per-row destination CRS chosen by an integer ``key`` column —
    one scan, one Arrow batch, one Python boundary for a whole zone
    family (UTM zones, SPCS83 state planes). The reference makes one
    ``Transformer`` per pair (pyproj/transformer.py:184-230) and loops;
    at 100 TB a per-zone branch-and-union would rescan the source once
    per zone, so the zone dispatch moves inside the kernel: rows are
    masked per key in numpy and each sub-batch goes through the planned
    per-worker cached kernel. Rows whose key is absent from the map
    come back NaN (like errcheck=False out-of-domain points).
    """
    src_srs = CRS.from_user_input(crs_from).srs
    specs = {int(k): TransformSpec(src_srs,
                                   CRS.from_user_input(v).srs,
                                   always_xy=always_xy)
             for k, v in crs_by_key.items()}

    def _xfk(kn, xn, yn):
        xo = np.full(len(xn), np.nan)
        yo = np.full(len(yn), np.nan)
        for kv, spec in specs.items():
            m = kn == kv
            if m.any():
                xo[m], yo[m], _ = get_kernel(spec)(xn[m], yn[m])
        return xo, yo

    return map_arrays("struct<x:double,y:double>", _xfk, key, x, y)


def transform_xyz(crs_from, crs_to, x: Column, y: Column, z: Column,
                  always_xy: bool = True) -> Column:
    """3D variant -> struct<x,y,z>."""
    src = CRS.from_user_input(crs_from)
    dst = CRS.from_user_input(crs_to)
    spec = TransformSpec(src.srs, dst.srs, always_xy=always_xy)
    if src == dst:
        return F.struct(x.cast("double").alias("x"),
                        y.cast("double").alias("y"),
                        z.cast("double").alias("z"))
    return map_arrays("struct<x:double,y:double,z:double>",
                      lambda *xyz: get_kernel(spec)(*xyz), x, y, z)


@functools.cache
def _pipeline(pipeline: str):
    from pyproj_spark.plans.pipeline import PipelineKernel
    return PipelineKernel(pipeline)


def transform_pipeline(pipeline: str, x: Column, y: Column,
                       z: Column | None = None) -> Column:
    """Run a ``+proj=pipeline`` string over coordinate columns ->
    struct<x,y,z>. The DataFrame form of the reference's
    ``Transformer.from_pipeline(...).transform(...)``
    (``pyproj/transformer.py:270-330``): the string is validated on the
    driver, each python worker parses it once (cached by the string —
    the kernel holds only step closures), and whole Arrow batches cross
    in one call."""
    _pipeline(pipeline)  # driver-side validation: raise HERE
    zc = F.lit(0.0) if z is None else z.cast("double")
    return map_arrays("struct<x:double,y:double,z:double>",
                      lambda *xyz: _pipeline(pipeline)(*xyz), x, y, zc)


@functools.cache
def _itrf(frame_from: str, frame_to: str):
    from pyproj_spark.kernels.itrf import ITRFTransformer
    return ITRFTransformer(frame_from, frame_to)


def transform_itrf(frame_from: str, frame_to: str, x: Column, y: Column,
                   z: Column, t: Column) -> Column:
    """struct<x,y,z> — the 4D time-dependent ITRF frame transform with
    a PER-ROW epoch column (the DataFrame form of the reference's
    ``Transformer.from_pipeline("+init=A:B").transform(xx,yy,zz,tt)``,
    golden at reference test/test_transformer.py:87-102): the
    published IERS rates are evaluated at each row's decimal year
    before the 14-parameter Helmert applies. Frames are validated on
    the driver; workers cache one kernel per frame pair."""
    _itrf(frame_from, frame_to)  # driver-side validation

    def _xf(xs, ys, zs, ts):
        return _itrf(frame_from, frame_to).transform(
            xs, ys, zz=zs, tt=ts)[:3]

    return map_arrays("struct<x:double,y:double,z:double>", _xf,
                      x.cast("double"), y.cast("double"),
                      z.cast("double"), t.cast("double"))


@functools.cache
def _geod(ellps: str):
    from pyproj_spark.kernels.geod import Geod
    return Geod(ellps=ellps)


def geod_inverse(ellps: str, lon1: Column, lat1: Column, lon2: Column,
                 lat2: Column) -> Column:
    """struct<az12,az21,dist> — Karney inverse as an Arrow UDF.
    az21 is the back azimuth (pyproj default convention,
    ``pyproj/_geod.pyx:294-295``)."""
    return map_arrays("struct<az12:double,az21:double,dist:double>",
                      lambda *a: _geod(ellps).inv(*a),
                      lon1, lat1, lon2, lat2)


def geod_forward(ellps: str, lon: Column, lat: Column, az: Column,
                 dist: Column) -> Column:
    """struct<lon,lat,backaz> — Karney direct as an Arrow UDF."""
    return map_arrays("struct<lon:double,lat:double,backaz:double>",
                      lambda *a: _geod(ellps).fwd(*a),
                      lon, lat, az, dist)


def proj_factors(crs, lon: Column, lat: Column) -> Column:
    """struct<h,k,areal> — Proj.get_factors (T8) as an Arrow UDF:
    meridional scale, parallel scale, areal scale per point (reference
    ``pyproj/proj.py:204-278``)."""

    def _fac(lo, la):
        from pyproj_spark.proj import Proj
        f = Proj(crs).get_factors(lo, la)
        return f.meridional_scale, f.parallel_scale, f.areal_scale

    return map_arrays("struct<h:double,k:double,areal:double>", _fac,
                      lon, lat)


def reverse_azimuth(az: Column) -> Column:
    """Native Catalyst version of pyproj.Geod reverse_azimuth
    (``pyproj/_geod.pyx:70-85``) — no UDF needed (SURVEY.md §2.2 G10)."""
    return F.when(az > 0, az - 180.0).otherwise(az + 180.0)


def spherical_ring_area_m2(ring: Column,
                           radius: float = 6371008.8) -> Column:
    """Unsigned spherical shoelace area (m²) of a ring column
    (array<struct<lon,lat>>) — pure Catalyst HOFs, no UDF: the discrete
    Green's-theorem sum R²/2·|Σ Δλ·(sin φ₁ + sin φ₂)| over consecutive
    vertices (wrap-around closure). The spherical analogue of the exact
    ellipsoidal kernel in ``kernels/area.py`` (which is golden-tested);
    use this form for cheap in-plan area predicates at scale."""
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)

    import math as _math

    def term(i: Column) -> Column:
        p1 = F.element_at(ring, (i + 1).cast("int"))
        p2 = F.element_at(ring, (F.pmod(i + 1, n) + 1).cast("int"))
        # normalize each edge's Δλ to (-π, π]: a ring crossing the
        # antimeridian otherwise picks up a spurious ~2π jump term
        # (the exact kernel in kernels/area.py does the same wrap)
        dl = F.pmod(F.radians(p2["lon"]) - F.radians(p1["lon"])
                    + _math.pi, F.lit(2 * _math.pi)) - _math.pi
        return dl * (F.sin(F.radians(p1["lat"]))
                     + F.sin(F.radians(p2["lat"])))

    s = F.aggregate(F.transform(idx, term), F.lit(0.0),
                    lambda acc, v: acc + v)
    return F.abs(s) * (radius * radius / 2.0)


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                radius: float = 6371008.8) -> Column:
    """Great-circle distance in metres — pure Catalyst (codegen-friendly).
    Used as the cheap pre-rank in kNN before the exact Karney re-rank."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = rl2 - rl1
    dlon = F.radians(lon2) - F.radians(lon1)
    h = (F.pow(F.sin(dlat / 2), 2)
         + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2))
    return 2.0 * F.lit(radius) * F.asin(F.sqrt(h))
