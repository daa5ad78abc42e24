"""pyproj_spark — a from-scratch PySpark-native geospatial engine.

Re-expresses the query surface of pyproj4/pyproj (CRS-to-CRS transforms,
proj-string/EPSG parsing, datum shift, Karney geodesics) as:

* pure numpy kernels (``pyproj_spark.kernels``) — vectorized, no per-row
  Python, testable without a SparkSession;
* a driver-side planner (``pyproj_spark.plans``) that resolves CRS pairs
  into a broadcastable :class:`TransformSpec` (the Spark analogue of
  ``pyproj.Transformer.from_crs`` — reference
  ``pyproj/transformer.py:667-752``);
* Spark-facing column functions (``pyproj_spark.functions``) — scalar
  Arrow UDFs for the iterative kernels, native Catalyst
  expressions everywhere the math is closed-form (cell ids, tiles,
  bboxes, reverse_azimuth);
* DataFrame-composed spatial operators (``pyproj_spark.operators``) —
  point-in-polygon join, kNN via cell-ring expansion, transform_bounds,
  tiling, plus the web-scale text ops (dedup / similarity / quality).

Nothing in here links against PROJ; all math is reimplemented from
public formulas (Snyder 1987, Karney 2013, Poder & Engsager 1998).
"""

__version__ = "0.1.0"


#: the reference's top-level namespace (pyproj/__init__.py:75-89)
__all__ = ["CRS", "Geod", "Proj", "Transformer", "get_ellps_map",
           "get_prime_meridians_map", "get_proj_operations_map",
           "get_units_map", "itransform", "pj_ellps", "pj_list",
           "show_versions", "transform"]


def show_versions() -> None:
    """Print engine/dependency versions — reference _show_versions."""
    from pyproj_spark.__main__ import _show_versions
    print(_show_versions(verbose=True))


def __getattr__(name):  # lazy top-level API to keep kernel imports Spark-free
    if name == "CRS":
        from pyproj_spark.crs.crs import CRS
        return CRS
    if name in ("Transformer", "TransformSpec"):
        from pyproj_spark.plans import spec
        return getattr(spec, name)
    if name == "Geodesic":
        from pyproj_spark.kernels.geodesic import Geodesic
        return Geodesic
    if name == "Geod":
        from pyproj_spark.kernels.geod import Geod
        return Geod
    if name == "Proj":
        from pyproj_spark.proj import Proj
        return Proj
    if name in ("transform", "itransform"):
        from pyproj_spark import transformer_compat
        return getattr(transformer_compat, name)
    if name in ("get_ellps_map", "get_prime_meridians_map",
                "get_proj_operations_map", "get_units_map"):
        from pyproj_spark import catalog_api
        return getattr(catalog_api, name)
    if name == "pj_ellps":  # reference pyproj/list.pyx pj_ellps
        from pyproj_spark.catalog_api import get_ellps_map
        return get_ellps_map()
    if name == "pj_list":  # reference pyproj/list.pyx pj_list
        from pyproj_spark.catalog_api import get_proj_operations_map
        return get_proj_operations_map()
    raise AttributeError(name)
