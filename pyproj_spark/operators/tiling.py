"""Raster<->vector tile materialization (SURVEY.md §2.6).

Vector side: per-tile summaries written ``partitionBy(z, tx, ty)`` so a
tile server reads exactly one directory per tile (partition pruning =
tile lookup). Raster side: per-tile aggregate grids materialized as
fixed-size cell matrices by one ``map_groups`` stage
(``pyproj_spark/rows.py``): one group per tile, the natural Spark
mapping for "render this tile".
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.functions.tiles import tile_xy_from_lonlat
from pyproj_spark.rows import map_groups


def assign_tiles(points: DataFrame, zooms: tuple[int, ...] = (4, 8, 12),
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Explode points into one row per (zoom, tile) assignment."""
    parts = []
    for z in zooms:
        tx, ty = tile_xy_from_lonlat(F.col(lon_col), F.col(lat_col), z)
        parts.append(points.withColumn("z", F.lit(z))
                     .withColumn("tx", tx).withColumn("ty", ty))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_vector_tiles(points: DataFrame, path: str, zoom: int = 8,
                       lon_col: str = "lon", lat_col: str = "lat") -> None:
    """Per-tile vector summaries, partitioned by (z, tx, ty).

    repartition on the tile key before the write so each tile directory
    is written by one task (no small-file explosion), which is also the
    co-location a downstream tile-serving job wants.
    """
    tx, ty = tile_xy_from_lonlat(F.col(lon_col), F.col(lat_col), zoom)
    df = (points.withColumn("z", F.lit(zoom))
          .withColumn("tx", tx).withColumn("ty", ty))
    (df.repartition("z", "tx", "ty")
       .write.mode("overwrite").partitionBy("z", "tx", "ty").parquet(path))


RASTER_SCHEMA = ("z int, tx long, ty long, px int, py int, n long")


def _tile_groups(points: DataFrame, zoom: int, tile_px: int, lon_col: str,
                 lat_col: str, schema: str, emit) -> DataFrame:
    """One ``map_groups`` call per zoom-``zoom`` tile: the tile's
    tile_px x tile_px count histogram, handed to
    ``emit(tx, ty, hist)``, which returns the output rows."""
    n = 1 << zoom
    tx, ty = tile_xy_from_lonlat(F.col(lon_col), F.col(lat_col), zoom)
    df = points.select(tx.alias("tx"), ty.alias("ty"),
                       F.col(lon_col).alias("lon"),
                       F.col(lat_col).alias("lat"))

    def render(txv, tyv, lons, lats):
        # tile bounds in lon / mercator-y fraction space
        lon0 = txv / n * 360.0 - 180.0
        lon1 = (txv + 1) / n * 360.0 - 180.0
        merc = np.log(np.tan(np.pi / 4 + np.radians(
            np.clip(np.asarray(lats, np.float64),
                    -85.05112878, 85.05112878)) / 2))
        yfrac = (1.0 - merc / np.pi) / 2.0 * n - tyv
        xfrac = (np.asarray(lons, np.float64) - lon0) / (lon1 - lon0)
        px = np.clip((xfrac * tile_px).astype(np.int32), 0, tile_px - 1)
        py = np.clip((yfrac * tile_px).astype(np.int32), 0, tile_px - 1)
        hist = np.zeros((tile_px, tile_px), dtype=np.int64)
        np.add.at(hist, (py, px), 1)
        return emit(int(txv), int(tyv), hist)

    return map_groups(df, ["tx", "ty"], ["lon", "lat"], schema, render)


def rasterize_tiles(points: DataFrame, zoom: int = 8, tile_px: int = 16,
                    lon_col: str = "lon", lat_col: str = "lat"
                    ) -> DataFrame:
    """Per-tile density raster: counts on a tile_px x tile_px grid,
    one histogram (one numpy call) per tile group. Output is sparse
    (only non-zero pixels), schema (z, tx, ty, px, py, n).
    """
    def pixels(txv, tyv, hist):
        yy, xx = np.nonzero(hist)
        return [(zoom, txv, tyv, int(x), int(y), int(hist[y, x]))
                for y, x in zip(yy, xx)]

    return _tile_groups(points, zoom, tile_px, lon_col, lat_col,
                        RASTER_SCHEMA, pixels)


PNG_TILE_SCHEMA = "z int, tx long, ty long, n_points long, png binary"


def png_tiles(points: DataFrame, zoom: int = 8, tile_px: int = 16,
              lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Materialize density tiles as REAL .png bytes (greyscale, pixel
    value = min(count, 255)) — the tile-server output format, from
    rasterize_tiles' per-tile histograms and the deterministic encoder
    (operators/multimodal.py::encode_png), in the same single
    ``map_groups`` stage. Bytes are reproducible (fixed filter + zlib
    level), so downstream dedup/caching by content hash works."""
    from pyproj_spark.operators.multimodal import encode_png

    def tile(txv, tyv, hist):
        png = encode_png(np.minimum(hist, 255).astype(np.uint8))
        return [(zoom, txv, tyv, int(hist.sum()), png)]

    return _tile_groups(points, zoom, tile_px, lon_col, lat_col,
                        PNG_TILE_SCHEMA, tile)
