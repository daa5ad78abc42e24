"""Pipeline grammar, AWIPS-221 grid roundtrip invariant, tile
materialization."""

import numpy as np
import pytest
from numpy.testing import assert_almost_equal
from pyspark.sql import functions as F

from pyproj_spark.plans.spec import Transformer


def test_from_pipeline_doctest():
    # reference pyproj/transformer.py:908-915 doctest
    t = Transformer.from_pipeline(
        "+proj=pipeline +step +proj=longlat +ellps=WGS84 "
        "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
    x, y = t.transform(2.1, 0.001)
    assert_almost_equal((x, y), (2.100, 0.001))


def test_from_pipeline_projection_steps():
    t = Transformer.from_pipeline(
        "+proj=pipeline +step +proj=utm +zone=33 +ellps=WGS84")
    assert_almost_equal(
        t.transform(13.759554722, 45.647188611),
        (403340.9672367854, 5055597.175553089), decimal=6)
    ti = Transformer.from_pipeline(
        "+proj=pipeline +step +inv +proj=utm +zone=33 +ellps=WGS84")
    assert_almost_equal(
        ti.transform(403340.9672367854, 5055597.175553089),
        (13.759554722, 45.647188611), decimal=9)


def test_from_pipeline_cart_helmert():
    # full datum pipeline: geodetic -> cart -> helmert -> cart^-1
    t = Transformer.from_pipeline(
        "+proj=pipeline "
        "+step +proj=cart +ellps=GRS80 "
        "+step +proj=helmert +x=-199.87 +y=74.79 +z=246.62 "
        "+step +inv +proj=cart +ellps=WGS84")
    lon, lat = t.transform(24.0, 38.0)
    # must match the catalog path 4121 -> 4326
    ref = Transformer.from_crs(4121, 4326, always_xy=True)
    assert_almost_equal((lon, lat), ref.transform(24.0, 38.0), decimal=9)


def test_from_pipeline_unknown_opcode_rejected():
    # cataloged codes (EPSG:1311 etc.) now resolve — see
    # test_operations.py; unknown ones raise the typed CRSError
    from pyproj_spark.exceptions import CRSError
    with pytest.raises(CRSError):
        Transformer.from_pipeline("EPSG:424242")


def test_awips221_roundtrip():
    """Reference test/test_awips221.py:10-111: fwd∘inv over the full
    349x277 AWIPS grid 221 (LCC sphere R=6371200), max abs err <= 1e-4 m."""
    t = Transformer.from_crs(
        "+proj=latlong +R=6371200",
        "+proj=lcc +R=6371200 +lat_1=50 +lat_2=50 +lon_0=-107 "
        "+x_0=0 +y_0=0", always_xy=True)
    # grid origin at the (-145.5, 1.0) corner, dx=dy=32463.41 m
    llcrnr = t.transform(-145.5, 1.0)
    nx, ny, d = 349, 277, 32463.41
    gx, gy = np.meshgrid(np.arange(nx), np.arange(ny))
    x = llcrnr[0] + gx.ravel() * d
    y = llcrnr[1] + gy.ravel() * d
    lon, lat = t.transform(x, y, direction="INVERSE")
    x2, y2 = t.transform(lon, lat)
    err = np.hypot(x2 - x, y2 - y)
    assert err.max() <= 1e-4


def test_write_vector_tiles_partitioned(spark, tmp_path):
    from pyproj_spark.operators.tiling import write_vector_tiles
    from pyproj_spark.queries import _doc_points
    pts = _doc_points(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "tiles")
    write_vector_tiles(pts, out, zoom=4)
    back = spark.read.parquet(out)
    assert back.count() == pts.count()
    # partition layout: z=../tx=../ty=..
    import os
    zdirs = [p for p in os.listdir(out) if p.startswith("z=")]
    assert zdirs == ["z=4"]
    # partition pruning: one-tile read scans a single directory
    one = back.filter((F.col("tx") == 8) & (F.col("ty") == 7))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_rasterize_tiles(spark):
    from pyproj_spark.operators.tiling import rasterize_tiles
    from pyproj_spark.queries import _doc_points
    pts = _doc_points(spark, "/root/testdata/sf0.001")
    r = rasterize_tiles(pts, zoom=2, tile_px=8).toPandas()
    assert (r["n"] > 0).all()
    # total rasterized count equals input points
    assert r["n"].sum() == pts.count()
    assert r["px"].between(0, 7).all() and r["py"].between(0, 7).all()


def test_assign_tiles_multizoom(spark):
    from pyproj_spark.operators.tiling import assign_tiles
    from pyproj_spark.queries import _doc_points
    pts = _doc_points(spark, "/root/testdata/sf0.001")
    a = assign_tiles(pts, zooms=(4, 8))
    assert a.count() == 2 * pts.count()
    # tile hierarchy: z=8 tile >> z=4 parent relation (tx8 >> 4 == tx4)
    pdf = a.toPandas()
    by_doc = pdf.pivot_table(index="doc_id", columns="z",
                             values=["tx", "ty"])
    assert ((by_doc["tx"][8] // 16) == by_doc["tx"][4]).all()
    assert ((by_doc["ty"][8] // 16) == by_doc["ty"][4]).all()


def test_line_lengths_matches_kernel(spark):
    """Spark window+UDF+agg line length == driver-side Geod.line_length."""
    from pyproj_spark.kernels.geod import Geod
    from pyproj_spark.operators.lines import line_lengths
    import pandas as pd
    rows = []
    rng = np.random.default_rng(3)
    for line in range(5):
        k = int(rng.integers(3, 12))
        for s in range(k):
            rows.append((line, s, float(rng.uniform(-179, 179)),
                         float(rng.uniform(-80, 80))))
    df = spark.createDataFrame(rows, ["line_id", "seq", "lon", "lat"])
    got = line_lengths(df).toPandas().set_index("line_id")["length_m"]
    g = Geod(ellps="WGS84")
    pdf = pd.DataFrame(rows, columns=["line_id", "seq", "lon", "lat"])
    for line, grp in pdf.groupby("line_id"):
        grp = grp.sort_values("seq")
        ref = g.line_length(grp["lon"].tolist(), grp["lat"].tolist())
        assert_almost_equal(got[line], ref, decimal=6)


def test_image_header_parsing(spark):
    # REAL container-header parsing over constructed blobs (public
    # format specs): PNG IHDR, GIF screen descriptor, BMP info header,
    # JPEG SOF0 segment walk (with a COM segment to skip first)
    import struct
    from pyproj_spark.operators.multimodal import (_parse_image_header,
                                                   image_meta)
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -60)
           + b"\x00" * 8)
    com = b"hello jpeg"
    jpeg = (b"\xff\xd8"
            + b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")
    assert _parse_image_header(png) == ("png", 640, 480)
    assert _parse_image_header(gif) == ("gif", 320, 200)
    assert _parse_image_header(bmp) == ("bmp", 100, 60)
    assert _parse_image_header(jpeg) == ("jpeg", 1920, 1080)
    assert _parse_image_header(b"plain text bytes here")[0] is None
    # Arrow-batched path
    df = spark.createDataFrame(
        [("u1", png), ("u2", gif), ("u3", jpeg), ("u4", b"notimage")],
        "url string, payload binary")
    rows = {r["url"]: (r["format"], r["width"], r["height"])
            for r in image_meta(df).collect()}
    assert rows["u1"] == ("png", 640, 480)
    assert rows["u2"] == ("gif", 320, 200)
    assert rows["u3"] == ("jpeg", 1920, 1080)
    assert rows["u4"] == (None, None, None)


def test_pipeline_hgridshift_step():
    # PROJ's most common grid step, composed in a pipeline: deg -> rad
    # -> NAD27->NAD83 grid shift -> deg; matches the registered grid
    # applied directly, passes out-of-coverage points through, and +inv
    # round-trips
    import numpy as np
    from numpy.testing import assert_almost_equal
    from pyproj_spark.kernels.grids import build_synthetic_conus_grid
    from pyproj_spark.plans.spec import Transformer

    pipe = ("+proj=pipeline "
            "+step +proj=unitconvert +xy_in=deg +xy_out=rad "
            "+step +proj=hgridshift +grids=us_synth_conus.tif "
            "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
    t = Transformer.from_pipeline(pipe)
    g = build_synthetic_conus_grid()
    lon, lat = t.transform(-100.0, 40.0)
    elon, elat = g.apply(np.array([-100.0]), np.array([40.0]))
    assert_almost_equal((lon, lat), (elon[0], elat[0]), decimal=12)
    # out of coverage: unchanged
    assert_almost_equal(t.transform(2.35, 48.85), (2.35, 48.85))
    # inverse step round-trips
    pipe_inv = pipe.replace("+step +proj=hgridshift",
                            "+step +inv +proj=hgridshift")
    ti = Transformer.from_pipeline(pipe_inv)
    assert_almost_equal(ti.transform(lon, lat), (-100.0, 40.0), decimal=9)
    # unregistered grid -> clear error
    import pytest
    with pytest.raises(ValueError, match="not registered"):
        Transformer.from_pipeline(
            "+proj=pipeline +step +proj=hgridshift +grids=nope.tif")


def test_raster_pyramid_consistency(spark):
    """The map_groups per-tile rasterizer, the native global-pixel
    raster, and the 2x2 pyramid downsample must tell one story:
    per-tile pixels re-expressed globally equal the native raster, and
    block-merging the fine level equals rasterizing coarse directly."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyproj_spark.operators.tiling import rasterize_tiles

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(
            rng.uniform(-179.9, 179.9, 4000),
            rng.uniform(-84.9, 84.9, 4000))], ["lon", "lat"])
    import math

    def native(zoom):
        k = float((1 << zoom) * 16)
        merc = F.log(F.tan(math.pi / 4 + F.radians(
            F.least(F.greatest(F.col("lat"), F.lit(-85.05112878)),
                    F.lit(85.05112878))) / 2))
        gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * k)
                     .cast("long"), F.lit(int(k) - 1))
        gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * k)
                     .cast("long"), F.lit(int(k) - 1))
        return (pts.select(gx.alias("gx"), gy.alias("gy"))
                .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
                .toPandas().set_index(["gx", "gy"])["n"].to_dict())

    fine = native(5)
    # per-tile rasterizer agrees with the native global grid
    tiled = rasterize_tiles(pts, zoom=5, tile_px=16).toPandas()
    tiled_map = {(r.tx * 16 + r.px, r.ty * 16 + r.py): r.n
                 for r in tiled.itertuples()}
    assert tiled_map == fine
    # integer 2x2 block merge == direct coarse rasterization
    merged: dict = {}
    for (gx, gy), n in fine.items():
        key = (gx >> 1, gy >> 1)
        merged[key] = merged.get(key, 0) + n
    assert merged == native(4)


def test_png_tiles_roundtrip_through_own_decoder(spark):
    import numpy as np
    from pyproj_spark.operators.multimodal import decode_png, encode_png
    from pyproj_spark.operators.tiling import png_tiles, rasterize_tiles

    # pure encoder/decoder roundtrip first
    rng = np.random.RandomState(11)
    for shape in [(5, 7), (8, 8, 3), (4, 6, 4)]:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(a)),
                              a if a.ndim == 3 else a[:, :, None])

    pts = spark.createDataFrame(
        [(float(lon), float(lat))
         for lon in range(-10, 10) for lat in range(-5, 5)],
        "lon double, lat double")
    tiles = {(r.tx, r.ty): r for r in
             png_tiles(pts, zoom=4, tile_px=8).collect()}
    sparse = rasterize_tiles(pts, zoom=4, tile_px=8).collect()
    assert tiles and all(r.png[:8] == b"\x89PNG\r\n\x1a\n"
                         for r in tiles.values())
    # decoded pixels match the sparse raster exactly (counts < 255)
    want = {}
    for s in sparse:
        want.setdefault((s.tx, s.ty), {})[(s.py, s.px)] = s.n
    for key, r in tiles.items():
        img = decode_png(bytes(r.png))[:, :, 0]
        nz = {(int(y), int(x)): int(img[y, x])
              for y, x in zip(*np.nonzero(img))}
        assert nz == {k: min(v, 255) for k, v in want[key].items()}
        assert r.n_points == sum(want[key].values())
