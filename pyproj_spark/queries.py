"""The engine's oracle-checked query surface (driver contract).

Each entry: a Spark callable (spark, sf_dir) -> DataFrame and a DuckDB
SQL string computing the same result on the same parquet tables. Geo
inputs are derived DETERMINISTICALLY from the provided tables with pure
arithmetic (identical expression trees on both engines, so floats are
bit-identical and floor/round boundaries cannot flip).

Conventions for hash-stable comparison:
* every computed column is aliased identically on both sides;
* doubles are rounded at a precision far coarser than any engine float
  divergence; ranks are computed ON the rounded value with an id tie-break.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyproj_spark.functions import cells
from pyproj_spark.functions.transform import haversine_m, transform_xy
from pyproj_spark.io import read_table as _t
from pyproj_spark.operators.pip import _ring_edges, pip_join, ring_contains

# ---------------------------------------------------------------- helpers

#: deterministic point derivation from doc_id (same text in SQL below)
def _doc_points(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        ((F.col("doc_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("doc_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )


_PTS_SQL = """
  SELECT doc_id, lang,
         (doc_id * 7919 % 360000) / 1000.0 - 180.0  AS lon,
         (doc_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM documents
"""

# 5 big fixed test polygons (lon, lat vertex lists, CCW, far from the
# antimeridian) — shared by the Spark build and the SQL oracle.
PIP_ZONES = {
    0: [(-90.0, 10.0), (-50.0, 15.0), (-40.0, 45.0), (-80.0, 55.0),
        (-100.0, 35.0)],
    1: [(0.0, 30.0), (40.0, 32.0), (50.0, 60.0), (10.0, 65.0), (-10.0, 50.0)],
    2: [(60.0, -40.0), (110.0, -45.0), (120.0, -10.0), (80.0, -5.0)],
    3: [(-30.0, -60.0), (20.0, -70.0), (30.0, -30.0), (-20.0, -25.0)],
    4: [(100.0, 20.0), (140.0, 15.0), (150.0, 50.0), (110.0, 55.0)],
}


def _zone_edges_sql() -> str:
    rows = []
    for zid, ring in PIP_ZONES.items():
        k = len(ring)
        for i in range(k):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % k]
            rows.append(f"({zid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS e(zone_id, x1, y1, x2, y2)")


def _zones_df(spark):
    """The 5-zone dimension table, one DataFrame per SparkSession
    (``io.session_memo``): every zone-joining query used to pay a fresh
    createDataFrame (py4j serialization) plus pip_join's ring collect;
    the table is a pure function of the PIP_ZONES module constants, so
    one DataFrame per session serves them all (and pip_join's
    on-DataFrame ring broadcast then hits across queries too)."""
    from pyproj_spark.io import session_memo
    return session_memo(spark, "zones_df", lambda: _make_zones_df(spark))


def _make_zones_df(spark):
    from pyproj_spark.sources.zones import ZONE_SCHEMA
    import numpy as np
    rows = []
    for zid, ring in PIP_ZONES.items():
        lons = np.array([p[0] for p in ring])
        lats = np.array([p[1] for p in ring])
        cov = cells.covering_np(lons, lats, cells.DEFAULT_RES).tolist()
        rows.append((zid, f"z{zid}",
                     [{"lon": float(a), "lat": float(b)} for a, b in ring],
                     cov))
    return spark.createDataFrame(rows, ZONE_SCHEMA)


# ------------------------------------------------------------ geo queries

def q_webmerc_transform(spark, sf_dir):
    """T3: batch CRS transform 4326->3857 through the Arrow-UDF kernel.
    The oracle recomputes with DuckDB's ln/tan — independent check of the
    kernel math (SURVEY.md §2.1 T3)."""
    pts = _doc_points(spark, sf_dir)
    xy = transform_xy("EPSG:4326", "EPSG:3857", F.col("lon"), F.col("lat"))
    return pts.withColumn("xy", xy).select(
        "doc_id",
        F.round(F.col("xy.x")).cast("long").alias("x_3857"),
        F.round(F.col("xy.y")).cast("long").alias("y_3857"),
    )


SQL_WEBMERC = f"""
WITH pts AS ({_PTS_SQL})
SELECT doc_id,
       CAST(round(6378137.0 * radians(lon)) AS BIGINT) AS x_3857,
       CAST(round(6378137.0 * ln(tan(pi()/4 + radians(lat)/2))) AS BIGINT)
           AS y_3857
FROM pts
"""


def q_geocell(spark, sf_dir):
    """Geocell encode (native bit math) + per-cell counts — the engine's
    partition/join key (SURVEY.md §2.6)."""
    pts = _doc_points(spark, sf_dir)
    return (pts.withColumn("cell",
                           cells.cell_of(F.col("lon"), F.col("lat"), 9))
            .groupBy("cell").agg(F.count("*").alias("cnt")))


SQL_GEOCELL = f"""
WITH pts AS ({_PTS_SQL})
SELECT (CAST(9 AS BIGINT) << 58)
       | ((CAST(floor((lon + 180.0) / 0.3515625) AS BIGINT) % 1024) << 29)
       | least(greatest(CAST(floor((lat + 90.0) / 0.3515625) AS BIGINT), 0),
               511) AS cell,
       count(*) AS cnt
FROM pts GROUP BY 1
"""


_S2_LEVEL = 10


def q_s2cell(spark, sf_dir):
    """S2-style spherical cell index (cube face + quadratic s/t +
    Hilbert order, functions/s2cell.py) — per-cell counts at level 10.
    Pure Catalyst: trig + CASE + two literal-array lookups per level,
    inside WholeStageCodegen. The Hilbert ordering makes the id a 1-D
    clustering/range key (containment = integer BETWEEN), which is the
    scale story next to the equality-join families. The point
    derivation shifts by half a millidegree so no point lands exactly
    on a |x|=|y| face seam (lon = +-45 mod 90), where a 1-ulp trig
    difference between the JVM and DuckDB could flip the argmax."""
    from pyproj_spark.functions import s2cell
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 360000) / 1000.0 - 179.9995)
        .alias("lon"),
        ((F.col("doc_id") * 104729 % 170000) / 1000.0 - 84.9995)
        .alias("lat"))
    return (pts.withColumn(
        "cell", s2cell.cell_of(F.col("lon"), F.col("lat"), _S2_LEVEL))
        .groupBy("cell").agg(F.count("*").alias("cnt")))


def q_s2_rollup(spark, sf_dir):
    """Hierarchical rollup on the S2-style index: level-10 cell counts
    re-aggregated to their level-4 ancestors with pure id arithmetic
    (parent = drop 2 bits per level — no re-encode, no join). This is
    the coarse-pruning pattern: files clustered by fine cell id are
    min/max-prunable by ANY ancestor's descendant range."""
    from pyproj_spark.functions import s2cell
    fine = q_s2cell(spark, sf_dir)
    return (fine.groupBy(s2cell.parent(F.col("cell"), 4).alias("cell4"))
            .agg(F.sum("cnt").alias("cnt"),
                 F.count(F.lit(1)).alias("n_children")))


def _s2_rollup_sql(level: int, parent_level: int) -> str:
    drop = (level - parent_level) * 2
    return f"""
WITH fine AS ({_s2_sql(level)})
SELECT (CAST({parent_level} AS BIGINT) << 58)
       | (((cell >> 55) & 7) << 55)
       | ((cell & ((CAST(1 AS BIGINT) << 55) - 1)) >> {drop}) AS cell4,
       CAST(sum(cnt) AS BIGINT) AS cnt,
       count(*) AS n_children
FROM fine GROUP BY 1
"""


def _s2_sql(level: int) -> str:
    """DuckDB recompute of the S2-style id: face argmax + quadratic st
    + table-driven Hilbert as one chained CTE per level."""
    from pyproj_spark.functions.s2cell import _NXT, _POS
    pos_l = "[" + ", ".join(map(str, _POS)) + "]"
    nxt_l = "[" + ", ".join(map(str, _NXT)) + "]"
    n = 1 << level
    parts = [f"""
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 360000) / 1000.0 - 179.9995  AS lon,
         (doc_id * 104729 % 170000) / 1000.0 - 84.9995 AS lat
  FROM documents
), base AS (
  SELECT doc_id,
         cos(radians(lat)) * cos(radians(lon)) AS x,
         cos(radians(lat)) * sin(radians(lon)) AS y,
         sin(radians(lat)) AS z
  FROM pts
), fuv AS (
  SELECT doc_id, face,
    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
  FROM (SELECT *,
          CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                 THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
               WHEN abs(y) >= abs(z)
                 THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
               ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face
        FROM base)
), ij AS (
  SELECT doc_id, face,
    CAST(least(greatest(floor((CASE WHEN u >= 0
           THEN 0.5 * sqrt(1.0 + 3.0 * u)
           ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END) * {n}.0),
         0), {n - 1}) AS BIGINT) AS i,
    CAST(least(greatest(floor((CASE WHEN v >= 0
           THEN 0.5 * sqrt(1.0 + 3.0 * v)
           ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END) * {n}.0),
         0), {n - 1}) AS BIGINT) AS j
  FROM fuv
), h{level} AS (
  SELECT doc_id, face, i, j, CAST(0 AS BIGINT) AS s{level},
         CAST(0 AS BIGINT) AS d{level} FROM ij
)"""]
    for k in range(level - 1, -1, -1):
        ix = (f"(s{k + 1} * 4 + ((i >> {k}) & 1) * 2"
              f" + ((j >> {k}) & 1) + 1)")
        parts.append(f""", h{k} AS (
  SELECT doc_id, face, i, j,
         CAST(list_extract({nxt_l}, CAST({ix} AS INT)) AS BIGINT)
             AS s{k},
         d{k + 1} * 4 + list_extract({pos_l}, CAST({ix} AS INT))
             AS d{k}
  FROM h{k + 1}
)""")
    parts.append(f"""
SELECT (CAST({level} AS BIGINT) << 58) | (CAST(face AS BIGINT) << 55)
       | d0 AS cell,
       count(*) AS cnt
FROM h0 GROUP BY 1
""")
    return "".join(parts)


def q_tiles(spark, sf_dir):
    """Raster tiling: slippy z/x/y assignment at z=8 + tile counts."""
    from pyproj_spark.functions.tiles import tile_xy_from_lonlat
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 8)
    return (pts.select(tx.alias("tx"), ty.alias("ty"))
            .groupBy("tx", "ty").agg(F.count("*").alias("cnt")))


SQL_TILES = f"""
WITH pts AS ({_PTS_SQL})
SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT),
                      0), 255) AS tx,
       least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
             radians(least(greatest(lat, -85.05112877980659),
                           85.05112877980659)) / 2)) / pi()) / 2.0 * 256)
             AS BIGINT), 0), 255) AS ty,
       count(*) AS cnt
FROM pts GROUP BY 1, 2
"""


def q_pip(spark, sf_dir):
    """Point-in-polygon join (cell prefilter + exact even-odd test)."""
    pts = _doc_points(spark, sf_dir)
    # no orderBy: the correctness gate compares order-insensitively and
    # a global sort would add a needless range-partition shuffle
    return pip_join(pts, _zones_df(spark)).select("doc_id", "zone_id")


SQL_PIP = f"""
WITH pts AS ({_PTS_SQL}),
edges AS ({_zone_edges_sql()})
SELECT doc_id, zone_id
FROM pts p CROSS JOIN edges e
GROUP BY doc_id, zone_id, lon, lat
HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                 AND lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                THEN 1 ELSE 0 END) % 2 = 1
ORDER BY doc_id, zone_id
"""


def q_knn(spark, sf_dir):
    """k=3 nearest zone centroids per point via operators.knn.knn_to_zones
    (native array-HOF prerank, single wide exchange), ranked on rounded
    haversine metres with zone tie-break (deterministic across engines).
    The centroid fold (F.aggregate over the ring) adds doubles in ring
    order — the same order as the oracle's Python sum, so bit-identical."""
    from pyproj_spark.operators.knn import knn_to_zones
    pts = _doc_points(spark, sf_dir)
    return knn_to_zones(pts, _zones_df(spark), k=3, id_cols=("doc_id",),
                        exact=False, round_m=True) \
        .select("doc_id", "rank", "zone_id", "dist_m")


def _cents_sql():
    rows = []
    for zid, ring in PIP_ZONES.items():
        zlon = sum(p[0] for p in ring) / len(ring)
        zlat = sum(p[1] for p in ring) / len(ring)
        rows.append(f"({zid}, {zlon!r}, {zlat!r})")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS c(zone_id, zlon, zlat)")


SQL_KNN = f"""
WITH pts AS ({_PTS_SQL}),
cents AS ({_cents_sql()}),
cand AS (
  SELECT doc_id, zone_id,
         CAST(round(2.0 * 6371008.8 * asin(sqrt(
             pow(sin((radians(zlat) - radians(lat)) / 2), 2)
             + cos(radians(lat)) * cos(radians(zlat))
               * pow(sin((radians(zlon) - radians(lon)) / 2), 2)
         ))) AS BIGINT) AS dist_m
  FROM pts CROSS JOIN cents
),
ranked AS (
  SELECT doc_id, zone_id, dist_m,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY dist_m, zone_id) AS rank
  FROM cand
)
SELECT doc_id, rank, zone_id, dist_m FROM ranked WHERE rank <= 3
"""


def q_bbox_filter(spark, sf_dir):
    """AOI bbox filter + per-lang counts (aoi.py:103-139 semantics)."""
    pts = _doc_points(spark, sf_dir)
    return (pts.filter((F.col("lon") > -30) & (F.col("lon") < 60)
                       & (F.col("lat") > 20) & (F.col("lat") < 70))
            .groupBy("lang").agg(F.count("*").alias("cnt")))


SQL_BBOX = f"""
WITH pts AS ({_PTS_SQL})
SELECT lang, count(*) AS cnt FROM pts
WHERE lon > -30 AND lon < 60 AND lat > 20 AND lat < 70
GROUP BY lang
"""


def q_utm_zone(spark, sf_dir):
    """query_utm_crs_info analog: analytic UTM zone + hemisphere + EPSG
    code per point, zone histogram (database.pyx:280-322)."""
    pts = _doc_points(spark, sf_dir)
    zone = (F.floor((F.col("lon") + 180.0) / 6.0) + 1).cast("long")
    epsg = F.when(F.col("lat") >= 0, zone + 32600).otherwise(zone + 32700)
    return (pts.select(zone.alias("zone"), epsg.alias("epsg"))
            .groupBy("zone", "epsg").agg(F.count("*").alias("cnt")))


SQL_UTM = f"""
WITH pts AS ({_PTS_SQL})
SELECT CAST(floor((lon + 180.0) / 6.0) + 1 AS BIGINT) AS zone,
       CAST(CASE WHEN lat >= 0
            THEN floor((lon + 180.0) / 6.0) + 1 + 32600
            ELSE floor((lon + 180.0) / 6.0) + 1 + 32700 END AS BIGINT)
           AS epsg,
       count(*) AS cnt
FROM pts GROUP BY 1, 2
"""


def q_line_length(spark, sf_dir):
    """G6 as window+agg: per-user polyline length over event sequence
    (Window.lead + haversine + sum — SURVEY.md §2.2 G6 Spark mapping)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("lon2", F.lead("lon").over(w)) \
           .withColumn("lat2", F.lead("lat").over(w))
    seg = ev.filter(F.col("lon2").isNotNull()).withColumn(
        "d", haversine_m(F.col("lon"), F.col("lat"),
                         F.col("lon2"), F.col("lat2")))
    return (seg.groupBy("user_id")
            .agg(F.round(F.sum("d") / 1000.0).cast("long")
                 .alias("track_km")))


SQL_LINE_LENGTH = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         (event_id * 7919 % 360000) / 1000.0 - 180.0  AS lon,
         (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM events
),
seg AS (
  SELECT user_id, lon, lat,
         lead(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lon2,
         lead(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lat2
  FROM ev
)
SELECT user_id,
       CAST(round(SUM(2.0 * 6371008.8 * asin(sqrt(
           pow(sin((radians(lat2) - radians(lat)) / 2), 2)
           + cos(radians(lat)) * cos(radians(lat2))
             * pow(sin((radians(lon2) - radians(lon)) / 2), 2)
       ))) / 1000.0) AS BIGINT) AS track_km
FROM seg WHERE lon2 IS NOT NULL
GROUP BY user_id
"""


def q_transform_bounds(spark, sf_dir):
    """T6 transform_bounds as a DataFrame op on derived per-doc bboxes
    (densify-explode-agg); webmerc is separable so the oracle uses the
    corner formula."""
    from pyproj_spark.operators.bounds import transform_bounds_df
    pts = _doc_points(spark, sf_dir).filter(F.col("doc_id") < 100)
    lon_c = F.least(F.greatest(F.col("lon"), F.lit(-170.0)), F.lit(170.0))
    lat_c = F.least(F.greatest(F.col("lat"), F.lit(-80.0)), F.lit(80.0))
    boxes = pts.select(
        "doc_id",
        (lon_c - 2.0).alias("left"), (lat_c - 2.0).alias("bottom"),
        (lon_c + 2.0).alias("right"), (lat_c + 2.0).alias("top"))
    out = transform_bounds_df(boxes, "EPSG:4326", "EPSG:3857",
                              densify_pts=11, id_cols=("doc_id",))
    return out.select(
        "doc_id",
        F.round("left").cast("long").alias("xmin"),
        F.round("bottom").cast("long").alias("ymin"),
        F.round("right").cast("long").alias("xmax"),
        F.round("top").cast("long").alias("ymax"))


SQL_BOUNDS = f"""
WITH pts AS ({_PTS_SQL}),
boxes AS (
  SELECT doc_id,
         least(greatest(lon, -170.0), 170.0) - 2.0 AS l,
         least(greatest(lat, -80.0), 80.0) - 2.0   AS b,
         least(greatest(lon, -170.0), 170.0) + 2.0 AS r,
         least(greatest(lat, -80.0), 80.0) + 2.0   AS t
  FROM pts WHERE doc_id < 100
)
SELECT doc_id,
  CAST(round(6378137.0 * radians(l)) AS BIGINT) AS xmin,
  CAST(round(6378137.0 * ln(tan(pi()/4 + radians(b)/2))) AS BIGINT) AS ymin,
  CAST(round(6378137.0 * radians(r)) AS BIGINT) AS xmax,
  CAST(round(6378137.0 * ln(tan(pi()/4 + radians(t)/2))) AS BIGINT) AS ymax
FROM boxes
"""


# ------------------------------------------------------- relational queries

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style scan+filter+agg (classic operator coverage)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2)                              AS sum_qty,
       round(SUM(l_extendedprice), 2)                         AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """Broadcast join chain: orders ⋈ customer ⋈ nation + agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


SQL_REVENUE = """
SELECT n_name, round(SUM(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_event_windows(spark, sf_dir):
    """Tumbling 5-minute event windows (batch form of the streaming agg)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("w_start"), "event_type",
                    "cnt", "sum_value"))


SQL_EVENT_WINDOWS = """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS w_start, event_type,
       count(*) AS cnt, round(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_top_customers(spark, sf_dir):
    """Sort/top-k: top 20 customers by total order value (orderBy+limit)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
                 F.count("*").alias("n_orders"))
            .orderBy(F.desc("total"), "o_custkey").limit(20))


SQL_TOP_CUSTOMERS = """
SELECT o_custkey, round(SUM(o_totalprice), 2) AS total,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY total DESC, o_custkey LIMIT 20
"""


def q_order_priority(spark, sf_dir):
    """Semi-join family (TPC-H Q4 shape): orders having at least one
    returned lineitem, counted by priority. Spark plans a LEFT SEMI
    hash join — the EXISTS shape — so the probe side never duplicates
    rows and only the join key crosses the shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R").select("l_orderkey")
    return (o.join(li, o.o_orderkey == li.l_orderkey, "leftsemi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_cold_customers(spark, sf_dir):
    """Anti-join family (TPC-H Q22 shape): customers who never placed
    an urgent order, counted per nation. Spark plans a LEFT ANTI hash
    join — the NOT EXISTS shape."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (c.join(o, c.c_custkey == o.o_custkey, "leftanti")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_cold"))
            .orderBy("c_nationkey"))


SQL_COLD_CUSTOMERS = """
SELECT c_nationkey, count(*) AS n_cold
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_tile_rollup(spark, sf_dir):
    """Hierarchical rollup over the tile pyramid (the hypertable-rollup
    shape): point counts at (tx, ty), per-column subtotal, and grand
    total in ONE pass — Spark's rollup() plans a single Expand +
    hash-aggregate, so the pyramid costs one shuffle, not three."""
    from pyproj_spark.functions.tiles import tile_xy_from_lonlat
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 4)
    return (pts.select(tx.alias("tx"), ty.alias("ty"))
            .rollup("tx", "ty")
            .agg(F.count("*").alias("cnt"))
            .select(F.coalesce("tx", F.lit(-1)).alias("tx"),
                    F.coalesce("ty", F.lit(-1)).alias("ty"), "cnt"))


SQL_TILE_ROLLUP = f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 16)
                        AS BIGINT), 0), 15) AS tx,
         least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
               radians(least(greatest(lat, -85.05112877980659),
                             85.05112877980659)) / 2)) / pi())
               / 2.0 * 16) AS BIGINT), 0), 15) AS ty
  FROM pts
)
SELECT COALESCE(tx, -1) AS tx, COALESCE(ty, -1) AS ty,
       count(*) AS cnt
FROM t GROUP BY ROLLUP (tx, ty)
"""


def q_attribution(spark, sf_dir):
    """Interval join (view->purchase attribution within 30 min) — the
    BATCH form of the stream-stream join in streaming/joins.py; the
    same function builds both plans, so this oracle row gates the
    streaming operator's join semantics too (the streaming test
    asserts stream == batch on the same input)."""
    from pyproj_spark.streaming.joins import attributed_purchases
    ev = _t(spark, sf_dir, "events")
    return attributed_purchases(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"))


SQL_ATTRIBUTION = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id,
       CAST(epoch(date_trunc('second', p.ts))
            - epoch(date_trunc('second', v.ts)) AS BIGINT) AS gap_s,
       round(p.value, 2) AS value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def q_geohash(spark, sf_dir):
    """Geohash cell index (functions/geohash.py — pure Catalyst bit
    math, the interop twin of the engine's Z-order geocell): encode at
    precision 6 plus the decoded cell center, so the oracle gates the
    encode->decode composition against DuckDB's independent bit-level
    recompute of the same public spec."""
    from pyproj_spark.functions.geohash import (
        geohash_decode, geohash_encode,
    )
    pts = _doc_points(spark, sf_dir)
    gh = geohash_encode(F.col("lon"), F.col("lat"), 6)
    out = pts.withColumn("gh", gh).withColumn(
        "c", geohash_decode(F.col("gh"), 6))
    return out.select(
        "doc_id", "gh",
        F.round("c.lon", 6).alias("center_lon"),
        F.round("c.lat", 6).alias("center_lat"))


def _geohash_sql(precision: int = 6) -> str:
    """DuckDB mirror of geohash encode+decode, generated mechanically
    from the same public spec (independent recompute, not a port of
    the Catalyst expressions)."""
    from pyproj_spark.functions.geohash import ALPHABET
    n_bits = 5 * precision
    lon_bits = (n_bits + 1) // 2
    lat_bits = n_bits // 2
    char_exprs = []
    for k in range(precision):
        terms = []
        for b in range(5 * k, 5 * k + 5):
            w = 1 << (4 - b % 5)
            if b % 2 == 0:
                shift = lon_bits - 1 - b // 2
                terms.append(f"(((lon_idx >> {shift}) & 1) * {w})")
            else:
                shift = lat_bits - 1 - b // 2
                terms.append(f"(((lat_idx >> {shift}) & 1) * {w})")
        char_exprs.append(
            f"substring('{ALPHABET}', 1 + ({' + '.join(terms)}), 1)")
    gh = " || ".join(char_exprs)
    return f"""
WITH pts AS ({_PTS_SQL}),
idx AS (
  SELECT doc_id,
    least(greatest(CAST(floor((least(greatest(lon, -180.0), 180.0)
      + 180.0) / 360.0 * {1 << lon_bits}) AS BIGINT), 0),
      {(1 << lon_bits) - 1}) AS lon_idx,
    least(greatest(CAST(floor((least(greatest(lat, -90.0), 90.0)
      + 90.0) / 180.0 * {1 << lat_bits}) AS BIGINT), 0),
      {(1 << lat_bits) - 1}) AS lat_idx
  FROM pts
)
SELECT doc_id, {gh} AS gh,
  round((lon_idx + 0.5) / {1 << lon_bits} * 360.0 - 180.0, 6)
      AS center_lon,
  round((lat_idx + 0.5) / {1 << lat_bits} * 180.0 - 90.0, 6)
      AS center_lat
FROM idx
"""


def q_price_quantiles(spark, sf_dir):
    """Exact percentile aggregation (median/p90 of order value per
    priority) — Spark's exact `percentile` vs DuckDB's
    quantile_cont; both interpolate linearly, so values hash-match."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4)
                 .alias("p50"),
                 F.round(F.expr("percentile(o_totalprice, 0.9)"), 4)
                 .alias("p90"),
                 F.count("*").alias("n")))


SQL_PRICE_QUANTILES = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       count(*) AS n
FROM orders GROUP BY o_orderpriority
"""


#: NAD83 Texas SPCS83 zones south->north with the lat bands the query
#: assigns points to (zone params live in crs/catalog.py; the oracle
#: restates them from the same public EPSG sexagesimal definitions)
_TX_ZONES = [(32141, 26.0, 28.0), (32140, 28.0, 30.0),
             (32139, 30.0, 32.0), (32138, 32.0, 34.0),
             (32137, 34.0, 36.0)]


def q_stateplane(spark, sf_dir):
    """T1/T12 over the SPCS83 catalog: NAD83 lon/lat -> the five Texas
    state-plane zones (LCC-2SP, GRS80), zone chosen by lat band — the
    reference workflow ``Transformer.from_crs(4269, 32139)`` (reference
    ``pyproj/transformer.py:184-230``). The oracle recomputes the full
    Snyder LCC-2SP closed form in DuckDB from the published EPSG
    sexagesimal parameters — an independent check of both the catalog
    parameters and the projection kernel. Each zone's Arrow-UDF kernel
    is planned once and broadcast; zone dispatch happens INSIDE one
    Arrow-UDF pass (transform_xy_keyed) so the source is scanned once
    — a per-zone branch-and-union would rescan it once per zone."""
    from pyproj_spark.functions.transform import transform_xy_keyed

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 8000) / 1000.0 - 103.0).alias("lon"),
        ((F.col("doc_id") * 104729 % 10000) / 1000.0 + 26.0).alias("lat"))
    epsg = F.lit(None).cast("int")
    for code, lo, hi in reversed(_TX_ZONES):
        epsg = F.when((F.col("lat") >= lo) & (F.col("lat") < hi),
                      F.lit(code)).otherwise(epsg)
    xy = transform_xy_keyed(
        "EPSG:4269", {c: f"EPSG:{c}" for c, _, _ in _TX_ZONES},
        F.col("epsg"), F.col("lon"), F.col("lat"))
    return (docs.withColumn("epsg", epsg).withColumn("xy", xy)
            .select("doc_id", "epsg",
                    F.round(F.col("xy.x")).cast("long").alias("easting"),
                    F.round(F.col("xy.y")).cast("long").alias("northing")))


# Snyder LCC-2SP in SQL. t(phi) uses the engine's isometric-latitude
# form (kernels/projections.py:69-71) with asinh/atanh spelled via log
# identities; zone params are the EPSG sexagesimal literals, written as
# deg + min/60 so both engines build bit-identical doubles.
SQL_STATEPLANE = """
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 8000) / 1000.0 - 103.0   AS lon,
         (doc_id * 104729 % 10000) / 1000.0 + 26.0 AS lat
  FROM documents
), zones AS (
  SELECT * FROM (VALUES
    (32141, 26.0 + 10.0/60.0, 27.0 + 50.0/60.0, 25.0 + 40.0/60.0,
     -98.5, 300000.0, 5000000.0, 26.0, 28.0),
    (32140, 28.0 + 23.0/60.0, 30.0 + 17.0/60.0, 27.0 + 50.0/60.0,
     -99.0, 600000.0, 4000000.0, 28.0, 30.0),
    (32139, 30.0 + 7.0/60.0, 31.0 + 53.0/60.0, 29.0 + 40.0/60.0,
     -(100.0 + 20.0/60.0), 700000.0, 3000000.0, 30.0, 32.0),
    (32138, 32.0 + 8.0/60.0, 33.0 + 58.0/60.0, 31.0 + 40.0/60.0,
     -98.5, 600000.0, 2000000.0, 32.0, 34.0),
    (32137, 34.0 + 39.0/60.0, 36.0 + 11.0/60.0, 34.0,
     -101.5, 200000.0, 1000000.0, 34.0, 36.0)
  ) AS z(epsg, lat1, lat2, lat0, lon0, x0, y0, lo, hi)
), j AS (
  SELECT p.doc_id, p.lon, p.lat, z.*,
         sqrt(2.0/298.257222101 - 1.0/(298.257222101*298.257222101))
             AS e,
         2.0/298.257222101 - 1.0/(298.257222101*298.257222101) AS e2
  FROM pts p JOIN zones z ON p.lat >= z.lo AND p.lat < z.hi
), c AS (
  SELECT *,
    exp(-(ln(tan(radians(lat1)) + sqrt(tan(radians(lat1))
              * tan(radians(lat1)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat1)))
                         / (1.0 - e * sin(radians(lat1)))))) AS t1,
    exp(-(ln(tan(radians(lat2)) + sqrt(tan(radians(lat2))
              * tan(radians(lat2)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat2)))
                         / (1.0 - e * sin(radians(lat2)))))) AS t2,
    exp(-(ln(tan(radians(lat0)) + sqrt(tan(radians(lat0))
              * tan(radians(lat0)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat0)))
                         / (1.0 - e * sin(radians(lat0)))))) AS t0,
    exp(-(ln(tan(radians(lat)) + sqrt(tan(radians(lat))
              * tan(radians(lat)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat)))
                         / (1.0 - e * sin(radians(lat)))))) AS tp,
    cos(radians(lat1)) / sqrt(1.0 - e2 * sin(radians(lat1))
                              * sin(radians(lat1))) AS m1,
    cos(radians(lat2)) / sqrt(1.0 - e2 * sin(radians(lat2))
                              * sin(radians(lat2))) AS m2
  FROM j
), k AS (
  SELECT *, (ln(m1) - ln(m2)) / (ln(t1) - ln(t2)) AS n FROM c
), kf AS (
  SELECT *, m1 / (n * power(t1, n)) AS bigf FROM k
), geom AS (
  SELECT doc_id, epsg, x0, y0, n,
         6378137.0 * bigf * power(t0, n) AS rho0,
         6378137.0 * bigf * power(tp, n) AS rho,
         n * radians(lon - lon0) AS theta
  FROM kf
)
SELECT doc_id, epsg,
       CAST(round(rho * sin(theta) + x0) AS BIGINT) AS easting,
       CAST(round(rho0 - rho * cos(theta) + y0) AS BIGINT) AS northing
FROM geom
"""


def q_nad27_stateplane(spark, sf_dir):
    """SPCS27 catalog breadth (round-5): NAD27 lon/lat -> the five
    Texas NAD27 state-plane zones (LCC-2SP on Clarke 1866, US survey
    foot, 2,000,000-ftUS false easting), zone chosen by lat band —
    the legacy-data workflow Transformer.from_crs(4267, 32040). The
    engine reproduces Snyder's published SPCS27 worked example
    (TX SC, 28°30'N 96°W -> 2,963,503.91 / 254,759.80 ftUS) exactly;
    the oracle recomputes the full Snyder LCC-2SP closed form in
    DuckDB from the SP-235 sexagesimal constants, independently
    checking catalog parameters, clrk66 constants, ftUS conversion,
    and the projection kernel. One scan, one Arrow-UDF crossing
    (transform_xy_keyed), zone dispatch inside the kernel."""
    from pyproj_spark.functions.transform import transform_xy_keyed

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 8000) / 1000.0 - 103.0).alias("lon"),
        ((F.col("doc_id") * 104729 % 10000) / 1000.0 + 26.0).alias("lat"))
    epsg = F.lit(None).cast("int")
    for code, lo, hi in reversed(_TX27_ZONES):
        epsg = F.when((F.col("lat") >= lo) & (F.col("lat") < hi),
                      F.lit(code)).otherwise(epsg)
    xy = transform_xy_keyed(
        "EPSG:4267", {c: f"EPSG:{c}" for c, _, _ in _TX27_ZONES},
        F.col("epsg"), F.col("lon"), F.col("lat"))
    return (docs.withColumn("epsg", epsg).withColumn("xy", xy)
            .select("doc_id", "epsg",
                    F.round(F.col("xy.x")).cast("long").alias("easting"),
                    F.round(F.col("xy.y")).cast("long").alias("northing")))


_TX27_ZONES = (  # (epsg, lat band lo, hi) — same bands as stateplane
    (32041, 26.0, 28.0), (32040, 28.0, 30.0), (32039, 30.0, 32.0),
    (32038, 32.0, 34.0), (32037, 34.0, 36.0),
)

# Snyder LCC-2SP in SQL on Clarke 1866 (a = 6378206.4 m,
# b = 6356583.8 m -> e2 = 1 - (b/a)^2), output in US survey feet
# (1200/3937 m). Same closed form as SQL_STATEPLANE, NAD27 constants.
SQL_NAD27_STATEPLANE = """
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 8000) / 1000.0 - 103.0   AS lon,
         (doc_id * 104729 % 10000) / 1000.0 + 26.0 AS lat
  FROM documents
), zones AS (
  SELECT * FROM (VALUES
    (32041, 26.0 + 10.0/60.0, 27.0 + 50.0/60.0, 25.0 + 40.0/60.0,
     -98.5, 26.0, 28.0),
    (32040, 28.0 + 23.0/60.0, 30.0 + 17.0/60.0, 27.0 + 50.0/60.0,
     -99.0, 28.0, 30.0),
    (32039, 30.0 + 7.0/60.0, 31.0 + 53.0/60.0, 29.0 + 40.0/60.0,
     -(100.0 + 20.0/60.0), 30.0, 32.0),
    (32038, 32.0 + 8.0/60.0, 33.0 + 58.0/60.0, 31.0 + 40.0/60.0,
     -97.5, 32.0, 34.0),
    (32037, 34.0 + 39.0/60.0, 36.0 + 11.0/60.0, 34.0,
     -101.5, 34.0, 36.0)
  ) AS z(epsg, lat1, lat2, lat0, lon0, lo, hi)
), j AS (
  SELECT p.doc_id, p.lon, p.lat, z.*,
         sqrt(1.0 - (6356583.8/6378206.4) * (6356583.8/6378206.4))
             AS e,
         1.0 - (6356583.8/6378206.4) * (6356583.8/6378206.4) AS e2
  FROM pts p JOIN zones z ON p.lat >= z.lo AND p.lat < z.hi
), c AS (
  SELECT *,
    exp(-(ln(tan(radians(lat1)) + sqrt(tan(radians(lat1))
              * tan(radians(lat1)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat1)))
                         / (1.0 - e * sin(radians(lat1)))))) AS t1,
    exp(-(ln(tan(radians(lat2)) + sqrt(tan(radians(lat2))
              * tan(radians(lat2)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat2)))
                         / (1.0 - e * sin(radians(lat2)))))) AS t2,
    exp(-(ln(tan(radians(lat0)) + sqrt(tan(radians(lat0))
              * tan(radians(lat0)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat0)))
                         / (1.0 - e * sin(radians(lat0)))))) AS t0,
    exp(-(ln(tan(radians(lat)) + sqrt(tan(radians(lat))
              * tan(radians(lat)) + 1.0))
          - e * 0.5 * ln((1.0 + e * sin(radians(lat)))
                         / (1.0 - e * sin(radians(lat)))))) AS tp,
    cos(radians(lat1)) / sqrt(1.0 - e2 * sin(radians(lat1))
                              * sin(radians(lat1))) AS m1,
    cos(radians(lat2)) / sqrt(1.0 - e2 * sin(radians(lat2))
                              * sin(radians(lat2))) AS m2
  FROM j
), k AS (
  SELECT *, (ln(m1) - ln(m2)) / (ln(t1) - ln(t2)) AS n FROM c
), kf AS (
  SELECT *, m1 / (n * power(t1, n)) AS bigf FROM k
), geom AS (
  SELECT doc_id, epsg, n,
         6378206.4 * bigf * power(t0, n) AS rho0,
         6378206.4 * bigf * power(tp, n) AS rho,
         n * radians(lon - lon0) AS theta
  FROM kf
)
SELECT doc_id, epsg,
       CAST(round((rho * sin(theta)) / (1200.0/3937.0)
                  + 2000000.0) AS BIGINT) AS easting,
       CAST(round((rho0 - rho * cos(theta)) / (1200.0/3937.0))
            AS BIGINT) AS northing
FROM geom
"""


QUERIES = {
    "webmerc_transform": (q_webmerc_transform, SQL_WEBMERC),
    "nad27_stateplane": (q_nad27_stateplane, SQL_NAD27_STATEPLANE),
    "stateplane": (q_stateplane, SQL_STATEPLANE),
    "geocell": (q_geocell, SQL_GEOCELL),
    "s2cell": (q_s2cell, _s2_sql(_S2_LEVEL)),
    "s2_rollup": (q_s2_rollup, _s2_rollup_sql(_S2_LEVEL, 4)),
    "tiles": (q_tiles, SQL_TILES),
    "pip_join": (q_pip, SQL_PIP),
    "knn_zones": (q_knn, SQL_KNN),
    "bbox_filter": (q_bbox_filter, SQL_BBOX),
    "utm_zone": (q_utm_zone, SQL_UTM),
    "line_length": (q_line_length, SQL_LINE_LENGTH),
    "transform_bounds": (q_transform_bounds, SQL_BOUNDS),
    "pricing_summary": (q_pricing_summary, SQL_PRICING),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE),
    "event_windows": (q_event_windows, SQL_EVENT_WINDOWS),
    "top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "order_priority": (q_order_priority, SQL_ORDER_PRIORITY),
    "cold_customers": (q_cold_customers, SQL_COLD_CUSTOMERS),
    "tile_rollup": (q_tile_rollup, SQL_TILE_ROLLUP),
    "attribution": (q_attribution, SQL_ATTRIBUTION),
    "geohash": (q_geohash, _geohash_sql()),
    "price_quantiles": (q_price_quantiles, SQL_PRICE_QUANTILES),
}


def q_geod_line_length(spark, sf_dir):
    """G6 with the exact Karney kernel (rows-only check: the oracle
    cannot compute geodesics; the kernel itself is golden-tested against
    pyproj's reference values in tests/test_geodesic.py)."""
    from pyproj_spark.operators.lines import line_lengths
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("line_id"),
        F.col("event_id").alias("seq"),
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"))
    out = line_lengths(ev)
    return out.select("line_id",
                      F.round(F.col("length_m") / 1000.0).cast("long")
                      .alias("track_km"))


QUERIES["geod_line_length"] = (q_geod_line_length, None)


def q_knn_ring(spark, sf_dir):
    """Exact fact-to-fact kNN via iterative cell-ring expansion — the
    oracle recomputes with brute force, so exactness of the expansion
    algorithm is driver-verified every round."""
    from pyproj_spark.operators.knn import knn_ring_exact
    pts = _doc_points(spark, sf_dir).filter(F.col("doc_id") < 200) \
        .select(F.col("doc_id"), "lon", "lat")
    left = pts.withColumnRenamed("doc_id", "lid")
    right = pts.withColumnRenamed("doc_id", "rid")
    out = knn_ring_exact(left, right, k=3, res=3)
    return out.select("lid", "rank", "rid",
                      F.round("dist_m").cast("long").alias("dist_m"))


SQL_KNN_RING = f"""
WITH pts AS ({_PTS_SQL}),
p AS (SELECT doc_id, lon, lat FROM pts WHERE doc_id < 200),
cand AS (
  SELECT a.doc_id AS lid, b.doc_id AS rid,
         2.0 * 6371008.8 * asin(sqrt(
             pow(sin((radians(b.lat) - radians(a.lat)) / 2), 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * pow(sin((radians(b.lon) - radians(a.lon)) / 2), 2)
         )) AS d
  FROM p a JOIN p b ON a.doc_id != b.doc_id
),
ranked AS (
  SELECT lid, rid, d,
         row_number() OVER (PARTITION BY lid ORDER BY d, rid) AS rank
  FROM cand
)
SELECT lid, rank, rid, CAST(round(d) AS BIGINT) AS dist_m
FROM ranked WHERE rank <= 3
"""

QUERIES["knn_ring"] = (q_knn_ring, SQL_KNN_RING)


def q_wkt_roundtrip(spark, sf_dir):
    """Distributed WKT round trip: every point's UTM CRS is serialized
    to WKT2 driver-side (120-row broadcast dimension), then PARSED BACK
    in one ``map_rows`` stage on the executors (CRS.from_wkt with a
    per-task cache — one parse per distinct WKT). The recovered EPSG
    code and central meridian must equal the oracle's pure arithmetic —
    so WKT parsing itself is driver-gated every round."""
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.rows import map_rows

    parsed: dict = {}

    def _parse_wkt(epsg, wkt):
        if wkt not in parsed:
            c = CRS.from_wkt(wkt)
            parsed[wkt] = (c.to_epsg(),
                           float(c.proj_params.get("lon_0", 0.0)))
        return [(epsg, *parsed[wkt])]

    mapping = [(32600 + z, CRS.from_epsg(32600 + z).to_wkt())
               for z in range(1, 61)]
    mapping += [(32700 + z, CRS.from_epsg(32700 + z).to_wkt())
                for z in range(1, 61)]
    mdf = spark.createDataFrame(mapping, "epsg long, wkt string")

    pts = _doc_points(spark, sf_dir)
    zone = (F.floor((F.col("lon") + 180.0) / 6.0) + 1).cast("long")
    epsg = F.when(F.col("lat") >= 0, zone + 32600).otherwise(zone + 32700)
    joined = pts.select("doc_id", epsg.alias("epsg")) \
        .join(F.broadcast(mdf), "epsg")
    return (map_rows(joined, ["epsg", "wkt"],
                     "epsg long, rt_code long, lon_0 double", _parse_wkt)
            .groupBy("epsg", "rt_code", "lon_0")
            .agg(F.count("*").alias("cnt")))


SQL_WKT_ROUNDTRIP = f"""
WITH pts AS ({_PTS_SQL}),
z AS (
  SELECT doc_id,
         CAST(floor((lon + 180.0) / 6.0) + 1 AS BIGINT) AS zone,
         lat
  FROM pts
)
SELECT CAST(CASE WHEN lat >= 0 THEN zone + 32600
            ELSE zone + 32700 END AS BIGINT) AS epsg,
       CAST(CASE WHEN lat >= 0 THEN zone + 32600
            ELSE zone + 32700 END AS BIGINT) AS rt_code,
       CAST(zone * 6 - 183 AS DOUBLE) AS lon_0,
       count(*) AS cnt
FROM z GROUP BY 1, 2, 3
"""

QUERIES["wkt_roundtrip"] = (q_wkt_roundtrip, SQL_WKT_ROUNDTRIP)


def q_grid_shift(spark, sf_dir):
    """Gridded datum shift (NAD27 -> NAD83 through the registered shift
    grid): points mapped into the grid window, transformed through the
    engine's bilinear hgridshift kernel, with the per-row op_id column
    (= OP_GRID for in-coverage rows). The oracle recomputes the bilinear
    interpolation from the grid's closed-form node values — the grid
    LOOKUP itself is driver-gated every round."""
    pts = _doc_points(spark, sf_dir)
    lon_c = -125.0 + (F.col("lon") + 180.0) / 360.0 * 59.0
    lat_c = 24.0 + (F.col("lat") + 85.0) / 170.0 * 26.0
    pts = pts.select("doc_id", lon_c.alias("lon27"), lat_c.alias("lat27"))
    xy = transform_xy("EPSG:4267", "EPSG:4269", F.col("lon27"),
                      F.col("lat27"), with_op_id=True)
    return pts.withColumn("xy", xy).select(
        "doc_id",
        F.round(F.col("xy.x"), 7).alias("lon83"),
        F.round(F.col("xy.y"), 7).alias("lat83"),
        F.col("xy.op_id").cast("long").alias("op_id"))


# closed-form node values — MUST match kernels/grids.py _synth_dlon_sec/
# _synth_dlat_sec; grid window (-125, 24, -66, 50), 0.25-degree step
SQL_GRID_SHIFT = f"""
WITH pts AS ({_PTS_SQL}),
c AS (
  SELECT doc_id,
         -125.0 + (lon + 180.0) / 360.0 * 59.0 AS lon27,
         24.0 + (lat + 85.0) / 170.0 * 26.0    AS lat27
  FROM pts
),
g AS (
  SELECT doc_id, lon27, lat27,
         least(CAST(floor((lon27 + 125.0) / 0.25) AS BIGINT), 235) AS ix,
         least(CAST(floor((lat27 - 24.0) / 0.25) AS BIGINT), 103)  AS iy,
         (lon27 + 125.0) / 0.25
             - least(CAST(floor((lon27 + 125.0) / 0.25) AS BIGINT), 235)
             AS tx,
         (lat27 - 24.0) / 0.25
             - least(CAST(floor((lat27 - 24.0) / 0.25) AS BIGINT), 103)
             AS ty
  FROM c
),
s AS (
  SELECT doc_id, lon27, lat27, tx, ty,
    (0.35*sin(0.11*ix)     + 0.21*cos(0.07*iy)     + 0.8) AS lo00,
    (0.35*sin(0.11*(ix+1)) + 0.21*cos(0.07*iy)     + 0.8) AS lo10,
    (0.35*sin(0.11*ix)     + 0.21*cos(0.07*(iy+1)) + 0.8) AS lo01,
    (0.35*sin(0.11*(ix+1)) + 0.21*cos(0.07*(iy+1)) + 0.8) AS lo11,
    (0.27*cos(0.05*ix)     - 0.18*sin(0.13*iy)     + 0.4) AS la00,
    (0.27*cos(0.05*(ix+1)) - 0.18*sin(0.13*iy)     + 0.4) AS la10,
    (0.27*cos(0.05*ix)     - 0.18*sin(0.13*(iy+1)) + 0.4) AS la01,
    (0.27*cos(0.05*(ix+1)) - 0.18*sin(0.13*(iy+1)) + 0.4) AS la11
  FROM g
)
SELECT doc_id,
  round(lon27 + (lo00*(1-tx)*(1-ty) + lo10*tx*(1-ty)
               + lo01*(1-tx)*ty + lo11*tx*ty) / 3600.0, 7) AS lon83,
  round(lat27 + (la00*(1-tx)*(1-ty) + la10*tx*(1-ty)
               + la01*(1-tx)*ty + la11*tx*ty) / 3600.0, 7) AS lat83,
  CAST(5 AS BIGINT) AS op_id
FROM s
"""

QUERIES["grid_shift"] = (q_grid_shift, SQL_GRID_SHIFT)


def q_vertical_shift(spark, sf_dir):
    """Compound-CRS vertical transform (reference transformer.py:
    841-985 z semantics): gravity-related heights H on a synthetic
    vertical datum become ellipsoidal heights h = H + N(lon, lat)
    through the registered geoid surface (kernels/grids.py::GeoidGrid,
    PROJ's vgridshift), fused with the horizontal leg in ONE Arrow-UDF
    crossing (transform_xyz on CompoundCRS(4326+vertical) -> EPSG:4979).
    The oracle recomputes the bilinear undulation from the geoid's
    closed-form node values — the same replay pattern as grid_shift."""
    from pyproj_spark.crs.builders import CompoundCRS, VerticalCRS
    from pyproj_spark.functions.transform import transform_xyz
    vert = VerticalCRS("Synth height", "NAVD88 (synth)",
                       geoid_model="SYNTH2025")
    comp = CompoundCRS("WGS 84 + synth height", ["EPSG:4326", vert])
    pts = _doc_points(spark, sf_dir).select(
        "doc_id", "lon", "lat",
        ((F.col("doc_id") % 4000) / 10.0 - 200.0).alias("h_grav"))
    xyz = transform_xyz(comp, "EPSG:4979", F.col("lon"), F.col("lat"),
                        F.col("h_grav"))
    return pts.withColumn("o", xyz).select(
        "doc_id",
        F.round(F.col("o.x"), 7).alias("lon_out"),
        F.round(F.col("o.y"), 7).alias("lat_out"),
        F.round(F.col("o.z"), 6).alias("h_ell"))


# closed-form geoid node values — MUST match kernels/grids.py
# _synth_geoid_m; global window (-180, -90, 180, 90), 1-degree step
def _vertical_shift_sql():
    # literals CAST to DOUBLE: DuckDB parses 0.011 as DECIMAL, making
    # 0.011*120*150 EXACTLY 198.0 while float64 gives 197.99999999...,
    # which lands on the other side of the fmod(., 6) discontinuity
    # (0.31 m node swing). Both engines must do IEEE double arithmetic.
    n = ("(-12.0 + 9.0*sin(CAST(0.045 AS DOUBLE)*({ix})) "
         "+ 7.0*cos(CAST(0.03 AS DOUBLE)*({iy})) "
         "+ 2.0*sin(fmod(CAST(0.011 AS DOUBLE)*({ix})*({iy}), 6.0)))")
    return f"""
WITH pts AS ({_PTS_SQL}),
c AS (
  SELECT doc_id, lon, lat,
         (doc_id % 4000) / 10.0 - 200.0 AS h_grav,
         least(CAST(floor(lon + 180.0) AS BIGINT), 359) AS ix,
         least(CAST(floor(lat + 90.0) AS BIGINT), 179)  AS iy,
         (lon + 180.0) - least(CAST(floor(lon + 180.0) AS BIGINT), 359)
             AS tx,
         (lat + 90.0) - least(CAST(floor(lat + 90.0) AS BIGINT), 179)
             AS ty
  FROM pts
)
SELECT doc_id,
  round(lon, 7) AS lon_out,
  round(lat, 7) AS lat_out,
  round(h_grav
        + {n.format(ix='ix', iy='iy')} * (1-tx) * (1-ty)
        + {n.format(ix='ix+1', iy='iy')} * tx * (1-ty)
        + {n.format(ix='ix', iy='iy+1')} * (1-tx) * ty
        + {n.format(ix='ix+1', iy='iy+1')} * tx * ty, 6) AS h_ell
FROM c
"""


QUERIES["vertical_shift"] = (q_vertical_shift, _vertical_shift_sql())


def q_grid_inventory(spark, sf_dir):
    """get_transform_grid_list surface as a DataFrame op: per grid, how
    many derived points fall in its extent (broadcast bbox containment
    join over the bundled inventory — sync.py:214-280 analog)."""
    from pyproj_spark.sync import get_transform_grid_list
    feats = get_transform_grid_list(include_already_downloaded=True)
    rows = []
    for f in feats:
        ring = f["geometry"]["coordinates"][0]
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        rows.append((f["properties"]["name"], min(xs), min(ys),
                     max(xs), max(ys)))
    inv = spark.createDataFrame(
        rows, "name string, w double, s double, e double, n double")
    pts = _doc_points(spark, sf_dir)
    cond = ((F.col("lon") >= F.col("w")) & (F.col("lon") <= F.col("e"))
            & (F.col("lat") >= F.col("s")) & (F.col("lat") <= F.col("n")))
    return (pts.join(F.broadcast(inv), cond)
            .groupBy("name").agg(F.count("*").alias("cnt")))


def _grid_inventory_sql() -> str:
    from pyproj_spark.sync import _GRID_FEATURES
    vals = ", ".join(f"('{n}', {w!r}, {s!r}, {e!r}, {no!r})"
                     for n, _sid, _a, w, s, e, no in _GRID_FEATURES)
    return f"""
WITH pts AS ({_PTS_SQL}),
inv AS (SELECT * FROM (VALUES {vals}) AS i(name, w, s, e, n))
SELECT name, count(*) AS cnt
FROM pts JOIN inv
  ON lon >= w AND lon <= e AND lat >= s AND lat <= n
GROUP BY name
"""


QUERIES["grid_inventory"] = (q_grid_inventory, _grid_inventory_sql())


def q_polygon_area(spark, sf_dir):
    """G8 as an in-plan DataFrame op: spherical shoelace area per zone
    ring via native array HOFs (the exact ellipsoidal kernel is
    golden-tested in kernels/area.py; this is its cheap Catalyst twin
    for scale predicates). Row count is tied to the documents table
    through the PIP join so the query exercises real data flow."""
    from pyproj_spark.functions.transform import spherical_ring_area_m2
    pts = _doc_points(spark, sf_dir)
    hits = pip_join(pts, _zones_df(spark)).groupBy("zone_id") \
        .agg(F.count("*").alias("n_points"))
    zones = _zones_df(spark).select(
        "zone_id",
        F.round(spherical_ring_area_m2(F.col("ring")) / 1e6)
        .cast("long").alias("area_km2"))
    return zones.join(hits, "zone_id", "left") \
        .select("zone_id", "area_km2",
                F.coalesce("n_points", F.lit(0)).alias("n_points"))


SQL_POLYGON_AREA = f"""
WITH pts AS ({_PTS_SQL}),
edges AS ({_zone_edges_sql()}),
area AS (
  SELECT zone_id,
         -- Δλ wrapped to (-π, π] exactly as the Spark HOF does:
         -- pmod(d + π, 2π) - π with pmod emulated as ((x%m)+m)%m
         CAST(round(abs(SUM((mod(mod(radians(x2) - radians(x1) + pi(),
                                     2 * pi()) + 2 * pi(), 2 * pi())
                             - pi())
                            * (sin(radians(y1)) + sin(radians(y2)))))
                    * 6371008.8 * 6371008.8 / 2.0 / 1e6) AS BIGINT)
             AS area_km2
  FROM edges GROUP BY zone_id
),
hits AS (
  SELECT doc_id, zone_id
  FROM pts p CROSS JOIN edges e
  GROUP BY doc_id, zone_id, lon, lat
  HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                   AND lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                  THEN 1 ELSE 0 END) % 2 = 1
),
cnt AS (SELECT zone_id, count(*) AS n_points FROM hits GROUP BY zone_id)
SELECT a.zone_id, a.area_km2, coalesce(cnt.n_points, 0) AS n_points
FROM area a LEFT JOIN cnt ON a.zone_id = cnt.zone_id
"""

QUERIES["polygon_area"] = (q_polygon_area, SQL_POLYGON_AREA)


def q_crs_catalog(spark, sf_dir):
    """§2.4 catalog surface as an oracle-gated DataFrame query:
    query_crs_info with a Europe AOI intersect filter, grouped by type
    and datum (the oracle mirrors the catalog as a VALUES table built
    from the same bundled rows)."""
    from pyproj_spark.aoi import AreaOfInterest
    from pyproj_spark.catalog_api import query_crs_info
    aoi = AreaOfInterest(-10.0, 35.0, 30.0, 70.0)
    df = query_crs_info(spark, auth_name="EPSG", area_of_interest=aoi)
    return df.groupBy("type", "datum").agg(F.count("*").alias("cnt"))


def _crs_catalog_sql() -> str:
    from pyproj_spark.catalog_api import _DATUM_AOU
    from pyproj_spark.crs import catalog as _cat
    rows = []
    for auth, code, kind, name, datum in _cat.all_codes():
        w, s, e, n = _DATUM_AOU.get(datum, (-180, -90, 180, 90))
        rows.append(f"('{kind}', '{datum}', {float(w)!r}, {float(s)!r}, "
                    f"{float(e)!r}, {float(n)!r})")
    return f"""
WITH cat AS (SELECT * FROM (VALUES {', '.join(rows)})
             AS c(type, datum, west, south, east, north))
SELECT type, datum, count(*) AS cnt
FROM cat
WHERE west < 30.0 AND -10.0 < east AND south < 70.0 AND 35.0 < north
GROUP BY type, datum
"""


QUERIES["crs_catalog"] = (q_crs_catalog, _crs_catalog_sql())


def q_first_seen(spark, sf_dir):
    """Batch form of streaming/dedup.py's first-seen-wins semantics
    (the state-store operator emits each key's first arrival; in batch
    that is the rank-1 row per key by event time with a deterministic
    tie-break) — driver-gates the dedup semantics the streaming tests
    assert against."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    return (ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_type",
                    F.col("event_id").alias("first_event_id"),
                    F.col("ts").alias("first_ts")))


SQL_FIRST_SEEN = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM ranked WHERE rn = 1
"""

QUERIES["first_seen"] = (q_first_seen, SQL_FIRST_SEEN)


def q_user_sessions(spark, sf_dir):
    """Session windows (30-min inactivity gap) per user over the event
    stream — Spark's native session_window; the oracle recomputes with
    the classic gaps-and-islands SQL (lag + cumulative flag sum), which
    is exactly what session_window computes for static data."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "sum_value"))


SQL_USER_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, value,
         -- >= : Spark merges an event only when it lands STRICTLY
         -- inside [session_start, last_event + gap)
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, round(SUM(value), 2) AS sum_value
FROM s GROUP BY user_id, session_id
"""

QUERIES["user_sessions"] = (q_user_sessions, SQL_USER_SESSIONS)


def q_geocent_transform(spark, sf_dir):
    """3D kernel path (T3 z-variant): geodetic lon/lat/h -> EPSG:4978
    geocentric XYZ through transform_xyz; the oracle recomputes the
    closed-form geodetic->geocentric conversion (N = a/sqrt(1-e2 sin2),
    X = (N+h) cos cos, ...) so the 3D Arrow-UDF crossing and the
    datum kernel are value-hash-gated."""
    from pyproj_spark.functions.transform import transform_xyz
    pts = _doc_points(spark, sf_dir).withColumn(
        "h", (F.col("doc_id") % 9000).cast("double"))
    xyz = transform_xyz("EPSG:4326", "EPSG:4978",
                        F.col("lon"), F.col("lat"), F.col("h"))
    # + 0.0 folds IEEE negative zero (sin(-pi) ~ -1e-16 rounds to -0.0
    # on one engine and 0.0 on the other, which value-hash differently)
    return pts.withColumn("p", xyz).select(
        "doc_id",
        (F.round(F.col("p.x"), 2) + 0.0).alias("gx"),
        (F.round(F.col("p.y"), 2) + 0.0).alias("gy"),
        (F.round(F.col("p.z"), 2) + 0.0).alias("gz"))


SQL_GEOCENT = f"""
WITH pts AS ({_PTS_SQL}),
g AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi,
         CAST(doc_id % 9000 AS DOUBLE) AS h,
         6378137.0 / sqrt(1.0 - 0.0066943799901413165
                          * sin(radians(lat)) * sin(radians(lat))) AS N
  FROM pts
)
SELECT doc_id,
       round((N + h) * cos(phi) * cos(lam), 2) + 0.0 AS gx,
       round((N + h) * cos(phi) * sin(lam), 2) + 0.0 AS gy,
       round((N * (1.0 - 0.0066943799901413165) + h) * sin(phi), 2) + 0.0
           AS gz
FROM g
"""

QUERIES["geocent_transform"] = (q_geocent_transform, SQL_GEOCENT)


def q_geod_sphere(spark, sf_dir):
    """G1/G2 driver-gated: Karney inverse on a SPHERE (f=0) crossed
    against the closed-form great-circle formulas the DuckDB oracle can
    evaluate (the exact-ellipsoid path stays pytest-golden + the
    rows-only geod_line_length query). Pairs are derived
    deterministically from doc_id; near-antipodal pairs (> 15,000 km)
    are excluded because azimuth there is ill-conditioned in ANY
    formulation."""
    from pyproj_spark.functions.transform import geod_inverse, haversine_m
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon1"),
        ((F.col("doc_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat1"),
        ((F.col("doc_id") * 31337 % 360000) / 1000.0 - 180.0).alias("lon2"),
        ((F.col("doc_id") * 27644437 % 160000) / 1000.0 - 80.0)
        .alias("lat2"))
    pts = pts.filter(haversine_m(F.col("lon1"), F.col("lat1"),
                                 F.col("lon2"), F.col("lat2"))
                     < 15_000_000.0)
    g = geod_inverse("sphere", F.col("lon1"), F.col("lat1"),
                     F.col("lon2"), F.col("lat2"))
    return pts.withColumn("g", g).select(
        "doc_id",
        (F.round(F.col("g.az12"), 8) + 0.0).alias("az12"),
        (F.round(F.col("g.az21"), 8) + 0.0).alias("az21"),
        (F.round(F.col("g.dist"), 4) + 0.0).alias("dist_m"))


# closed-form great-circle inverse on the PROJ "sphere" ellipsoid
# (R = 6370997 m); az21 is the pyproj back-azimuth convention =
# bearing from point 2 back to point 1
SQL_GEOD_SPHERE = """
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 360000) / 1000.0 - 180.0    AS lon1,
         (doc_id * 104729 % 170000) / 1000.0 - 85.0   AS lat1,
         (doc_id * 31337 % 360000) / 1000.0 - 180.0   AS lon2,
         (doc_id * 27644437 % 160000) / 1000.0 - 80.0 AS lat2
  FROM documents
),
keep AS (
  SELECT * FROM pts
  WHERE 2.0 * 6371008.8 * asin(sqrt(
          pow(sin((radians(lat2) - radians(lat1)) / 2), 2)
          + cos(radians(lat1)) * cos(radians(lat2))
            * pow(sin((radians(lon2) - radians(lon1)) / 2), 2)))
        < 15000000.0
),
t AS (
  SELECT doc_id,
         radians(lat1) AS p1, radians(lat2) AS p2,
         radians(lon2 - lon1) AS dl, radians(lon1 - lon2) AS dlr
  FROM keep
)
SELECT doc_id,
       round(degrees(atan2(cos(p2) * sin(dl),
                           cos(p1) * sin(p2)
                           - sin(p1) * cos(p2) * cos(dl))), 8) + 0.0
           AS az12,
       round(degrees(atan2(cos(p1) * sin(dlr),
                           cos(p2) * sin(p1)
                           - sin(p2) * cos(p1) * cos(dlr))), 8) + 0.0
           AS az21,
       round(6370997.0 * atan2(
           sqrt(pow(cos(p2) * sin(dl), 2)
                + pow(cos(p1) * sin(p2)
                      - sin(p1) * cos(p2) * cos(dl), 2)),
           sin(p1) * sin(p2) + cos(p1) * cos(p2) * cos(dl)), 4) + 0.0
           AS dist_m
FROM t
"""

QUERIES["geod_sphere"] = (q_geod_sphere, SQL_GEOD_SPHERE)


def q_factors(spark, sf_dir):
    """T8 driver-gated: Proj.get_factors through the Arrow-UDF path on
    Web Mercator, whose factors have closed forms the oracle recomputes
    (k = h = sec phi, areal = sec^2 phi — spherical convention, PROJ
    does the same for webmerc). |lat| <= 60 keeps the finite-difference
    partials far from the sec-phi blowup; |lon| <= 175 keeps the
    finite-difference lon step off the antimeridian wrap. Rounded at
    4 decimals: the FD partials carry ~2e-10 error, so finer rounding
    flips boundary rows against the closed form."""
    from pyproj_spark.functions.transform import proj_factors
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 350000) / 1000.0 - 175.0).alias("lon"),
        ((F.col("doc_id") * 104729 % 120000) / 1000.0 - 60.0).alias("lat"))
    f = proj_factors("EPSG:3857", F.col("lon"), F.col("lat"))
    return pts.withColumn("f", f).select(
        "doc_id",
        (F.round(F.col("f.h"), 4) + 0.0).alias("h"),
        (F.round(F.col("f.k"), 4) + 0.0).alias("k"),
        (F.round(F.col("f.areal"), 4) + 0.0).alias("areal"))


SQL_FACTORS = """
SELECT doc_id,
       round(1.0 / cos(radians((doc_id * 104729 % 120000) / 1000.0
                               - 60.0)), 4) + 0.0 AS h,
       round(1.0 / cos(radians((doc_id * 104729 % 120000) / 1000.0
                               - 60.0)), 4) + 0.0 AS k,
       round(pow(1.0 / cos(radians((doc_id * 104729 % 120000) / 1000.0
                                   - 60.0)), 2), 4) + 0.0 AS areal
FROM documents
"""

QUERIES["factors"] = (q_factors, SQL_FACTORS)


def q_asof_view(spark, sf_dir):
    """As-of join: each purchase is matched to the SAME user's most
    recent view at-or-before it (≤ 72 h tolerance) — nearest-predecessor
    semantics the interval-join `attribution` query cannot express
    (attribution keeps ALL views in the window; as-of keeps exactly
    the latest one). The oracle is DuckDB's native ASOF LEFT JOIN, so
    this row checks our union+running-window construction against a
    reference implementation of the operator itself.

    The right side is deduped per (user, ts) with max_by — a documented
    precondition of asof_join (ties would otherwise be order-
    dependent)."""
    from pyproj_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max_by("event_id", "event_id").alias("view_id"),
                  F.max_by("value", "event_id").alias("view_value")))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "value"))
    j = asof_join(buys, views, on="user_id", left_ts="ts",
                  right_ts="ts", tolerance_us=72 * 3600 * 1000000,
                  right_prefix="v_")
    return j.select(
        F.col("event_id").alias("buy_id"), "user_id",
        F.coalesce("v_view_id", F.lit(-1)).alias("view_id"),
        F.round(F.coalesce("v_view_value", F.lit(0.0)), 6)
        .alias("view_value"),
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp"))
                   - F.unix_micros(F.col("v_ts").cast("timestamp")),
                   F.lit(-1)).alias("gap_us"))


SQL_ASOF_VIEW = """
WITH v AS (
  SELECT user_id, ts,
         max_by(event_id, event_id) AS view_id,
         max_by(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), j AS (
  SELECT p.event_id AS buy_id, p.user_id, p.ts AS bts,
         v.view_id, v.view_value, v.ts AS vts
  FROM p ASOF LEFT JOIN v
    ON p.user_id = v.user_id AND p.ts >= v.ts
)
SELECT buy_id, user_id,
  CASE WHEN vts IS NOT NULL
        AND epoch_us(bts) - epoch_us(vts) <= 259200000000
       THEN view_id ELSE -1 END AS view_id,
  round(CASE WHEN vts IS NOT NULL
              AND epoch_us(bts) - epoch_us(vts) <= 259200000000
             THEN view_value ELSE 0.0 END, 6) AS view_value,
  CASE WHEN vts IS NOT NULL
        AND epoch_us(bts) - epoch_us(vts) <= 259200000000
       THEN epoch_us(bts) - epoch_us(vts) ELSE -1 END AS gap_us
FROM j
"""

QUERIES["asof_view"] = (q_asof_view, SQL_ASOF_VIEW)


def q_lang_pivot(spark, sf_dir):
    """PIVOT (the one relational family not yet in the gate): per
    source, language counts spread into columns plus mean doc length
    per language. The lang values are given explicitly so Catalyst
    plans ONE pass (a single hash aggregate over pivot expressions —
    no extra distinct job, no second shuffle); the oracle reproduces
    it with conditional aggregation, which is exactly what the Expand-
    free pivot lowers to."""
    langs = ["de", "en", "es", "fr", "zh"]
    d = _t(spark, sf_dir, "documents")
    p = (d.groupBy("source").pivot("lang", langs)
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.round(F.avg("n_chars"), 4).alias("len")))
    # pivot emits <lang>_cnt / <lang>_len; normalize names + null->0
    cols = [F.col("source")]
    for lg in langs:
        cols.append(F.coalesce(F.col(f"{lg}_cnt"), F.lit(0))
                    .cast("long").alias(f"cnt_{lg}"))
        cols.append(F.coalesce(F.col(f"{lg}_len"), F.lit(0.0))
                    .alias(f"len_{lg}"))
    return p.select(*cols)


def _lang_pivot_sql():
    parts = []
    for lg in ("de", "en", "es", "fr", "zh"):
        parts.append(f"count(*) FILTER (lang = '{lg}') AS cnt_{lg}")
        parts.append(f"coalesce(round(avg(n_chars) "
                     f"FILTER (lang = '{lg}'), 4), 0.0) AS len_{lg}")
    return ("SELECT source, " + ", ".join(parts)
            + " FROM documents GROUP BY source")


QUERIES["lang_pivot"] = (q_lang_pivot, _lang_pivot_sql())


def q_hexcell(spark, sf_dir):
    """Hexagonal (H3-style) cell encode + per-cell counts — the third
    cell-index family (quadtree geocell, geohash, hex). Pure Catalyst:
    mercator projection, axial transform, cube rounding with the
    repair CASE — never leaves WholeStageCodegen; the oracle inlines
    the identical arithmetic (shared floor(+0.5) rounding convention,
    so boundary points cannot flip between engines)."""
    from pyproj_spark.functions.hexcell import hex_of
    pts = _doc_points(spark, sf_dir)
    return (pts.withColumn("hex", hex_of(F.col("lon"), F.col("lat"), 6))
            .groupBy("hex").agg(F.count("*").alias("cnt")))


def _hexcell_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    return (f"WITH pts AS ({_PTS_SQL})\n"
            f"SELECT {hex_sql(6)} AS hex, count(*) AS cnt\n"
            f"FROM pts GROUP BY 1")


QUERIES["hexcell"] = (q_hexcell, _hexcell_sql())


def q_zorder(spark, sf_dir):
    """Z-order (Morton) write-layout keys: per-point keys plus the
    layout proof — range-bucketing the corpus into 16 key ranges and
    reporting each bucket's bbox extent. Compact per-bucket extents
    are exactly what makes written files min/max-prunable at 10^12
    rows; the oracle recomputes keys (the full shift-mask spreading
    ladder, inlined in SQL) and buckets with ntile. The global ntile
    window is oracle-comparison scaffolding only (deterministic exact
    16-quantiles on a small gate input) — the production write path
    is sampling-based repartitionByRange on the same key, see
    functions/zorder.py."""
    from pyproj_spark.functions.zorder import zorder_of
    pts = _doc_points(spark, sf_dir)
    keyed = pts.withColumn("zkey",
                           zorder_of(F.col("lon"), F.col("lat"), 10))
    w = Window.orderBy("zkey", "doc_id")
    return (keyed.withColumn("bucket", F.ntile(16).over(w))
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"),
                 F.min("zkey").alias("zmin"),
                 F.max("zkey").alias("zmax"),
                 F.round(F.max("lon") - F.min("lon"), 6)
                 .alias("lon_span"),
                 F.round(F.max("lat") - F.min("lat"), 6)
                 .alias("lat_span")))


def _zorder_sql():
    from pyproj_spark.functions.zorder import zorder_sql
    return f"""
WITH pts AS ({_PTS_SQL}),
keyed AS (
  SELECT doc_id, lon, lat, {zorder_sql(10)} AS zkey FROM pts
),
b AS (
  SELECT *, ntile(16) OVER (ORDER BY zkey, doc_id) AS bucket FROM keyed
)
SELECT bucket, count(*) AS cnt, min(zkey) AS zmin, max(zkey) AS zmax,
       round(max(lon) - min(lon), 6) AS lon_span,
       round(max(lat) - min(lat), 6) AS lat_span
FROM b GROUP BY bucket
"""


QUERIES["zorder"] = (q_zorder, _zorder_sql())


def q_profile(spark, sf_dir):
    """ANALYZE-style table profile of documents: per-column null /
    exact-distinct / min / max / means, ALL columns in one scan (the
    multi-COUNT(DISTINCT) Expand plan). The oracle recomputes each
    column's statistics independently and unions them."""
    from pyproj_spark.operators.profile import profile_table
    return profile_table(_t(spark, sf_dir, "documents"),
                         ["doc_id", "lang", "source", "n_chars"])


def _profile_sql():
    parts = []
    for c, isnum in (("doc_id", True), ("lang", False),
                     ("source", False), ("n_chars", True)):
        mean_num = f"round(avg({c}), 4)" if isnum else \
            "CAST(NULL AS DOUBLE)"
        mean_len = "CAST(NULL AS DOUBLE)" if isnum else \
            f"round(avg(length({c})), 4)"
        parts.append(f"""
SELECT '{c}' AS column, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_s,
       CAST(max({c}) AS VARCHAR) AS max_s,
       {mean_num} AS mean_num, {mean_len} AS mean_len
FROM documents""")
    return " UNION ALL ".join(parts)


QUERIES["profile"] = (q_profile, _profile_sql())


def q_pipeline_e2e(spark, sf_dir):
    """The WHOLE ingestion-to-tiles pipeline in one oracle-gated
    query: documents are serialized into multi-record WARC files
    (gzip members on odd files) with a geo anchor embedded in each
    page's HTML; sources/warc.py parses the container bytes and
    extracts text; operators/extract.py pulls the anchors back out of
    the extracted text (regex, byte-identity contract); one Arrow-UDF
    crossing (extract.normalize_and_project, the flagship's) normalizes
    them to EPSG:4326 and projects them to EPSG:3857; native tile math
    assigns slippy z=8 tiles; and per-tile counts aggregate. The oracle
    computes the same tiles arithmetically straight from the anchor
    formula — every stage in between (WARC framing, charset decode,
    tag stripping, anchor regex, float round-trip through text,
    projection, tiling) must be exact for the hash to match."""
    from pyproj_spark.functions.tiles import tile_xy
    from pyproj_spark.operators.extract import (extract_anchors,
                                                normalize_and_project)
    from pyproj_spark.sources.warc import warc_date, warc_files, warc_pages

    d = _doc_points(spark, sf_dir) \
        .join(_t(spark, sf_dir, "documents").select("doc_id", "text"),
              "doc_id")

    def page(doc_id, text, lon, lat):
        html = (f"<html><body><p>{text}</p><p>@geo({lon!r},"
                f"{lat!r})</p></body></html>").encode()
        return (f"https://ex.org/{doc_id}", warc_date(1704067200 + doc_id),
                html)

    warcs = warc_files(d, ["doc_id", "text", "lon", "lat"], 25, page)
    pages = warc_pages(warcs).select("url", "text")
    anchors = extract_anchors(pages, normalize_crs=False)
    xy = normalize_and_project(F.col("x"), F.col("y"), F.col("src_crs"))
    tx, ty = tile_xy(F.col("xy.px"), F.col("xy.py"), 8)
    return (anchors.withColumn("xy", xy)
            .select(tx.alias("tx"), ty.alias("ty"), "url")
            .groupBy("tx", "ty")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.countDistinct("url").alias("n_docs")))


SQL_PIPELINE_E2E = f"""
WITH pts AS ({_PTS_SQL})
SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT),
                      0), 255) AS tx,
       least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
             radians(least(greatest(lat, -85.05112877980659),
                           85.05112877980659)) / 2)) / pi()) / 2.0 * 256)
             AS BIGINT), 0), 255) AS ty,
       count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
FROM pts GROUP BY 1, 2
"""

QUERIES["pipeline_e2e"] = (q_pipeline_e2e, SQL_PIPELINE_E2E)


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO / CDC apply (SCD-1): a deterministic change feed —
    deletes for o_orderkey % 7 == 0, price+status updates for % 7 in
    (1, 2), brand-new keys above the max — is applied to orders via
    one full-outer join (the Iceberg copy-on-write MERGE plan shape).
    The oracle recomputes the merged state set-algebraically; row
    counts AND values must match, so insert/update/delete/passthrough
    paths are all hash-gated."""
    from pyproj_spark.operators.merge import merge_upsert
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"))
    k = F.col("o_orderkey")
    upd = (o.filter((k % 7 == 1) | (k % 7 == 2))
           .select("o_orderkey", "o_custkey",
                   F.lit("U").alias("o_orderstatus"),
                   F.round(F.col("o_totalprice") + 10.0, 2)
                   .alias("o_totalprice"),
                   F.lit("upsert").alias("_op")))
    dels = (o.filter(k % 7 == 0)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    "o_totalprice", F.lit("delete").alias("_op")))
    news = (o.filter(k % 11 == 3)
            .select((k + 1000000).alias("o_orderkey"), "o_custkey",
                    F.lit("N").alias("o_orderstatus"),
                    F.lit(1.0).alias("o_totalprice"),
                    F.lit("upsert").alias("_op")))
    feed = upd.unionByName(dels).unionByName(news)
    merged = merge_upsert(o, feed, ["o_orderkey"])
    return merged.select("o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice")


SQL_MERGE_UPSERT = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         round(o_totalprice, 2) AS o_totalprice
  FROM orders
)
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 7 IN (1, 2) THEN 'U'
            ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 7 IN (1, 2)
            THEN round(o_totalprice + 10.0, 2)
            ELSE o_totalprice END AS o_totalprice
FROM o WHERE o_orderkey % 7 <> 0
UNION ALL
SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
       'N' AS o_orderstatus, 1.0 AS o_totalprice
FROM o WHERE o_orderkey % 11 = 3
"""

QUERIES["merge_upsert"] = (q_merge_upsert, SQL_MERGE_UPSERT)


def q_geo_buffer(spark, sf_dir):
    """Geodesic point buffers (composition query): 12-vertex buffer
    rings are generated around sampled points by the Karney DIRECT
    kernel on the sphere (explode azimuths -> one vectorized UDF
    crossing -> collect_list ring), then measured with the pure-
    Catalyst spherical shoelace. The oracle regenerates the rings
    with closed-form great-circle direct formulas and the same
    area sum; the cap_ratio column (polygon area / exact spherical
    cap) additionally pins the geometry to its analytic value
    (~0.95 for an inscribed 12-gon)."""
    from pyproj_spark.functions.transform import (geod_forward,
                                                  spherical_ring_area_m2)
    R = 6370997.0
    pts = _doc_points(spark, sf_dir).filter(F.col("doc_id") % 5 == 0) \
        .filter(F.abs(F.col("lat")) < 80.0)
    radius = ((F.col("doc_id") % 7) * 30000 + 50000).cast("double")
    az = F.explode(F.sequence(F.lit(0), F.lit(330), F.lit(30)))
    fan = pts.withColumn("radius_m", radius).select(
        "doc_id", "lon", "lat", "radius_m", az.alias("az"))
    v = geod_forward("sphere", F.col("lon"), F.col("lat"),
                     F.col("az").cast("double"), F.col("radius_m"))
    ring = (fan.withColumn("v", v)
            .groupBy("doc_id", "radius_m")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("az"),
                             F.col("v.lon").alias("lon"),
                             F.col("v.lat").alias("lat")))),
                lambda s: F.struct(s["lon"].alias("lon"),
                                   s["lat"].alias("lat")))
                .alias("ring")))
    area = spherical_ring_area_m2(F.col("ring"), radius=R)
    cap = 2.0 * math.pi * R * R \
        * (1.0 - F.cos(F.col("radius_m") / F.lit(R)))
    return ring.select(
        "doc_id", F.col("radius_m").cast("long").alias("radius_m"),
        F.round(area / 1e6).cast("long").alias("area_km2"),
        F.round(area / cap, 3).alias("cap_ratio"))


SQL_GEO_BUFFER = f"""
WITH pts AS ({_PTS_SQL}),
base AS (
  SELECT doc_id, lon, lat,
         CAST((doc_id % 7) * 30000 + 50000 AS DOUBLE) AS radius_m
  FROM pts WHERE doc_id % 5 = 0 AND abs(lat) < 80.0
),
fan AS (
  SELECT doc_id, lon, lat, radius_m, az
  FROM base, (SELECT unnest(range(0, 360, 30)) AS az)
),
vtx AS (
  SELECT doc_id, radius_m, az,
    degrees(asin(sin(radians(lat)) * cos(radius_m / 6370997.0)
                 + cos(radians(lat)) * sin(radius_m / 6370997.0)
                   * cos(radians(az)))) AS vlat,
    lon + degrees(atan2(
        sin(radians(az)) * sin(radius_m / 6370997.0)
          * cos(radians(lat)),
        cos(radius_m / 6370997.0)
          - sin(radians(lat))
            * (sin(radians(lat)) * cos(radius_m / 6370997.0)
               + cos(radians(lat)) * sin(radius_m / 6370997.0)
                 * cos(radians(az))))) AS vlon
  FROM fan
),
edges AS (
  SELECT doc_id, radius_m, vlon AS x1, vlat AS y1,
         coalesce(lead(vlon) OVER w, first_value(vlon) OVER w) AS x2,
         coalesce(lead(vlat) OVER w, first_value(vlat) OVER w) AS y2
  FROM vtx
  WINDOW w AS (PARTITION BY doc_id ORDER BY az
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
),
area AS (
  SELECT doc_id, radius_m,
         abs(SUM((mod(mod(radians(x2) - radians(x1) + pi(), 2 * pi())
                      + 2 * pi(), 2 * pi()) - pi())
                 * (sin(radians(y1)) + sin(radians(y2)))))
           * 6370997.0 * 6370997.0 / 2.0 AS a
  FROM edges GROUP BY doc_id, radius_m
)
SELECT doc_id, CAST(radius_m AS BIGINT) AS radius_m,
       CAST(round(a / 1e6) AS BIGINT) AS area_km2,
       round(a / (2.0 * pi() * 6370997.0 * 6370997.0
                  * (1.0 - cos(radius_m / 6370997.0))), 3)
           AS cap_ratio
FROM area
"""

QUERIES["geo_buffer"] = (q_geo_buffer, SQL_GEO_BUFFER)


def q_scd2(spark, sf_dir):
    """SCD-2 batch apply: orders seed a current-only history (version
    opened at epoch 0), a deterministic change batch updates
    o_totalprice for key % 3 == 1 (real change: close + open;
    additive so no decimal-tie divergence between the engines' round
    semantics — Spark re-parses the shortest repr, DuckDB rounds the
    binary value), sends
    an IDENTICAL row for key % 3 == 2 (no-op: history must stay
    untouched — the invariant separating SCD-2 from an append log),
    and introduces new keys. The oracle rebuilds the full resulting
    history set-algebraically."""
    from pyproj_spark.operators.merge import scd2_apply
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"))
    hist = o.select("o_orderkey", "price",
                    F.lit(0).cast("long").alias("valid_from"),
                    F.lit(None).cast("long").alias("valid_to"))
    k = F.col("o_orderkey")
    changes = (o.filter(k % 3 != 0)
               .select("o_orderkey",
                       F.when(k % 3 == 1, F.round(
                           F.col("price") + 7.33, 2))
                       .otherwise(F.col("price")).alias("price"),
                       F.lit(100).cast("long").alias("ts"))
               .unionByName(
                   o.filter(k % 13 == 5).select(
                       (k + 1000000).alias("o_orderkey"),
                       F.lit(9.99).alias("price"),
                       F.lit(100).cast("long").alias("ts"))))
    out = scd2_apply(hist, changes, ["o_orderkey"], ["price"])
    return out.select("o_orderkey", "price",
                      "valid_from",
                      F.coalesce("valid_to", F.lit(-1))
                      .alias("valid_to"))


SQL_SCD2 = """
WITH o AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
)
-- closed or untouched original versions
SELECT o_orderkey, price, 0 AS valid_from,
       CASE WHEN o_orderkey % 3 = 1 THEN 100 ELSE -1 END AS valid_to
FROM o
UNION ALL
-- reopened versions for real changes
SELECT o_orderkey, round(price + 7.33, 2) AS price,
       100 AS valid_from, -1 AS valid_to
FROM o WHERE o_orderkey % 3 = 1
UNION ALL
-- brand-new keys
SELECT o_orderkey + 1000000 AS o_orderkey, 9.99 AS price,
       100 AS valid_from, -1 AS valid_to
FROM o WHERE o_orderkey % 13 = 5
"""

QUERIES["scd2"] = (q_scd2, SQL_SCD2)


def q_raster_pyramid(spark, sf_dir):
    """Raster pyramid (raster side of the north rule's raster<->vector
    tiling): density raster at z=5 on the GLOBAL pixel grid (2^5 tiles
    x 16 px = 512x512, pure Catalyst — no Python), then the z=4 level
    derived by exact integer 2x2 block merge (gx>>1, gy>>1): the
    pyramid level costs one hash agg on integer keys, never a
    re-rasterization of the raw points. floor(X*K/2) ==
    floor(floor(X*K)/2), so block-merging IS the coarser
    rasterization, exactly. Output: sparse (tx, ty, px, py, n) at z=4.
    tests/test_pipeline_tiling.py ties the per-tile map_groups
    rasterizer to the same global-pixel math."""
    pts = _doc_points(spark, sf_dir)
    k = 512.0  # 2^5 tiles * 16 px
    merc = F.log(F.tan(math.pi / 4 + F.radians(
        F.least(F.greatest(F.col("lat"), F.lit(-85.05112878)),
                F.lit(85.05112878))) / 2))
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * k)
                 .cast("long"), F.lit(511))
    gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * k)
                 .cast("long"), F.lit(511))
    fine = (pts.select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n")))
    g2x, g2y = F.shiftright(F.col("gx"), 1), F.shiftright(F.col("gy"), 1)
    return (fine.groupBy(g2x.alias("g2x"), g2y.alias("g2y"))
            .agg(F.sum("n").alias("n"))
            .select(F.shiftright(F.col("g2x"), 4).alias("tx"),
                    F.shiftright(F.col("g2y"), 4).alias("ty"),
                    F.col("g2x").bitwiseAND(F.lit(15)).alias("px"),
                    F.col("g2y").bitwiseAND(F.lit(15)).alias("py"),
                    "n"))


SQL_RASTER_PYRAMID = f"""
WITH pts AS ({_PTS_SQL}),
fine AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 512.0) AS BIGINT),
               511) AS gx,
         least(CAST(floor((1.0 - ln(tan(pi() / 4 + radians(
                 least(greatest(lat, -85.05112878), 85.05112878)) / 2))
               / pi()) / 2.0 * 512.0) AS BIGINT), 511) AS gy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
coarse AS (
  SELECT gx >> 1 AS g2x, gy >> 1 AS g2y, CAST(sum(n) AS BIGINT) AS n
  FROM fine GROUP BY 1, 2
)
SELECT g2x >> 4 AS tx, g2y >> 4 AS ty,
       g2x & 15 AS px, g2y & 15 AS py, n
FROM coarse
"""


QUERIES["raster_pyramid"] = (q_raster_pyramid, SQL_RASTER_PYRAMID)


def q_pagerank(spark, sf_dir):
    """Host-graph PageRank (the Common-Crawl-published analysis): a
    deterministic 97-host link graph is derived from documents (hosts
    >= 90 never link out, exercising the dangling-mass term), then 3
    Pregel-style iterations run with per-iteration rounding — the
    oracle replays the identical unrolled iterations in SQL. Damping
    0.85, uniform init, parallel edges deduped."""
    from pyproj_spark.operators.pagerank import pagerank
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 97).alias("src"),
                      ((k * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))
    pr = pagerank(edges, iters=3)
    return pr.select("node", (F.col("rank") + 0.0).alias("rank"))


def _pagerank_sql():
    # integer-unit sums mirror operators/pagerank.py: per-edge
    # contributions as round(w*1e12) BIGINTs, dangling mass as
    # round(rank*1e9) BIGINTs — aggregation-order-independent on
    # both engines and bit-replayable by the driver cutover
    it = """
r{o} AS (
  SELECT n.node,
         round(
           (SELECT (1.0 - 0.85) / n_nodes
                   + 0.85 * round(coalesce(
                       (SELECT sum(CAST(round(r.rank * 1e9) AS BIGINT))
                        FROM r{i} r
                        WHERE r.node NOT IN (SELECT src FROM outdeg)),
                       0) / 1e9, 12) / n_nodes
            FROM nn)
           + 0.85 * (coalesce(
               (SELECT CAST(sum(CAST(round(r.rank / o.deg * 1e12)
                                     AS BIGINT)) AS DOUBLE)
                FROM edges e
                JOIN r{i} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                WHERE e.dst = n.node), 0) / 1e12), 9) AS rank
  FROM nodes n
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH edges AS (
  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 13 + 5) % 97 AS dst
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97 AND doc_id % 97 < 90
),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n_nodes FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT node, (SELECT round(1.0 / n_nodes, 9) FROM nn) AS rank
       FROM nodes),
{its}
SELECT node, rank + 0.0 AS rank FROM r3
"""


QUERIES["pagerank"] = (q_pagerank, _pagerank_sql())


def q_ppr(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from seed
    hosts {0, 7, 13} over the q_pagerank host graph: teleport AND
    dangling mass follow the seed distribution, giving per-topic
    relevance instead of global importance. Oracle replays the
    unrolled iterations with the seed CASE."""
    from pyproj_spark.operators.pagerank import pagerank
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 97).alias("src"),
                      ((k * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))
    pr = pagerank(edges, iters=3, seeds=[0, 7, 13])
    return pr.select("node", (F.col("rank") + 0.0).alias("rank"))


def _ppr_sql():
    seeds = "(0, 7, 13)"
    base = (f"CASE WHEN n.node IN {seeds} THEN "
            "(1.0 - 0.85) / 3 + 0.85 * round(coalesce((SELECT "
            "sum(CAST(round(r.rank * 1e9) AS BIGINT)) FROM r{i} r "
            "WHERE r.node NOT IN (SELECT src FROM outdeg)), 0) / 1e9, "
            "12) / 3 ELSE 0.0 END")
    it = f"""
r{{o}} AS (
  SELECT n.node,
         round({base}
           + 0.85 * (coalesce(
               (SELECT CAST(sum(CAST(round(r.rank / o.deg * 1e12)
                                     AS BIGINT)) AS DOUBLE)
                FROM edges e
                JOIN r{{i}} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                WHERE e.dst = n.node), 0) / 1e12), 9) AS rank
  FROM nodes n
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH edges AS (
  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 13 + 5) % 97 AS dst
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97 AND doc_id % 97 < 90
),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT node, CASE WHEN node IN {seeds}
                         THEN round(1.0 / 3, 9) ELSE 0.0 END AS rank
       FROM nodes),
{its}
SELECT node, rank + 0.0 AS rank FROM r3
"""


QUERIES["ppr"] = (q_ppr, _ppr_sql())


def q_hits(spark, sf_dir):
    """HITS hubs & authorities over the same 97-host link graph as
    q_pagerank (operators/pagerank.py::hits): 2 mutual-reinforcement
    iterations, exact integer-micros contribution sums, L1
    normalization as one exact-long division — the oracle replays the
    unrolled iterations bit-for-bit."""
    from pyproj_spark.operators.pagerank import hits
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 97).alias("src"),
                      ((k * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))
    out = hits(edges, iters=2)
    return out.select("node", (F.col("hub") + 0.0).alias("hub"),
                      (F.col("auth") + 0.0).alias("auth"))


def _hits_sql():
    prop = """
c{o} AS (
  SELECT e.{key_out} AS node,
         sum(CAST(round(s.{score} * 1e12) AS BIGINT)) AS sm
  FROM edges e JOIN {prev} s ON s.node = e.{key_in}
  GROUP BY 1
),
n{o} AS (SELECT sum(sm) AS nm FROM c{o}),
{o} AS (
  SELECT n.node,
         round(CAST(coalesce(c.sm, 0) AS DOUBLE) / an.nm, 9)
             AS {out_col}
  FROM nodes n LEFT JOIN c{o} c ON c.node = n.node
  CROSS JOIN n{o} an
)"""
    steps = []
    prev = "h0"
    for t in range(1, 3):
        steps.append(prop.format(o=f"a{t}", prev=prev, key_in="src",
                                 key_out="dst", score="hub",
                                 out_col="auth"))
        steps.append(prop.format(o=f"h{t}", prev=f"a{t}", key_in="dst",
                                 key_out="src", score="auth",
                                 out_col="hub"))
        prev = f"h{t}"
    its = ",".join(steps)
    return f"""
WITH edges AS (
  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 13 + 5) % 97 AS dst
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97 AND doc_id % 97 < 90
),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
h0 AS (SELECT node, 1.0 AS hub FROM nodes),
{its}
SELECT h2.node, h2.hub + 0.0 AS hub, a2.auth + 0.0 AS auth
FROM h2 JOIN a2 ON a2.node = h2.node
"""


QUERIES["hits"] = (q_hits, _hits_sql())


def q_salsa(spark, sf_dir):
    """SALSA hubs & authorities over the same 97-host link graph as
    q_hits — the degree-normalized random-walk variant that removes
    HITS' tightly-knit-community bias (operators/pagerank.py::salsa).
    2 iterations, exact integer-unit contribution sums, the oracle
    replays the unrolled loop bit-for-bit."""
    from pyproj_spark.operators.pagerank import salsa
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 97).alias("src"),
                      ((k * 13 + 5) % 97).alias("dst"))
             .filter((F.col("src") != F.col("dst"))
                     & (F.col("src") < 90)))
    out = salsa(edges, iters=2)
    return out.select("node", (F.col("hub") + 0.0).alias("hub"),
                      (F.col("auth") + 0.0).alias("auth"))


def _salsa_sql():
    prop = """
c{o} AS (
  SELECT e.{key_out} AS node,
         sum(CAST(round(s.{score} / d.deg * 1e12) AS BIGINT)) AS sm
  FROM edges e JOIN {prev} s ON s.node = e.{key_in}
  JOIN {degtab} d ON d.node = e.{key_in}
  GROUP BY 1
),
n{o} AS (SELECT sum(sm) AS nm FROM c{o}),
{o} AS (
  SELECT n.node,
         round(CAST(coalesce(c.sm, 0) AS DOUBLE) / an.nm, 9)
             AS {out_col}
  FROM nodes n LEFT JOIN c{o} c ON c.node = n.node
  CROSS JOIN n{o} an
)"""
    steps = []
    prev = "h0"
    for t in range(1, 3):
        steps.append(prop.format(o=f"a{t}", prev=prev, key_in="src",
                                 key_out="dst", score="hub",
                                 out_col="auth", degtab="odeg"))
        steps.append(prop.format(o=f"h{t}", prev=f"a{t}", key_in="dst",
                                 key_out="src", score="auth",
                                 out_col="hub", degtab="ideg"))
        prev = f"h{t}"
    its = ",".join(steps)
    return f"""
WITH edges AS (
  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 13 + 5) % 97 AS dst
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97 AND doc_id % 97 < 90
),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
odeg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
ideg AS (SELECT dst AS node, count(*) AS deg FROM edges GROUP BY 1),
h0 AS (SELECT node, 1.0 AS hub FROM nodes),
{its}
SELECT h2.node, h2.hub + 0.0 AS hub, a2.auth + 0.0 AS auth
FROM h2 JOIN a2 ON a2.node = h2.node
"""


QUERIES["salsa"] = (q_salsa, _salsa_sql())


def q_set_ops(spark, sf_dir):
    """Set operators with SQL bag/distinct semantics: the (lang,
    source) profiles present in BOTH corpus halves (INTERSECT) and
    only in the first half (EXCEPT) — each a partial-agg distinct
    before a cheap hash join, tagged and unioned into one result."""
    d = _t(spark, sf_dir, "documents")
    half = F.col("doc_id") % 2
    a = d.filter(half == 0).select("lang", "source")
    b = d.filter(half == 1).select("lang", "source")
    inter = a.intersect(b).withColumn("op", F.lit("intersect"))
    exc = a.subtract(b).withColumn("op", F.lit("except"))
    return inter.unionByName(exc).select("op", "lang", "source")


SQL_SET_OPS = """
SELECT 'intersect' AS op, lang, source FROM (
  SELECT lang, source FROM documents WHERE doc_id % 2 = 0
  INTERSECT
  SELECT lang, source FROM documents WHERE doc_id % 2 = 1
)
UNION ALL
SELECT 'except', lang, source FROM (
  SELECT lang, source FROM documents WHERE doc_id % 2 = 0
  EXCEPT
  SELECT lang, source FROM documents WHERE doc_id % 2 = 1
)
"""


QUERIES["set_ops"] = (q_set_ops, SQL_SET_OPS)


def q_cube(spark, sf_dir):
    """Full CUBE over (lang, source): every aggregation granularity in
    ONE Expand + hash-agg pass (the same plan family as the ROLLUP
    tile pyramid), grouping flags disambiguating NULL group values
    from NULL data."""
    d = _t(spark, sf_dir, "documents")
    return (d.cube("lang", "source")
            .agg(F.grouping("lang").cast("int").alias("gl"),
                 F.grouping("source").cast("int").alias("gs"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars"))
            .select("lang", "source", "gl", "gs", "n_docs", "chars"))


SQL_CUBE = """
SELECT lang, source,
       CAST(grouping(lang) AS INT) AS gl,
       CAST(grouping(source) AS INT) AS gs,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY CUBE(lang, source)
"""


QUERIES["cube"] = (q_cube, SQL_CUBE)


def q_json_props(spark, sf_dir):
    """Semi-structured extraction: events.props is a JSON string
    column (the universal web-log shape); per-event key extraction
    with get_json_object stays inside codegen, then aggregates by the
    extracted value bucket."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select((k % 10).alias("k_bucket"), "value")
            .groupBy("k_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total")))


SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
           AS k_bucket,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1
"""


QUERIES["json_props"] = (q_json_props, SQL_JSON_PROPS)


def q_triangles(spark, sf_dir):
    """Per-host triangle counts over the (doubled) host link graph via
    degree-ordered orientation (operators/pagerank.py::
    triangle_counts) — the clustering-coefficient primitive, with the
    orientation bounding wedge fan-out at O(sqrt(m)) per node on
    power-law graphs. The oracle replays orientation, wedge join, and
    closing-edge join in SQL."""
    from pyproj_spark.operators.pagerank import triangle_counts
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    e1 = d.select((k % 61).alias("src"),
                  ((k * 13 + 5) % 61).alias("dst"))
    e2 = d.select((k % 61).alias("src"),
                  ((k * 29 + 11) % 61).alias("dst"))
    e3 = d.select((k % 61).alias("src"),
                  ((k * 7 + 3) % 61).alias("dst"))
    return triangle_counts(e1.unionByName(e2).unionByName(e3))


SQL_TRIANGLES = """
WITH raw AS (
  SELECT doc_id % 61 AS s, (doc_id * 13 + 5) % 61 AS d FROM documents
  UNION ALL
  SELECT doc_id % 61, (doc_id * 29 + 11) % 61 FROM documents
  UNION ALL
  SELECT doc_id % 61, (doc_id * 7 + 3) % 61 FROM documents
),
und AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
  FROM raw WHERE s <> d
),
deg AS (
  SELECT n, count(*) AS dd FROM (
    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
  GROUP BY 1
),
ed AS (
  SELECT a, b, da.dd AS da, db.dd AS db
  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
),
o AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END
             AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END
             AS v
  FROM ed
),
w AS (
  SELECT o1.u, o1.v AS x, o2.v AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u WHERE o1.v < o2.v
),
t AS (
  SELECT u, x, y FROM w JOIN und ON und.a = w.x AND und.b = w.y
),
c AS (SELECT unnest([u, x, y]) AS node FROM t)
SELECT node, count(*) AS triangles FROM c GROUP BY 1
"""


QUERIES["triangles"] = (q_triangles, SQL_TRIANGLES)


def q_geod_waypoints(spark, sf_dir):
    """G3/G5 driver-gated: equally spaced intermediate points along
    the geodesic (the npts/inv_intermediate construction — inverse for
    the azimuth, then direct at fractional distances) on the f=0
    sphere, crossed against the closed-form great-circle slerp the
    oracle can evaluate. Pairs/filter as q_geod_sphere; every ~7th
    pair, waypoints at 1/4, 1/2, 3/4."""
    from pyproj_spark.functions.transform import (geod_forward,
                                                  geod_inverse,
                                                  haversine_m)
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon1"),
        ((F.col("doc_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat1"),
        ((F.col("doc_id") * 31337 % 360000) / 1000.0 - 180.0).alias("lon2"),
        ((F.col("doc_id") * 27644437 % 160000) / 1000.0 - 80.0)
        .alias("lat2"))
    pts = pts.filter(
        (haversine_m(F.col("lon1"), F.col("lat1"),
                     F.col("lon2"), F.col("lat2")) < 15_000_000.0)
        & (F.col("doc_id") % 7 == 0))
    g = geod_inverse("sphere", F.col("lon1"), F.col("lat1"),
                     F.col("lon2"), F.col("lat2"))
    pts = pts.withColumn("g", g).withColumn(
        "frac", F.explode(F.array(F.lit(0.25), F.lit(0.5),
                                  F.lit(0.75))))
    wp = geod_forward("sphere", F.col("lon1"), F.col("lat1"),
                      F.col("g.az12"), F.col("frac") * F.col("g.dist"))
    return (pts.withColumn("w", wp)
            .select("doc_id", (F.col("frac") + 0.0).alias("frac"),
                    (F.round(F.col("w.lon"), 6) + 0.0).alias("wlon"),
                    (F.round(F.col("w.lat"), 6) + 0.0).alias("wlat")))


# closed-form spherical interpolation (slerp): unit vectors, central
# angle, p(f) = (sin((1-f)d)·p1 + sin(fd)·p2) / sin d
SQL_GEOD_WAYPOINTS = """
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 360000) / 1000.0 - 180.0    AS lon1,
         (doc_id * 104729 % 170000) / 1000.0 - 85.0   AS lat1,
         (doc_id * 31337 % 360000) / 1000.0 - 180.0   AS lon2,
         (doc_id * 27644437 % 160000) / 1000.0 - 80.0 AS lat2
  FROM documents
),
keep AS (
  SELECT * FROM pts
  WHERE 2.0 * 6371008.8 * asin(sqrt(
          pow(sin((radians(lat2) - radians(lat1)) / 2), 2)
          + cos(radians(lat1)) * cos(radians(lat2))
            * pow(sin((radians(lon2) - radians(lon1)) / 2), 2)))
        < 15000000.0
    AND doc_id % 7 = 0
),
vec AS (
  SELECT doc_id,
         cos(radians(lat1)) * cos(radians(lon1)) AS x1,
         cos(radians(lat1)) * sin(radians(lon1)) AS y1,
         sin(radians(lat1))                      AS z1,
         cos(radians(lat2)) * cos(radians(lon2)) AS x2,
         cos(radians(lat2)) * sin(radians(lon2)) AS y2,
         sin(radians(lat2))                      AS z2
  FROM keep
),
ang AS (
  SELECT *, atan2(
      sqrt(pow(y1 * z2 - z1 * y2, 2) + pow(z1 * x2 - x1 * z2, 2)
           + pow(x1 * y2 - y1 * x2, 2)),
      x1 * x2 + y1 * y2 + z1 * z2) AS d
  FROM vec
),
wp AS (
  SELECT doc_id, f.frac AS frac,
         (sin((1 - f.frac) * d) * x1 + sin(f.frac * d) * x2) / sin(d)
             AS wx,
         (sin((1 - f.frac) * d) * y1 + sin(f.frac * d) * y2) / sin(d)
             AS wy,
         (sin((1 - f.frac) * d) * z1 + sin(f.frac * d) * z2) / sin(d)
             AS wz
  FROM ang CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS f(frac)
)
SELECT doc_id, frac + 0.0 AS frac,
       round(degrees(atan2(wy, wx)), 6) + 0.0 AS wlon,
       round(degrees(atan2(wz, sqrt(wx * wx + wy * wy))), 6) + 0.0
           AS wlat
FROM wp
"""


QUERIES["geod_waypoints"] = (q_geod_waypoints, SQL_GEOD_WAYPOINTS)


def q_cell_moments(spark, sf_dir):
    """Per-cell spatial moments: mean center and standard distance
    (the two first-order spatial statistics every GIS ships) per hex
    cell at res 1, from EXACT integer micro-degree sums — E[x], E[x²]
    accumulate as longs so distributed order can't perturb the
    variance, and the sqrt runs once on an engine-identical double."""
    from pyproj_spark.functions.hexcell import hex_of
    pts = _doc_points(spark, sf_dir)
    lon_u = F.round(F.col("lon") * 1e6).cast("long")
    lat_u = F.round(F.col("lat") * 1e6).cast("long")
    lon2_u = F.round(F.col("lon") * F.col("lon") * 1e6).cast("long")
    lat2_u = F.round(F.col("lat") * F.col("lat") * 1e6).cast("long")
    g = (pts.withColumn("cell", hex_of(F.col("lon"), F.col("lat"), 0))
         .groupBy("cell")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(lon_u).alias("sx"), F.sum(lat_u).alias("sy"),
              F.sum(lon2_u).alias("sxx"), F.sum(lat2_u).alias("syy"))
         .filter(F.col("n") >= 2))
    n = F.col("n").cast("double")
    mx = F.col("sx") / 1e6 / n
    my = F.col("sy") / 1e6 / n
    var = (F.col("sxx") / 1e6 / n - mx * mx
           + F.col("syy") / 1e6 / n - my * my)
    # no output rounding: both engines compute the IDENTICAL doubles
    # from the exact integer sums, and rounding near a half boundary
    # is where engine round() implementations disagree
    return g.select(
        "cell", "n",
        mx.alias("mean_lon"),
        my.alias("mean_lat"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_dist_deg"))


def _cell_moments_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    return f"""
WITH pts AS ({_PTS_SQL}),
g AS (
  SELECT {hex_sql(0)} AS cell, count(*) AS n,
         sum(CAST(round(lon * 1e6) AS BIGINT)) AS sx,
         sum(CAST(round(lat * 1e6) AS BIGINT)) AS sy,
         sum(CAST(round(lon * lon * 1e6) AS BIGINT)) AS sxx,
         sum(CAST(round(lat * lat * 1e6) AS BIGINT)) AS syy
  FROM pts GROUP BY 1 HAVING count(*) >= 2
)
SELECT cell, n,
       sx / 1e6 / n AS mean_lon,
       sy / 1e6 / n AS mean_lat,
       sqrt(greatest(
           sxx / 1e6 / n - (sx / 1e6 / n) * (sx / 1e6 / n)
           + syy / 1e6 / n - (sy / 1e6 / n) * (sy / 1e6 / n), 0.0))
           AS std_dist_deg
FROM g
"""


QUERIES["cell_moments"] = (q_cell_moments, _cell_moments_sql())


#: the 6 hex-neighbor id deltas (distance exactly 1, no self)
_HEX_NBR6 = [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]


def q_grid_dbscan(spark, sf_dir):
    """Grid-based density clustering (the distributed DBSCAN
    approximation every large-scale system actually ships: cell-level
    density + component merge, cf. GriDBSCAN): hex cells with >= 2
    points are core; core cells adjacent on the hex grid (pure
    integer id adds) connect; connected components (the large-star/
    small-star operator) label each cluster by its min cell id; points
    outside core cells are noise (-1). Composes three gated
    primitives — hexcell, neighbor arithmetic, CC — into the standard
    spatial-clustering pipeline."""
    from pyproj_spark.functions.hexcell import hex_of
    from pyproj_spark.operators.cc import connected_components
    pts = _doc_points(spark, sf_dir).withColumn(
        "cell", hex_of(F.col("lon"), F.col("lat"), 0))
    core = (pts.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2).select("cell"))
    deltas = F.array(*[F.lit((dq << 29) + dr) for dq, dr in _HEX_NBR6])
    edges = (core
             .withColumn("nbr", F.explode(F.transform(
                 deltas, lambda d: F.col("cell") + d)))
             .join(core.select(F.col("cell").alias("nbr")), "nbr")
             .select(F.col("cell").alias("id_a"),
                     F.col("nbr").alias("id_b")))
    comp = connected_components(edges)
    labeled = (core.join(comp.withColumnRenamed("id", "cell"),
                         "cell", "left")
               .select("cell",
                       F.coalesce("rep", "cell").alias("cluster")))
    return (pts.join(labeled, "cell", "left")
            .select("doc_id", "cell",
                    F.coalesce("cluster", F.lit(-1)).alias("cluster")))


def _grid_dbscan_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    deltas = ", ".join(f"({(dq << 29) + dr})" for dq, dr in _HEX_NBR6)
    return f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
cells AS (
  SELECT doc_id, {hex_sql(0)} AS cell FROM pts
),
core AS (
  SELECT cell FROM cells GROUP BY cell HAVING count(*) >= 2
),
e AS (
  SELECT c.cell AS src, c.cell + d.d AS dst
  FROM core c CROSS JOIN (VALUES {deltas}) AS d(d)
  WHERE c.cell + d.d IN (SELECT cell FROM core)
),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id
),
comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
labeled AS (
  SELECT core.cell, coalesce(comp.rep, core.cell) AS cluster
  FROM core LEFT JOIN comp ON comp.id = core.cell
)
SELECT cells.doc_id, cells.cell,
       coalesce(labeled.cluster, -1) AS cluster
FROM cells LEFT JOIN labeled ON labeled.cell = cells.cell
"""


QUERIES["grid_dbscan"] = (q_grid_dbscan, _grid_dbscan_sql())


#: z=5 slippy tile (32x32) as SQL text — the hot-spot analysis lattice
_TILE5_SQL = """
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 32)
                         AS BIGINT), 0), 31) AS tx,
         least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
               radians(least(greatest(lat, -85.05112877980659),
                             85.05112877980659)) / 2)) / pi()) / 2.0 * 32)
               AS BIGINT), 0), 31) AS ty,
         count(*) AS n
  FROM pts GROUP BY 1, 2
"""


def _tiles5(spark, sf_dir):
    from pyproj_spark.functions.tiles import tile_xy_from_lonlat
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 5)
    return (pts.select(tx.alias("tx"), ty.alias("ty"))
            .groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("cnt")))


def q_hot_spots(spark, sf_dir):
    """Getis-Ord Gi* hot-spot z-scores over the z=5 tile lattice
    (queen contiguity + self, occupied tiles): the standard "which
    tiles are statistically hot" analysis layered on the tile rollup.
    All aggregates are exact integer sums; the z formula is the same
    expression tree on both engines, so the doubles hash unrounded
    (operators/hotspot.py)."""
    from pyproj_spark.operators.hotspot import getis_ord_gi
    return getis_ord_gi(_tiles5(spark, sf_dir))


#: shared Gi* scalar subexpressions (identical text, repeated — both
#: engines recompute the same IEEE tree so repetition is bit-safe)
_GI_MEAN = "CAST(s1 AS DOUBLE) / CAST(nt AS DOUBLE)"
_GI_SD = (f"sqrt(CAST(s2 AS DOUBLE) / CAST(nt AS DOUBLE)"
          f" - ({_GI_MEAN}) * ({_GI_MEAN}))")
_GI_U = ("sqrt((CAST(nt AS DOUBLE) * CAST(wsum AS DOUBLE)"
         " - CAST(wsum AS DOUBLE) * CAST(wsum AS DOUBLE))"
         " / (CAST(nt AS DOUBLE) - 1.0))")

SQL_HOT_SPOTS = f"""
WITH pts AS ({_PTS_SQL}),
t AS ({_TILE5_SQL}),
g AS (SELECT count(*) AS nt, CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2 FROM t),
nb AS (
  SELECT a.tx, a.ty, a.n, CAST(sum(b.n) AS BIGINT) AS gsum,
         count(*) AS wsum
  FROM t a JOIN t b
    ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
   AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
  GROUP BY 1, 2, 3
),
z AS (
  SELECT nb.tx, nb.ty, nb.n, nb.gsum, nb.wsum,
         CASE WHEN {_GI_SD} * {_GI_U} > 0
              THEN (CAST(gsum AS DOUBLE) - ({_GI_MEAN})
                    * CAST(wsum AS DOUBLE)) / ({_GI_SD} * {_GI_U})
         END AS gi_z
  FROM nb, g
)
SELECT tx, ty, n, gsum, wsum, gi_z,
       CASE WHEN gi_z > 2.575829303549 THEN 1
            WHEN gi_z < -2.575829303549 THEN -1 ELSE 0 END AS hot
FROM z
"""

QUERIES["hot_spots"] = (q_hot_spots, SQL_HOT_SPOTS)


def q_moran(spark, sf_dir):
    """Global Moran's I spatial autocorrelation over the z=5 tile
    lattice with the analytic normality-null z-score. The deviation
    scaling v_i = N*x_i - S1 keeps every distributed sum an exact
    integer (operators/hotspot.py docstring has the bound analysis)."""
    from pyproj_spark.operators.hotspot import morans_i
    return morans_i(_tiles5(spark, sf_dir))


SQL_MORAN = f"""
WITH pts AS ({_PTS_SQL}),
t AS ({_TILE5_SQL}),
g AS (SELECT count(*) AS nt, CAST(sum(n) AS BIGINT) AS s1 FROM t),
tv AS (SELECT tx, ty, nt * n - s1 AS v, nt FROM t, g),
e AS (
  SELECT a.tx, a.ty, a.v, b.v AS nv
  FROM tv a JOIN tv b
    ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
   AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
   AND NOT (b.tx = a.tx AND b.ty = a.ty)
),
pair AS (SELECT CAST(sum(v * nv) AS BIGINT) AS num, count(*) AS s0
         FROM e),
selfs AS (SELECT CAST(sum(v * v) AS BIGINT) AS den,
                 CAST(max(nt) AS BIGINT) AS nt FROM tv),
sd AS (SELECT CAST(sum(deg * deg) AS BIGINT) AS sumdeg2
       FROM (SELECT tx, ty, count(*) AS deg FROM e GROUP BY 1, 2)),
m AS (
  SELECT nt AS n_tiles, s0,
         CAST(nt AS DOUBLE) / CAST(s0 AS DOUBLE)
           * CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS i_obs,
         -1.0 / (CAST(nt AS DOUBLE) - 1.0) AS e_i,
         (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
            * (2.0 * CAST(s0 AS DOUBLE))
          - CAST(nt AS DOUBLE) * (4.0 * CAST(sumdeg2 AS DOUBLE))
          + 3.0 * CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
         / (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
            * (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) - 1.0))
         - (-1.0 / (CAST(nt AS DOUBLE) - 1.0))
           * (-1.0 / (CAST(nt AS DOUBLE) - 1.0)) AS var_i
  FROM pair, selfs, sd
)
SELECT n_tiles, s0, i_obs, e_i,
       CASE WHEN var_i > 0 THEN (i_obs - e_i) / sqrt(var_i) END AS z_i
FROM m
"""

QUERIES["moran"] = (q_moran, SQL_MORAN)


def q_geary(spark, sf_dir):
    """Global Geary's C over the z=5 tile lattice — the local-contrast
    complement to Moran's I (C reacts to neighbor DIFFERENCES, Moran to
    neighbor covariance), with the Cliff-Ord normality z. Same exact
    integer deviation scaling as moran (operators/hotspot.py)."""
    from pyproj_spark.operators.hotspot import gearys_c
    return gearys_c(_tiles5(spark, sf_dir))


SQL_GEARY = f"""
WITH pts AS ({_PTS_SQL}),
t AS ({_TILE5_SQL}),
g AS (SELECT count(*) AS nt, CAST(sum(n) AS BIGINT) AS s1 FROM t),
tv AS (SELECT tx, ty, nt * n - s1 AS v, nt FROM t, g),
e AS (
  SELECT a.tx, a.ty, a.v, b.v AS nv
  FROM tv a JOIN tv b
    ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
   AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
   AND NOT (b.tx = a.tx AND b.ty = a.ty)
),
pair AS (SELECT CAST(sum((v - nv) * (v - nv)) AS BIGINT) AS num,
                count(*) AS s0 FROM e),
selfs AS (SELECT CAST(sum(v * v) AS BIGINT) AS den,
                 CAST(max(nt) AS BIGINT) AS nt FROM tv),
sd AS (SELECT CAST(sum(deg * deg) AS BIGINT) AS sumdeg2
       FROM (SELECT tx, ty, count(*) AS deg FROM e GROUP BY 1, 2)),
m AS (
  SELECT nt AS n_tiles, s0,
         (CAST(nt AS DOUBLE) - 1.0) * CAST(num AS DOUBLE)
           / (2.0 * CAST(s0 AS DOUBLE) * CAST(den AS DOUBLE)) AS c_obs,
         ((2.0 * (2.0 * CAST(s0 AS DOUBLE))
             + 4.0 * CAST(sumdeg2 AS DOUBLE))
            * (CAST(nt AS DOUBLE) - 1.0)
          - 4.0 * CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
         / (2.0 * (CAST(nt AS DOUBLE) + 1.0)
            * CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) AS var_c
  FROM pair, selfs, sd
)
SELECT n_tiles, s0, c_obs, 1.0 AS e_c,
       CASE WHEN var_c > 0 THEN (c_obs - 1.0) / sqrt(var_c) END AS z_c
FROM m
"""

QUERIES["geary_c"] = (q_geary, SQL_GEARY)


def q_ripley(spark, sf_dir):
    """Ripley's K / Besag L point-pattern statistics at three radii
    over the deterministic doc points — cell-bounded ordered-pair
    counting (3x3 equijoin on r_max cells, never all-pairs), exact
    integer milli-degree distances (operators/hotspot.py)."""
    from pyproj_spark.operators.hotspot import ripley_k
    return ripley_k(_doc_points(spark, sf_dir), [1.0, 2.0, 4.0])


SQL_RIPLEY = f"""
WITH pts AS ({_PTS_SQL}),
p AS (
  SELECT doc_id AS pid,
         CAST(round(lon * 1000) AS BIGINT) AS mx,
         CAST(round(lat * 1000) AS BIGINT) AS my
  FROM pts
),
pc AS (SELECT pid, mx, my,
              CAST(floor(mx / 4000) AS BIGINT) AS cx,
              CAST(floor(my / 4000) AS BIGINT) AS cy FROM p),
e AS (
  SELECT a.mx - b.mx AS dx, a.my - b.my AS dy
  FROM pc a JOIN pc b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.pid <> b.pid
),
cnts AS (SELECT
  CAST(sum(CASE WHEN dx*dx + dy*dy <= 1000000 THEN 1 ELSE 0 END)
       AS BIGINT) AS c0,
  CAST(sum(CASE WHEN dx*dx + dy*dy <= 4000000 THEN 1 ELSE 0 END)
       AS BIGINT) AS c1,
  CAST(sum(CASE WHEN dx*dx + dy*dy <= 16000000 THEN 1 ELSE 0 END)
       AS BIGINT) AS c2
  FROM e),
np AS (SELECT count(*) AS n_pts FROM pc),
rr AS (SELECT i, CAST(r AS DOUBLE) AS r
       FROM (VALUES (0, 1.0), (1, 2.0), (2, 4.0)) v(i, r)),
base AS (
  SELECT rr.r,
         CASE WHEN rr.i = 0 THEN c0
              WHEN rr.i = 1 THEN c1 ELSE c2 END AS npairs,
         CAST(n_pts AS DOUBLE) AS nd
  FROM rr, cnts, np
)
SELECT r, npairs,
       61200.0 * CAST(npairs AS DOUBLE) / (nd * (nd - 1.0)) AS k_hat,
       sqrt((61200.0 * CAST(npairs AS DOUBLE) / (nd * (nd - 1.0)))
            / pi()) - r AS l_minus_r
FROM base ORDER BY r
"""

QUERIES["ripley_k"] = (q_ripley, SQL_RIPLEY)


def q_dwell(spark, sf_dir):
    """Spatiotemporal dwell detection (stay-point analysis, Li et al.
    2008 shape, grid-quantized): each user's event stream gets a
    deterministic moving position, positions quantize to hex cells,
    and maximal runs of consecutive same-cell points (gaps-and-islands
    over (user, time) — the spatial twin of user_sessions) with >= 3
    points become dwell episodes with enter/exit epochs. One window
    shuffle on user, one hash agg on the run id."""
    from pyspark.sql import Window
    from pyproj_spark.functions.hexcell import hex_of
    ev = _t(spark, sf_dir, "events")
    minute = F.floor(F.unix_timestamp("ts") / 600)
    lon = ((F.col("user_id") % 36) * 10 - 180
           + (minute % 7) * 2.0)
    lat = ((F.col("user_id") % 17) * 8 - 60).cast("double")
    pts = ev.select("user_id", "ts", "event_id",
                    hex_of(lon, lat, 2).alias("cell"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (pts.withColumn(
        "new_run",
        F.when(F.col("cell") == F.lag("cell").over(w), 0).otherwise(1))
        .withColumn("run_id", F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (runs.groupBy("user_id", "run_id", "cell")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min(F.unix_timestamp("ts")).alias("enter_s"),
                 F.max(F.unix_timestamp("ts")).alias("exit_s"))
            .filter(F.col("n_points") >= 3)
            .select("user_id", "cell", "n_points", "enter_s",
                    (F.col("exit_s") - F.col("enter_s"))
                    .alias("dwell_s")))


def _dwell_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    cell = hex_sql(2, lon_expr="lon", lat_expr="lat")
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         (user_id % 36) * 10 - 180
             + (floor(epoch(ts) / 600) % 7) * 2.0 AS lon,
         CAST((user_id % 17) * 8 - 60 AS DOUBLE) AS lat
  FROM events
),
cells AS (
  SELECT user_id, ts, event_id, {cell} AS cell FROM pts
),
runs AS (
  SELECT user_id, ts, event_id, cell,
         CASE WHEN cell = lag(cell) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS new_run
  FROM cells
),
ids AS (
  SELECT user_id, ts, cell,
         sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
)
SELECT user_id, cell, count(*) AS n_points,
       CAST(floor(min(epoch(ts))) AS BIGINT) AS enter_s,
       CAST(floor(max(epoch(ts))) - floor(min(epoch(ts))) AS BIGINT)
           AS dwell_s
FROM ids GROUP BY user_id, run_id, cell
HAVING count(*) >= 3
"""


QUERIES["dwell"] = (q_dwell, _dwell_sql())


def q_clip_tiles(spark, sf_dir):
    """Vector-tile clipping (functions/clip.py): every PIP zone
    polygon clipped to each overlapping 45° tile rectangle via four
    chained Sutherland–Hodgman passes — pure Catalyst array HOFs, no
    UDF — with bbox-overlap pruning before the exact clip (the PIP
    prefilter shape) and a LEFT-FOLD shoelace area whose summation
    order is ring order on both engines."""
    from pyproj_spark.functions.clip import clip_to_rect, ring_area2
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    schema = StructType([
        StructField("zone_id", LongType()),
        StructField("ring", ArrayType(StructType([
            StructField("x", DoubleType()),
            StructField("y", DoubleType())])))])
    zones = spark.createDataFrame(
        [(zid, [(float(x), float(y)) for x, y in ring])
         for zid, ring in PIP_ZONES.items()], schema)
    tiles = spark.range(32).select(
        (F.col("id") % 8).alias("tx"), (F.col("id") / 8)
        .cast("long").alias("ty"),
        (-180.0 + 45.0 * (F.col("id") % 8)).alias("xmin"),
        (-90.0 + 45.0 * (F.col("id") / 8).cast("long")).alias("ymin"))
    tiles = tiles.withColumn("xmax", F.col("xmin") + 45.0) \
                 .withColumn("ymax", F.col("ymin") + 45.0)
    xs = F.transform(F.col("ring"), lambda p: p["x"])
    ys = F.transform(F.col("ring"), lambda p: p["y"])
    cand = (zones.crossJoin(F.broadcast(tiles))
            .filter((F.array_min(xs) <= F.col("xmax"))
                    & (F.array_max(xs) >= F.col("xmin"))
                    & (F.array_min(ys) <= F.col("ymax"))
                    & (F.array_max(ys) >= F.col("ymin"))))
    clipped = clip_to_rect(F.col("ring"), F.col("xmin"), F.col("ymin"),
                           F.col("xmax"), F.col("ymax"))
    out = (cand.withColumn("cl", clipped)
           .withColumn("n_vertices", F.size("cl"))
           .withColumn("area_deg2", F.abs(ring_area2(F.col("cl"))) / 2)
           .filter((F.col("n_vertices") >= 3)
                   & (F.col("area_deg2") > 1e-9)))
    return out.select("zone_id", "tx", "ty", "n_vertices", "area_deg2")


def _clip_tiles_sql():
    from pyproj_spark.functions.clip import (_sql_clip_half,
                                             sql_ring_area2)
    rows = ", ".join(
        "({}, [{}])".format(zid, ", ".join(
            f"struct_pack(x := {float(x)!r}, y := {float(y)!r})"
            for x, y in ring))
        for zid, ring in PIP_ZONES.items())
    stages = ""
    prev = "cand"
    for i, (axis, bexpr, ge) in enumerate(
            [("x", "xmin", True), ("x", "xmax", False),
             ("y", "ymin", True), ("y", "ymax", False)]):
        stages += (f", c{i} AS (SELECT zone_id, tx, ty, xmin, ymin, "
                   f"xmax, ymax, "
                   f"{_sql_clip_half('r', axis, bexpr, ge)} AS r "
                   f"FROM {prev})")
        prev = f"c{i}"
    return f"""
WITH zones AS (
  SELECT * FROM (VALUES {rows}) AS z(zone_id, ring)
),
tiles AS (
  SELECT i % 8 AS tx, i // 8 AS ty,
         -180.0 + 45.0 * (i % 8) AS xmin,
         -90.0 + 45.0 * (i // 8) AS ymin,
         -180.0 + 45.0 * (i % 8) + 45.0 AS xmax,
         -90.0 + 45.0 * (i // 8) + 45.0 AS ymax
  FROM range(32) AS t(i)
),
cand AS (
  SELECT zone_id, tx, ty, xmin, ymin, xmax, ymax, ring AS r
  FROM zones CROSS JOIN tiles
  WHERE list_min(list_transform(ring, p -> p.x)) <= xmax
    AND list_max(list_transform(ring, p -> p.x)) >= xmin
    AND list_min(list_transform(ring, p -> p.y)) <= ymax
    AND list_max(list_transform(ring, p -> p.y)) >= ymin
){stages}
SELECT zone_id, tx, ty, len(r) AS n_vertices,
       abs({sql_ring_area2('r')}) / 2 AS area_deg2
FROM {prev}
WHERE len(r) >= 3 AND abs({sql_ring_area2('r')}) / 2 > 1e-9
"""


QUERIES["clip_tiles"] = (q_clip_tiles, _clip_tiles_sql())


# --------------------------------------------------------- clip_zones
# Concave zone ∩ concave region clipping (general polygon clipping —
# the surface Sutherland–Hodgman cannot cover). Subject rings are
# three concave base shapes (one deliberately CW so the ccw()
# normalization is exercised) translated per document; clip regions
# are a concave star, a concave C-shape, and a convex quad. The
# intersection area comes from the fan-triangle decomposition
# (functions/clip.py): Spark EXPLODES the fan triangles into rows and
# stages the three half-plane passes as projections (linear expression
# trees, scale-parallel over pairs*triangles), then folds the signed
# contributions in triangle order via array_sort — deterministic;
# DuckDB evaluates the equivalent nested list-HOF expression, which
# performs the identical float ops in the identical order. The
# vertex-output Weiler–Atherton kernel (operators/clipping.py) is
# cross-checked against this same area in tests/test_clipping.py.

CLIP_SUBJECT_RINGS = {
    0: [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 4.0),
        (0.0, 4.0)],                                   # L-shape, CCW
    1: [(1.0, 2.0), (2.0, 1.0), (3.0, 2.0), (4.0, 2.0), (2.0, 0.0),
        (0.0, 2.0)],                                   # arrowhead, CW
    2: [(0.0, 0.0), (5.0, 0.0), (5.0, 3.0), (4.0, 1.5), (3.0, 3.0),
        (2.0, 1.5), (1.0, 3.0), (0.0, 3.0)],           # comb, CCW
}

CLIP_REGION_RINGS = {
    0: [(2.0, -0.5), (2.9, 1.3), (4.5, 1.3), (3.4, 2.6), (3.9, 4.5),
        (2.0, 3.4), (0.1, 4.5), (0.6, 2.6), (-0.5, 1.3),
        (1.1, 1.3)],                                   # concave star
    1: [(5.5, 0.0), (9.0, 0.0), (9.0, 1.0), (6.5, 1.0), (6.5, 3.0),
        (9.0, 3.0), (9.0, 4.0), (5.5, 4.0)],           # concave C
    2: [(9.5, 2.0), (12.0, 2.2), (11.8, 4.6), (9.8, 4.4)],  # convex
}


def _lit_ring(ring):
    return F.array(*[F.struct(F.lit(float(x)).alias("x"),
                              F.lit(float(y)).alias("y"))
                     for x, y in ring])


def q_clip_zones(spark, sf_dir):
    """General concave∩concave clipping, fan-decomposition area path
    (see block comment above). Plan: broadcast 3-row region dim, bbox
    prefilter, explode size(creg)-2 fan triangles per candidate pair,
    three staged half-plane projections, sorted-fold aggregation."""
    from pyproj_spark.functions.clip import (_clip_half_line, ccw,
                                             ring_area2)
    d = (_t(spark, sf_dir, "documents").select("doc_id")
         .filter(F.col("doc_id") < 180))
    dx = (F.col("doc_id") % 7).cast("double") * 1.7
    dy = (F.col("doc_id") % 5).cast("double") * 1.1
    m = F.col("doc_id") % 3
    base = (F.when(m == 0, _lit_ring(CLIP_SUBJECT_RINGS[0]))
            .when(m == 1, _lit_ring(CLIP_SUBJECT_RINGS[1]))
            .otherwise(_lit_ring(CLIP_SUBJECT_RINGS[2])))
    moved = F.transform(base, lambda p: F.struct(
        (p["x"] + dx).alias("x"), (p["y"] + dy).alias("y")))
    subj = (d.select("doc_id", moved.alias("ring"))
            .select("doc_id", ccw(F.col("ring")).alias("subj")))
    regions = spark.createDataFrame(
        [(rid, [(float(x), float(y)) for x, y in ring])
         for rid, ring in CLIP_REGION_RINGS.items()],
        "region_id int, creg array<struct<x:double,y:double>>")
    sx = F.transform(F.col("subj"), lambda p: p["x"])
    sy = F.transform(F.col("subj"), lambda p: p["y"])
    cx = F.transform(F.col("creg"), lambda p: p["x"])
    cy = F.transform(F.col("creg"), lambda p: p["y"])
    cand = (subj.crossJoin(F.broadcast(regions))
            .filter((F.array_min(sx) <= F.array_max(cx))
                    & (F.array_max(sx) >= F.array_min(cx))
                    & (F.array_min(sy) <= F.array_max(cy))
                    & (F.array_max(sy) >= F.array_min(cy))))
    tri = cand.select(
        "doc_id", "region_id", "subj", "creg",
        F.explode(F.sequence(F.lit(2), F.size("creg") - 1)).alias("i"))
    c0 = F.element_at(F.col("creg"), 1)
    ci = F.element_at(F.col("creg"), F.col("i"))
    cj = F.element_at(F.col("creg"), F.col("i") + 1)
    cross2 = ((ci["x"] - c0["x"]) * (cj["y"] - c0["y"])
              - (ci["y"] - c0["y"]) * (cj["x"] - c0["x"]))
    tri = tri.select(
        "doc_id", "region_id", "subj", "i",
        c0["x"].alias("c0x"), c0["y"].alias("c0y"),
        ci["x"].alias("cix"), ci["y"].alias("ciy"),
        cj["x"].alias("cjx"), cj["y"].alias("cjy"),
        F.when(cross2 > 0, F.lit(1.0)).when(cross2 < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0)).alias("s"))
    tri = tri.withColumn("r1", _clip_half_line(
        F.col("subj"), F.col("c0x"), F.col("c0y"), F.col("cix"),
        F.col("ciy"), F.col("s")))
    tri = tri.withColumn("r2", _clip_half_line(
        F.col("r1"), F.col("cix"), F.col("ciy"), F.col("cjx"),
        F.col("cjy"), F.col("s")))
    tri = tri.withColumn("r3", _clip_half_line(
        F.col("r2"), F.col("cjx"), F.col("cjy"), F.col("c0x"),
        F.col("c0y"), F.col("s")))
    tri = tri.select("doc_id", "region_id", "i",
                     (F.col("s") * ring_area2(F.col("r3")))
                     .alias("contrib"))
    grouped = (tri.groupBy("doc_id", "region_id")
               .agg(F.count(F.lit(1)).alias("n_tris"),
                    F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("i"), F.col("contrib")))),
                        F.lit(0.0),
                        lambda a, t: a + t["contrib"]).alias("ia2")))
    return (grouped
            .select("doc_id", "region_id", "n_tris",
                    (F.abs(F.col("ia2")) / 2).alias("area"))
            .filter(F.col("area") > 1e-9))


def _clip_zones_sql():
    from pyproj_spark.functions.clip import (sql_ccw,
                                             sql_intersection_area2)

    def lit(ring):
        return "[" + ", ".join(
            f"struct_pack(x := {float(x)!r}, y := {float(y)!r})"
            for x, y in ring) + "]"

    s0, s1, s2 = (lit(CLIP_SUBJECT_RINGS[k]) for k in (0, 1, 2))
    regs = ", ".join(f"({rid}, {lit(ring)})"
                     for rid, ring in CLIP_REGION_RINGS.items())
    return f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 180),
t AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN doc_id % 3 = 0 THEN {s0}
                WHEN doc_id % 3 = 1 THEN {s1}
                ELSE {s2} END,
           p -> struct_pack(x := p.x + (doc_id % 7) * 1.7,
                            y := p.y + (doc_id % 5) * 1.1)) AS ring
  FROM d),
n AS (SELECT doc_id, {sql_ccw('ring')} AS subj FROM t),
regions AS (SELECT * FROM (VALUES {regs}) AS r(region_id, creg)),
cand AS (
  SELECT doc_id, region_id, subj, creg
  FROM n CROSS JOIN regions
  WHERE list_min(list_transform(subj, p -> p.x))
          <= list_max(list_transform(creg, p -> p.x))
    AND list_max(list_transform(subj, p -> p.x))
          >= list_min(list_transform(creg, p -> p.x))
    AND list_min(list_transform(subj, p -> p.y))
          <= list_max(list_transform(creg, p -> p.y))
    AND list_max(list_transform(subj, p -> p.y))
          >= list_min(list_transform(creg, p -> p.y))),
sel AS (
  SELECT doc_id, region_id,
         CAST(len(creg) - 2 AS BIGINT) AS n_tris,
         {sql_intersection_area2('subj', 'creg')} / 2 AS area
  FROM cand)
SELECT doc_id, region_id, n_tris, area FROM sel WHERE area > 1e-9
"""


QUERIES["clip_zones"] = (q_clip_zones, _clip_zones_sql())


def q_burst_detect(spark, sf_dir):
    """Burst/trend detection over event streams: hourly counts per
    event type, z-scored against the trailing 24-window frame — the
    spike detector behind trending-topics / crawl-anomaly alerts.
    The trailing mean and variance come from INTEGER frame sums
    (counts and squared counts), so the frame aggregation is exact
    and engine-identical; only the final z division is floating."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600)).alias("hour")
    cnt = (ev.select("event_type", hour)
           .groupBy("event_type", "hour")
           .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-24, -1))
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    k = F.count("n").over(w)
    mean = s1.cast("double") / k
    var = s2.cast("double") / k - mean * mean
    z = F.when((k >= 5) & (var > 0),
               (F.col("n") - mean) / F.sqrt(var))
    # z stays unrounded: both engines build it from identical exact
    # integer frame sums (see the cell_moments half-boundary lesson)
    return (cnt.select("event_type", "hour", "n", z.alias("z"))
            .filter(F.col("z").isNotNull()))


SQL_BURST = """
WITH cnt AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
f AS (
  SELECT event_type, hour, n,
         sum(n) OVER w AS s1, sum(n * n) OVER w AS s2,
         count(n) OVER w AS k
  FROM cnt
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n,
       (n - CAST(s1 AS DOUBLE) / k)
           / sqrt(CAST(s2 AS DOUBLE) / k
                  - (CAST(s1 AS DOUBLE) / k)
                    * (CAST(s1 AS DOUBLE) / k)) AS z
FROM f
WHERE k >= 5 AND CAST(s2 AS DOUBLE) / k
      - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k) > 0
"""


QUERIES["burst_detect"] = (q_burst_detect, SQL_BURST)


def q_hll_union(spark, sf_dir):
    """Sketch MERGEABILITY as a gated artifact: distinct users of two
    event snapshots (by event_id parity) and of their UNION, where the
    union estimate comes from element-wise register max — no raw
    values re-read, and est(a∪b) != est(a) + est(b) because the
    snapshots share users (the double-count sum-of-counts gets wrong).
    Exact distincts ride along for comparison."""
    from pyproj_spark.operators.sketch import (hll_estimate,
                                               hll_registers)
    ev = _t(spark, sf_dir, "events")
    part = F.when(F.col("event_id") % 2 == 0, F.lit("a")) \
        .otherwise(F.lit("b"))
    regs = hll_registers(ev.withColumn("part", part),
                         "part", "user_id")
    union_regs = (regs.groupBy("idx")
                  .agg(F.max("mx").alias("mx"))
                  .select(F.lit("ab").alias("part"), "idx", "mx"))
    est = hll_estimate(regs.unionByName(union_regs), "part")
    exact = (ev.withColumn("part", part)
             .select("part", "user_id")
             .unionByName(ev.select(F.lit("ab").alias("part"),
                                    "user_id"))
             .groupBy("part")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    return (est.join(exact, "part")
            .select("part", "n_exact", "hll_est", "zeros"))


def _hll_union_sql():
    from pyproj_spark.operators.sketch import M, W, C_NUM, LC_THRESH
    v = ("CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) "
         "AS BIGINT)")
    w = f"({v} & {(1 << W) - 1})"
    rho = (f"(CASE WHEN {w} = 0 THEN {W + 1} "
           f"ELSE {W + 1} - length(bin({w})) END)")
    est = (f"CASE WHEN {C_NUM!r} / (sp + ({M} - npres) "
           f"* (1::BIGINT << {W + 1})) <= {LC_THRESH!r} "
           f"AND {M} - npres > 0 "
           f"THEN {float(M)!r} * ln({float(M)!r} / ({M} - npres)) "
           f"ELSE {C_NUM!r} / (sp + ({M} - npres) "
           f"* (1::BIGINT << {W + 1})) END")
    return f"""
WITH ev AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS part,
         user_id, ({v} >> {W}) AS idx, {rho} AS rho
  FROM events
),
regs AS (
  SELECT part, idx, max(rho) AS mx FROM ev GROUP BY 1, 2
),
uregs AS (
  SELECT 'ab' AS part, idx, max(mx) AS mx FROM regs GROUP BY 2
),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM uregs),
g AS (
  SELECT part, sum(1::BIGINT << ({W + 1} - mx)) AS sp,
         count(*) AS npres
  FROM allregs GROUP BY 1
),
est AS (
  SELECT part, round({est}, 4) AS hll_est,
         CAST({M} - npres AS BIGINT) AS zeros
  FROM g
),
exact AS (
  SELECT part, count(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1
  UNION ALL
  SELECT 'ab', count(DISTINCT user_id) FROM events
)
SELECT est.part, exact.n_exact, est.hll_est, est.zeros
FROM est JOIN exact ON exact.part = est.part
"""


QUERIES["hll_union"] = (q_hll_union, _hll_union_sql())


def q_dq_checks(spark, sf_dir):
    """Data-quality expectation audit (the Great-Expectations-shaped
    warehouse stage): one row per check with violation and total
    counts — referential integrity (orphan orders via anti join),
    domain ranges (price > 0, discount in [0,1], lon/lat bounds),
    and completeness (empty documents). Each check is a
    partial-aggregated count; the anti join plans LeftAnti hash."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    docs = _t(spark, sf_dir, "documents")

    # ONE action instead of 7 sequential .count() driver jobs + 5
    # createDataFrame RDD scans (each job paid ~0.2 s of fixed local
    # latency): every check is a conditional aggregate, the per-table
    # 1-row aggregates cross-join (all broadcast), and the 5 output
    # rows explode from a literal struct array. Same counts, same
    # rows — the anti-join count is sum(no-match) over a left join on
    # the distinct c_custkey values, which is the same number even
    # when a key repeats.
    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    o_agg = (orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"),
                                F.lit(1).alias("_hit")).distinct()),
        "o_custkey", "left")
        .agg(cnt(F.col("_hit").isNull()).alias("orphans"),
             F.count(F.lit(1)).alias("n_orders")))
    li_agg = li.agg(
        cnt(F.col("l_extendedprice") <= 0).alias("bad_price"),
        cnt((F.col("l_discount") < 0)
            | (F.col("l_discount") > 1)).alias("bad_disc"),
        F.count(F.lit(1)).alias("n_li"))
    lon = (F.col("doc_id") * 7919 % 360000) / 1000.0 - 180.0
    lat = (F.col("doc_id") * 104729 % 170000) / 1000.0 - 85.0
    d_agg = docs.agg(
        cnt(F.col("text").isNull()
            | (F.length(F.trim("text")) == 0)).alias("empty_docs"),
        cnt((F.abs(lon) > 180) | (F.abs(lat) > 90)).alias("bad_geo"),
        F.count(F.lit(1)).alias("n_docs"))
    combined = o_agg.crossJoin(li_agg).crossJoin(d_agg)

    def row(name, viol, total):
        return F.struct(F.lit(name).alias("check"),
                        F.col(viol).alias("n_violations"),
                        F.col(total).alias("n_total"))

    rows = F.array(row("orphan_orders", "orphans", "n_orders"),
                   row("nonpositive_price", "bad_price", "n_li"),
                   row("discount_range", "bad_disc", "n_li"),
                   row("empty_documents", "empty_docs", "n_docs"),
                   row("geo_bounds", "bad_geo", "n_docs"))
    return (combined.select(F.explode(rows).alias("r"))
            .select("r.check", "r.n_violations", "r.n_total"))


SQL_DQ_CHECKS = f"""
SELECT 'orphan_orders' AS check,
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS n_violations,
       (SELECT count(*) FROM orders) AS n_total
UNION ALL
SELECT 'nonpositive_price',
       (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'discount_range',
       (SELECT count(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'empty_documents',
       (SELECT count(*) FROM documents
        WHERE text IS NULL OR length(trim(text)) = 0),
       (SELECT count(*) FROM documents)
UNION ALL
SELECT 'geo_bounds',
       (SELECT count(*) FROM ({_PTS_SQL})
        WHERE abs(lon) > 180 OR abs(lat) > 90),
       (SELECT count(*) FROM documents)
"""


QUERIES["dq_checks"] = (q_dq_checks, SQL_DQ_CHECKS)


def q_cross_track(spark, sf_dir):
    """Cross-track / along-track distance from a great-circle route
    (the navigation pair every geodesy library ships): for each doc
    point, the signed perpendicular distance to the route A->B and
    the distance of the closest-approach point along it — spherical
    closed forms (Bowditch), pure Catalyst trig with an identical
    acos-argument clamp on both engines. Points beyond 1/4 circle
    from A are excluded (the formulas' validity region)."""
    import math as _m
    R = 6371008.8
    a_lon, a_lat, b_lon, b_lat = -20.0, 40.0, 40.0, 50.0
    pts = _doc_points(spark, sf_dir)
    la1, lo1 = _m.radians(a_lat), _m.radians(a_lon)
    la2, lo2 = _m.radians(b_lat), _m.radians(b_lon)
    th12 = _m.atan2(
        _m.sin(lo2 - lo1) * _m.cos(la2),
        _m.cos(la1) * _m.sin(la2)
        - _m.sin(la1) * _m.cos(la2) * _m.cos(lo2 - lo1))
    la3 = F.radians(F.col("lat"))
    lo3 = F.radians(F.col("lon"))
    # central angle A->P (haversine form) and bearing A->P
    h = (F.pow(F.sin((la3 - F.lit(la1)) / 2), 2)
         + F.lit(_m.cos(la1)) * F.cos(la3)
         * F.pow(F.sin((lo3 - F.lit(lo1)) / 2), 2))
    d13 = 2 * F.asin(F.sqrt(h))
    th13 = F.atan2(
        F.sin(lo3 - F.lit(lo1)) * F.cos(la3),
        F.lit(_m.cos(la1)) * F.sin(la3)
        - F.lit(_m.sin(la1)) * F.cos(la3) * F.cos(lo3 - F.lit(lo1)))
    dxt = F.asin(F.least(F.greatest(
        F.sin(d13) * F.sin(th13 - F.lit(th12)),
        F.lit(-1.0)), F.lit(1.0)))
    dat = F.acos(F.least(F.greatest(
        F.cos(d13) / F.cos(dxt), F.lit(-1.0)), F.lit(1.0)))
    return (pts.filter(d13 < _m.pi / 2)
            .select("doc_id",
                    (dxt * R).alias("cross_track_m"),
                    (dat * R).alias("along_track_m")))


SQL_CROSS_TRACK = f"""
WITH pts AS ({_PTS_SQL}),
c AS (
  SELECT doc_id,
         radians(lat) AS la3, radians(lon) AS lo3,
         radians(40.0) AS la1, radians(-20.0) AS lo1,
         atan2(sin(radians(40.0) - radians(-20.0)) * cos(radians(50.0)),
               cos(radians(40.0)) * sin(radians(50.0))
               - sin(radians(40.0)) * cos(radians(50.0))
                 * cos(radians(40.0) - radians(-20.0))) AS th12
  FROM pts
),
d AS (
  SELECT doc_id, th12,
         2 * asin(sqrt(pow(sin((la3 - la1) / 2), 2)
                       + cos(la1) * cos(la3)
                         * pow(sin((lo3 - lo1) / 2), 2))) AS d13,
         atan2(sin(lo3 - lo1) * cos(la3),
               cos(la1) * sin(la3)
               - sin(la1) * cos(la3) * cos(lo3 - lo1)) AS th13
  FROM c
),
x AS (
  SELECT doc_id, d13,
         asin(least(greatest(sin(d13) * sin(th13 - th12), -1.0), 1.0))
             AS dxt
  FROM d
)
SELECT doc_id,
       dxt * 6371008.8 AS cross_track_m,
       acos(least(greatest(cos(d13) / cos(dxt), -1.0), 1.0))
           * 6371008.8 AS along_track_m
FROM x WHERE d13 < pi() / 2
"""


QUERIES["cross_track"] = (q_cross_track, SQL_CROSS_TRACK)


def q_window_hll(spark, sf_dir):
    """Time-windowed distinct sketching: HLL distinct users per
    6-hour tumbling window — the rollup-friendly form of DAU/WAU
    metrics where per-window REGISTER tables (not counts) are what
    gets stored, because windows then merge into days/weeks with
    element-wise max (see hll_union). Exact distincts ride along."""
    from pyproj_spark.operators.sketch import hll_distinct
    ev = _t(spark, sf_dir, "events")
    wnd = (F.floor(F.unix_timestamp("ts") / 21600)).alias("wnd")
    evw = ev.select(wnd, "user_id")
    est = hll_distinct(evw, "wnd", "user_id")
    exact = (evw.groupBy("wnd")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    return (est.join(exact, "wnd")
            .select("wnd", "n_exact", "hll_est", "zeros"))


def _window_hll_sql():
    from pyproj_spark.operators.sketch import hll_sql
    inner = hll_sql(
        "(SELECT CAST(floor(epoch(ts) / 21600) AS BIGINT) AS wnd, "
        "user_id FROM events)", "wnd", "user_id")
    return f"""
WITH est AS ({inner}),
exact AS (
  SELECT CAST(floor(epoch(ts) / 21600) AS BIGINT) AS wnd,
         count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT est.wnd, exact.n_exact, est.hll_est, est.zeros
FROM est JOIN exact ON exact.wnd = est.wnd
"""


QUERIES["window_hll"] = (q_window_hll, _window_hll_sql())


def q_bloom_join(spark, sf_dir):
    """High-value order lines: lineitem joined to the orders above a
    price threshold, then per-order line count and revenue. The join
    is left plain on purpose: the planner broadcasts the small filtered
    orders side, and its runtime bloom filter prunes lineitem rows
    when a join is large enough to pay for one."""
    orders = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_totalprice") > 400000) \
        .select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey",
                                              "l_extendedprice")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("rev_cents")))


SQL_BLOOM_JOIN = """
SELECT o.o_orderkey, count(*) AS n_lines,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS rev_cents
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice > 400000
GROUP BY 1
"""


QUERIES["bloom_join"] = (q_bloom_join, SQL_BLOOM_JOIN)


def q_event_paths(spark, sf_dir):
    """Top navigation paths: the most common 3-step event-type
    sequences across user sessions (two lead() windows + one count —
    the path-analysis staple of clickstream analytics), top-10 by
    (count desc, path asc) via distributed TakeOrdered before the
    k-row rank window."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.withColumn("e2", F.lead("event_type", 1).over(w))
           .withColumn("e3", F.lead("event_type", 2).over(w))
           .filter(F.col("e3").isNotNull())
           .select(F.concat_ws(">", "event_type", "e2", "e3")
                   .alias("path")))
    counts = seq.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    topk = counts.orderBy(F.col("n").desc(), "path").limit(10)
    rw = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (topk.withColumn("rank", F.row_number().over(rw))
            .select("rank", "path", "n"))


SQL_EVENT_PATHS = """
WITH seq AS (
  SELECT event_type || '>'
         || lead(event_type, 1) OVER w || '>'
         || lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT path, count(*) AS n FROM seq WHERE e3 IS NOT NULL GROUP BY 1
)
SELECT rank, path, n FROM (
  SELECT path, n,
         row_number() OVER (ORDER BY n DESC, path) AS rank
  FROM counts) WHERE rank <= 10
"""


QUERIES["event_paths"] = (q_event_paths, SQL_EVENT_PATHS)


#: axial offsets of the 7-cell hex neighborhood (distance <= 1)
_HEX_NBRS = [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1),
             (-1, 1)]


def q_hex_smooth(spark, sf_dir):
    """Hex-neighborhood density smoothing (the canonical hex-grid
    heatmap analytic, and why uniform neighbors matter): per-cell
    counts are spread to each cell's 7-cell neighborhood with PURE
    INTEGER id arithmetic — neighbor id = cell + (dq<<29) + dr, no
    re-encode — then summed per center; output keeps only occupied
    centers. Both engines run the identical integer adds, so the
    oracle covers the id layout itself."""
    from pyproj_spark.functions.hexcell import hex_of
    pts = _doc_points(spark, sf_dir)
    counts = (pts.withColumn(
        "cell", hex_of(F.col("lon"), F.col("lat"), 6))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")))
    deltas = F.array(*[F.lit((dq << 29) + dr)
                       for dq, dr in _HEX_NBRS])
    spread = (counts
              .withColumn("center", F.explode(F.transform(
                  deltas, lambda d: F.col("cell") + d)))
              .groupBy("center")
              .agg(F.sum("cnt").alias("smoothed")))
    return (counts.join(spread,
                        counts["cell"] == spread["center"])
            .select("cell", "cnt", "smoothed"))


def _hex_smooth_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    deltas = ", ".join(f"({(dq << 29) + dr})" for dq, dr in _HEX_NBRS)
    return f"""
WITH pts AS ({_PTS_SQL}),
counts AS (
  SELECT {hex_sql(6)} AS cell, count(*) AS cnt
  FROM pts GROUP BY 1
),
spread AS (
  SELECT c.cell + d.d AS center, CAST(sum(c.cnt) AS BIGINT) AS smoothed
  FROM counts c CROSS JOIN (VALUES {deltas}) AS d(d)
  GROUP BY 1
)
SELECT counts.cell, counts.cnt, spread.smoothed
FROM counts JOIN spread ON counts.cell = spread.center
"""


QUERIES["hex_smooth"] = (q_hex_smooth, _hex_smooth_sql())


def q_knn_hex(spark, sf_dir):
    """Fact-to-fact kNN on the HEX grid (operators.knn.knn_hex — the
    hex twin of knn_ring): every ~29th document queries its 3 nearest
    other documents among candidates within hex distance 2 of its
    res-0 cell (19 isotropic cells vs the quadtree's 25). Approximate
    by construction; the oracle replays the identical candidate rule
    by pure integer cell-id adds, so the gate covers the hex id
    layout, ring membership, and the rounded-haversine ranking."""
    from pyproj_spark.operators.knn import knn_hex
    pts = _doc_points(spark, sf_dir)
    qs = (pts.filter(F.col("doc_id") % 29 == 0)
          .select(F.col("doc_id").alias("qid"), "lon", "lat"))
    tg = pts.select(F.col("doc_id").alias("nbr_id"), "lon", "lat")
    return knn_hex(qs, tg, k=3, ring=2, res=0,
                   left_id="qid", right_id="nbr_id", round_m=True)


def _knn_hex_sql(res: int = 0, ring: int = 2) -> str:
    from pyproj_spark.functions.hexcell import hex_sql
    deltas = ", ".join(
        f"({(dq << 29) + dr})"
        for dq in range(-ring, ring + 1)
        for dr in range(max(-ring, -dq - ring), min(ring, -dq + ring) + 1))
    return f"""
WITH pts AS ({_PTS_SQL}),
cells AS (
  SELECT doc_id, lon, lat, {hex_sql(res)} AS cell FROM pts
),
qs AS (
  SELECT doc_id AS qid, lon AS qlon, lat AS qlat, cell + d.d AS cand
  FROM cells CROSS JOIN (VALUES {deltas}) AS d(d)
  WHERE doc_id % 29 = 0
),
cand AS (
  SELECT qid, t.doc_id AS nbr_id,
         CAST(round(2.0 * 6371008.8 * asin(sqrt(
             pow(sin((radians(t.lat) - radians(qlat)) / 2), 2)
             + cos(radians(qlat)) * cos(radians(t.lat))
               * pow(sin((radians(t.lon) - radians(qlon)) / 2), 2)
         ))) AS BIGINT) AS dist_m
  FROM qs JOIN cells t ON t.cell = qs.cand AND t.doc_id <> qs.qid
),
ranked AS (
  SELECT qid, nbr_id, dist_m,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist_m, nbr_id) AS rank
  FROM cand
)
SELECT qid, rank, nbr_id, dist_m FROM ranked WHERE rank <= 3
"""


QUERIES["knn_hex"] = (q_knn_hex, _knn_hex_sql())


def q_hll_users(spark, sf_dir):
    """Distinct users per event type via the deterministic HLL sketch
    (operators/sketch.py) next to the exact count. The sketch path
    never shuffles raw values — registers merge with max — which is
    the 100-TB answer to count(DISTINCT); the oracle recomputes the
    identical md5-register estimate, so the gate covers hashing,
    register rank, the exact integer harmonic sum, and the
    linear-counting branch."""
    from pyproj_spark.operators.sketch import hll_distinct
    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, "event_type", "user_id")
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    return (est.join(exact, "event_type")
            .select("event_type", "n_exact", "hll_est", "zeros"))


def _hll_users_sql():
    from pyproj_spark.operators.sketch import hll_sql
    inner = hll_sql("events", "event_type", "user_id")
    return f"""
WITH est AS ({inner}),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT est.event_type, exact.n_exact, est.hll_est, est.zeros
FROM est JOIN exact ON est.event_type = exact.event_type
"""


QUERIES["hll_users"] = (q_hll_users, _hll_users_sql())


def q_funnel(spark, sf_dir):
    """Conversion-funnel analysis (view -> click within 24 h ->
    purchase within 24 h, per user): three chained conditional minima
    — the first view, the first click in the day after it, the first
    purchase in the day after that — then per-stage user counts.
    Three partial-aggregated groupBys on user_id (high-cardinality,
    skew-free), no window, no self-join; the oracle chains the same
    minima in SQL. The 24 h step bound is what splits users across
    stages (unbounded steps converge to everyone converting)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type",
                                            "ts")
    tv = (ev.groupBy("user_id")
          .agg(F.min(F.when(F.col("event_type") == "view",
                            F.col("ts"))).alias("tv")))
    tc = (ev.join(tv, "user_id")
          .groupBy("user_id")
          .agg(F.first("tv").alias("tv"),
               F.min(F.when((F.col("event_type") == "click")
                            & (F.col("ts") >= F.col("tv"))
                            & (F.unix_micros(F.col("ts")
                                             .cast("timestamp"))
                               - F.unix_micros(F.col("tv")
                                               .cast("timestamp"))
                               <= 86400000000),
                            F.col("ts"))).alias("tc")))
    tb = (ev.join(tc, "user_id")
          .groupBy("user_id")
          .agg(F.first("tv").alias("tv"), F.first("tc").alias("tc"),
               F.min(F.when((F.col("event_type") == "purchase")
                            & (F.col("ts") >= F.col("tc"))
                            & (F.unix_micros(F.col("ts")
                                             .cast("timestamp"))
                               - F.unix_micros(F.col("tc")
                                               .cast("timestamp"))
                               <= 86400000000),
                            F.col("ts"))).alias("tb")))
    stage = (F.when(F.col("tb").isNotNull(), 3)
             .when(F.col("tc").isNotNull(), 2)
             .when(F.col("tv").isNotNull(), 1)
             .otherwise(0))
    return (tb.select(stage.alias("stage"))
            .groupBy("stage").agg(F.count(F.lit(1)).alias("n_users")))


SQL_FUNNEL = """
WITH tv AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS tv
  FROM events GROUP BY user_id
),
tc AS (
  SELECT e.user_id, any_value(tv.tv) AS tv,
         min(CASE WHEN e.event_type = 'click' AND e.ts >= tv.tv
                   AND epoch_us(e.ts) - epoch_us(tv.tv) <= 86400000000
                  THEN e.ts END) AS tc
  FROM events e JOIN tv ON e.user_id = tv.user_id
  GROUP BY e.user_id
),
tb AS (
  SELECT e.user_id, any_value(tc.tv) AS tv, any_value(tc.tc) AS tc,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= tc.tc
                   AND epoch_us(e.ts) - epoch_us(tc.tc) <= 86400000000
                  THEN e.ts END) AS tb
  FROM events e JOIN tc ON e.user_id = tc.user_id
  GROUP BY e.user_id
)
SELECT CASE WHEN tb IS NOT NULL THEN 3
            WHEN tc IS NOT NULL THEN 2
            WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS stage,
       count(*) AS n_users
FROM tb GROUP BY 1
"""

QUERIES["funnel"] = (q_funnel, SQL_FUNNEL)


def q_skewed_agg(spark, sf_dir):
    """Skew-safe aggregation under the gate: a deliberately hot key
    distribution (80% of docs share 3 keys — the web-data city skew)
    is aggregated through the SALTED two-stage operator, and the
    oracle computes the plain GROUP BY — salting must be
    result-invariant while splitting each hot key across 16 shuffle
    partitions. Gates the skew machinery itself, not just a plan
    property."""
    from pyproj_spark.operators.skew import salted_agg
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    hot = F.when(i % 10 < 8, (i % 3).cast("long")) \
        .otherwise((i % 97 + 100).cast("long"))
    keyed = d.select(hot.alias("k"), "n_chars")
    return salted_agg(keyed, ["k"], {
        "n": (F.count(F.lit(1)), F.sum("n")),
        "sum_chars": (F.sum("n_chars"), F.sum("sum_chars")),
        "max_chars": (F.max("n_chars"), F.max("max_chars")),
    }).select("k", F.col("n").cast("long").alias("n"),
              F.col("sum_chars").cast("long").alias("sum_chars"),
              "max_chars")


SQL_SKEWED_AGG = """
WITH keyed AS (
  SELECT CASE WHEN doc_id % 10 < 8 THEN doc_id % 3
              ELSE doc_id % 97 + 100 END AS k,
         n_chars
  FROM documents
)
SELECT k, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       max(n_chars) AS max_chars
FROM keyed GROUP BY k
"""

QUERIES["skewed_agg"] = (q_skewed_agg, SQL_SKEWED_AGG)


def q_scd2_asof(spark, sf_dir):
    """Time travel over the SCD-2 history built by q_scd2: the state
    as of ts=50 must equal the ORIGINAL table (every change happened
    at ts=100), which the oracle states directly — an end-to-end
    check that history application preserves point-in-time
    reconstructability."""
    from pyproj_spark.operators.merge import scd2_apply, scd2_as_of
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    hist = o.select("o_orderkey", "price",
                    F.lit(0).cast("long").alias("valid_from"),
                    F.lit(None).cast("long").alias("valid_to"))
    k = F.col("o_orderkey")
    changes = (o.filter(k % 3 == 1)
               .select("o_orderkey",
                       F.round(F.col("price") + 7.33, 2).alias("price"),
                       F.lit(100).cast("long").alias("ts")))
    applied = scd2_apply(hist, changes, ["o_orderkey"], ["price"])
    return scd2_as_of(applied, 50)


SQL_SCD2_ASOF = """
SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
"""

QUERIES["scd2_asof"] = (q_scd2_asof, SQL_SCD2_ASOF)


def q_histogram(spark, sf_dir):
    """Equi-width histogram of o_totalprice (20 bins over the actual
    min..max): two passes — a min/max aggregate that broadcasts back
    as literals, then one bucketing aggregate (floor arithmetic, the
    same expression inlined in the oracle). Values at max land in the
    last bin."""
    o = _t(spark, sf_dir, "orders").select(
        F.round("o_totalprice", 2).alias("v"))
    lo, hi = o.agg(F.min("v"), F.max("v")).first()
    w = (hi - lo) / 20.0
    b = F.least(F.floor((F.col("v") - F.lit(lo)) / F.lit(w)),
                F.lit(19)).cast("long")
    return (o.groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("v"), 4).alias("mean_v")))


SQL_HISTOGRAM = """
WITH o AS (SELECT round(o_totalprice, 2) AS v FROM orders),
mm AS (SELECT min(v) AS lo, max(v) AS hi FROM o)
SELECT least(CAST(floor((v - lo) / ((hi - lo) / 20.0)) AS BIGINT),
             19) AS bin,
       count(*) AS n, round(avg(v), 4) AS mean_v
FROM o, mm GROUP BY 1
"""

QUERIES["histogram"] = (q_histogram, SQL_HISTOGRAM)


def q_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): pointer
    DOUBLING over a functional redirect graph — 16-hop budget in 4
    self-join rounds instead of 16 hop-by-hop shuffles. The derived
    graph mixes 29-hop chains (longer than the budget: mid-chain
    nodes come back resolved=false, tail nodes resolve), absorbing
    terminals, and a 30-node cycle (never resolves — the bounded
    redirect-budget contract every production fetcher has). Oracle
    follows the same 16 absorbing hops in a recursive CTE."""
    from pyproj_spark.operators.redirects import resolve_redirects
    d = _t(spark, sf_dir, "documents")
    u = (F.col("doc_id") % 600).alias("u")
    edges = (d.select(u)
             .withColumn("v", F.when(F.col("u") >= 570,
                                     570 + (F.col("u") - 570 + 1) % 30)
                         .when(F.col("u") % 30 == 29, F.lit(None))
                         .otherwise(F.col("u") + 1))
             .filter(F.col("v").isNotNull()))
    return (resolve_redirects(edges, src="u", dst="v", max_hops=16)
            .select("url", "target", "resolved"))


SQL_REDIRECT_CHAINS = """
WITH RECURSIVE raw AS (
  SELECT DISTINCT doc_id % 600 AS u,
         CASE WHEN doc_id % 600 >= 570
                THEN 570 + ((doc_id % 600) - 570 + 1) % 30
              WHEN (doc_id % 600) % 30 = 29 THEN NULL
              ELSE doc_id % 600 + 1 END AS v
  FROM documents
),
e AS (SELECT u, min(v) AS v FROM raw
      WHERE v IS NOT NULL AND u <> v GROUP BY u),
-- DISTINCT-over-UNION-ALL, not UNION: inside WITH RECURSIVE DuckDB
-- 1.0 runs this member's UNION without the dedup step
nodes AS (SELECT DISTINCT node FROM (
  SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
walk AS (
  SELECT node, node AS cur, 0 AS step FROM nodes
  UNION ALL
  SELECT w.node, coalesce(e.v, w.cur), w.step + 1
  FROM walk w LEFT JOIN e ON e.u = w.cur
  WHERE w.step < 16
)
SELECT w.node AS url, w.cur AS target,
       w.cur NOT IN (SELECT u FROM e) AS resolved
FROM walk w WHERE w.step = 16
"""


QUERIES["redirect_chains"] = (q_redirect_chains, SQL_REDIRECT_CHAINS)


def q_s2_bbox(spark, sf_dir):
    """The S2 range-pruning join pattern: a CONUS-ish bbox query
    answered by (1) a driver-side covering of the bbox at level 4,
    merged into a handful of half-open leaf-id ranges (Hilbert
    contiguity is what makes them merge), (2) a native range prefilter
    `exists(ranges, r -> lo <= cell < hi)` on each point's level-8 id
    — the predicate parquet min/max pruning would serve when files are
    sorted by the id — then (3) the exact bbox test. The oracle
    IGNORES the covering and filters the raw coordinates directly:
    hash equality PROVES the covering is a sound superset on this
    input (the fuzz property test proves it broadly)."""
    from pyproj_spark.functions import s2cell
    W, S, E, N = -130.25, 22.25, -60.75, 52.75
    ranges = s2cell.covering_ranges(W, S, E, N, 4, 8)
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 360000) / 1000.0 - 179.9995)
        .alias("lon"),
        ((F.col("doc_id") * 104729 % 170000) / 1000.0 - 84.9995)
        .alias("lat"))
    cell = s2cell.cell_of(F.col("lon"), F.col("lat"), 8)
    # probe the covering as a BROADCAST range table, NOT an exists()
    # over a literal array: PushDownPredicate substitutes a projected
    # column into a pushed filter, so a lambda that captures `cell`
    # re-evaluates the whole Hilbert-fold encode once per RANGE (#
    # ranges x encode per row — measured 114 s at sf0.1). As a BNLJ
    # condition, `cell` is an attribute the join child computed once
    # per row (114 -> ~3 s; ranges are disjoint so at most one match).
    rdf = F.broadcast(spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in ranges], "lo long, hi long"))
    return (pts.withColumn("cell", cell)
            .join(rdf, (F.col("cell") >= F.col("lo"))
                  & (F.col("cell") < F.col("hi")))
            .filter((F.col("lon") >= W) & (F.col("lon") <= E)
                    & (F.col("lat") >= S) & (F.col("lat") <= N))
            .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")))


def _s2_bbox_sql():
    # independent recompute: bbox filter on raw coords, then the s2
    # encode chain — no covering knowledge at all
    base = _s2_sql(8)
    marker = "FROM documents\n)"
    filtered = base.replace(
        marker,
        "FROM documents\n), pts0 AS (\n  SELECT * FROM pts WHERE "
        "lon >= -130.25 AND lon <= -60.75 AND lat >= 22.25 AND "
        "lat <= 52.75\n)")
    return filtered.replace("FROM pts\n", "FROM pts0\n")


QUERIES["s2_bbox"] = (q_s2_bbox, _s2_bbox_sql())


@functools.cache
def _s2_pip_covering():
    """The adaptive S2 coverings of PIP_ZONES at level 8: the
    (zone_id, cell_id, certain) rows and the sorted cell levels. A pure
    function of module constants — ~1.3 s of driver-side numpy, so it
    runs once per process (never keyed on fact data)."""
    from pyproj_spark.functions import s2cell
    zr = []
    levels = set()
    for zid, ring in PIP_ZONES.items():
        for cid, certain in s2cell.covering_polygon_adaptive(ring, 8):
            zr.append((zid, int(cid), int(certain)))
            levels.add(cid >> 58)
    return tuple(zr), tuple(sorted(levels))


def q_s2_pip(spark, sf_dir):
    """PIP join on the S2 index, end to end UDF-free: per-zone polygon
    coverings (driver-side, sound-superset by rect-vs-ring pruning)
    collapse to merged leaf-id ranges via Hilbert contiguity; each
    point's level-8 id probes the literal range table with one
    filter+explode (no join, no shuffle before the final project); the
    exact even-odd test is ``ring_contains``, the native twin of
    pip_join's ``point_in_ring_np``, so candidate refinement is
    bit-identical to pip_join's. The coverings are ADAPTIVE
    mixed-level (real-S2 shape): interior cells stay coarse and carry
    certain=1 — their points are accepted with NO exact test; only the
    boundary sliver is refined. The oracle is the covering-blind SQL_PIP: hash
    equality proves the covering dropped no candidate AND that no
    certain range leaked an outside point. Contrast with pip_join
    (geocell equality covering + Arrow-UDF exact test)."""
    from pyproj_spark.functions import s2cell
    zr, levels = _s2_pip_covering()
    pts = _doc_points(spark, sf_dir)
    cell = s2cell.cell_of(F.col("lon"), F.col("lat"), 8)
    # containment as an ANCESTOR EQUI-JOIN: the mixed-level covering
    # cells key a broadcast table by their own id; each point explodes
    # to its ancestor id at every level the covering uses (closed-form
    # bit math on the encoded attribute) and hash-joins. This keeps
    # the probe a BroadcastHashJoin — a literal-array filter() lambda
    # re-evaluates the captured encode per range (PushDownPredicate
    # substitution), and a range-table BNLJ evaluates its condition
    # per (row x range) pair with the exact test folded in (measured
    # 17 s at sf0.1 for 2.9k ranges); the equi-join hashes once per
    # ancestor level and runs the exact test only on hash matches
    # (17 -> ~2.5 s).
    from pyproj_spark.io import session_memo
    rdf = F.broadcast(session_memo(
        spark, "s2_pip_ranges",
        lambda: spark.createDataFrame(
            list(zr), "zone_id int, anc long, certain int")))
    anc = F.explode(F.array(*[
        s2cell.parent(F.col("cell"), lv) for lv in levels]))
    cands = (pts.withColumn("cell", cell)
             .withColumn("anc", anc)
             .join(rdf, "anc"))
    inside = F.lit(False)
    for zid, ring in PIP_ZONES.items():
        inside = F.when(F.col("zone_id") == zid, ring_contains(
            F.col("lon"), F.col("lat"), ring)).otherwise(inside)
    return (cands.filter((F.col("certain") == 1) | inside)
            .select("doc_id", "zone_id"))


QUERIES["s2_pip"] = (q_s2_pip, SQL_PIP)


def q_quadkey(spark, sf_dir):
    """Bing quadkey tile keys at z=8: the lexicographic-prefix tile
    addressing used by string-keyed tile stores (parent tile == string
    prefix, so a region scan is one BETWEEN on the key). Encode is
    pure Catalyst bit math (functions/tiles.py::quadkey); the oracle
    rebuilds each base-4 digit independently."""
    from pyproj_spark.functions.tiles import quadkey, tile_xy_from_lonlat
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 8)
    return (pts.select(tx.alias("tx"), ty.alias("ty"))
            .select(quadkey(F.col("tx"), F.col("ty"), 8).alias("qk"))
            .groupBy("qk").agg(F.count(F.lit(1)).alias("cnt")))


def _quadkey_sql() -> str:
    digit = ("substr('0123', 1 + CAST(((ty >> {s}) & 1) * 2"
             " + ((tx >> {s}) & 1) AS INT), 1)")
    qk = " || ".join(digit.format(s=8 - 1 - i) for i in range(8))
    return f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256)
                         AS BIGINT), 0), 255) AS tx,
         least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
               radians(least(greatest(lat, -85.05112877980659),
                             85.05112877980659)) / 2)) / pi()) / 2.0 * 256)
               AS BIGINT), 0), 255) AS ty
  FROM pts
)
SELECT {qk} AS qk, count(*) AS cnt FROM t GROUP BY 1
"""


QUERIES["quadkey"] = (q_quadkey, _quadkey_sql())


def q_od_matrix(spark, sf_dir):
    """Origin-destination flow matrix (the transport-analytics rollup
    on top of the dwell/session surface): per user-day trip endpoints
    — first and last hex cell by event order — aggregated to (origin,
    destination) flow counts. min_by/max_by over the time-ordered
    event_id keeps endpoint selection deterministic on both engines;
    one hash agg per stage, no window."""
    from pyproj_spark.functions.hexcell import hex_of
    ev = _t(spark, sf_dir, "events")
    minute = F.floor(F.unix_timestamp("ts") / 600)
    lon = ((F.col("user_id") % 36) * 10 - 180 + (minute % 7) * 2.0)
    lat = ((F.col("user_id") % 17) * 8 - 60).cast("double")
    pts = ev.select(
        "user_id", "event_id",
        F.floor(F.unix_timestamp("ts") / 86400).alias("day"),
        hex_of(lon, lat, 2).alias("cell"))
    trips = (pts.groupBy("user_id", "day")
             .agg(F.min_by("cell", "event_id").alias("o_cell"),
                  F.max_by("cell", "event_id").alias("d_cell")))
    return (trips.groupBy("o_cell", "d_cell")
            .agg(F.count(F.lit(1)).alias("n_trips"),
                 F.countDistinct("user_id").alias("n_users")))


def _od_matrix_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    cell = hex_sql(2, lon_expr="lon", lat_expr="lat")
    return f"""
WITH pts AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         (user_id % 36) * 10 - 180
             + (floor(epoch(ts) / 600) % 7) * 2.0 AS lon,
         CAST((user_id % 17) * 8 - 60 AS DOUBLE) AS lat
  FROM events
),
cells AS (SELECT user_id, event_id, day, {cell} AS cell FROM pts),
trips AS (
  SELECT user_id, day,
         min_by(cell, event_id) AS o_cell,
         max_by(cell, event_id) AS d_cell
  FROM cells GROUP BY 1, 2
)
SELECT o_cell, d_cell, count(*) AS n_trips,
       count(DISTINCT user_id) AS n_users
FROM trips GROUP BY 1, 2
"""


QUERIES["od_matrix"] = (q_od_matrix, _od_matrix_sql())


def q_swissgrid(spark, sf_dir):
    """T1 breadth: the Swiss oblique Mercator (PROJ somerc — the
    double-projection family: ellipsoid -> Gauss conformal sphere ->
    rotated spherical Mercator), CH1903+ geographic -> LV95
    (EPSG:4150 -> EPSG:2056). The oracle replays the full closed-form
    forward (conformal latitude, pseudo-equator rotation, equatorial
    Mercator) in DuckDB from inlined float64 constants — an
    independent libm recompute of the kernel, gated at centimetres
    (kernels/projections.py::SwissObliqueMercator)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (6.0 + (F.col("doc_id") * 7919 % 4500) / 1000.0).alias("lon"),
        (45.8 + (F.col("doc_id") * 104729 % 2000) / 1000.0).alias("lat"))
    xy = transform_xy("EPSG:4150", "EPSG:2056",
                      F.col("lon"), F.col("lat"))
    return (docs.withColumn("xy", xy)
            .select("doc_id",
                    F.round(F.col("xy.x") * 100).cast("long")
                    .alias("e_cm"),
                    F.round(F.col("xy.y") * 100).cast("long")
                    .alias("n_cm")))


def _swissgrid_sql() -> str:
    import numpy as np
    from pyproj_spark.kernels.ellipsoid import get_ellipsoid
    E = get_ellipsoid("bessel")
    e2, e = E.e2, E.e
    phi0 = np.radians(46.952405555555565)
    s0, c0 = np.sin(phi0), np.cos(phi0)
    alpha = np.sqrt(1.0 + e2 / (1.0 - e2) * c0 ** 4)
    R = E.a * np.sqrt(1.0 - e2) / (1.0 - e2 * s0 * s0)
    b0 = np.arcsin(s0 / alpha)
    K = (np.log(np.tan(np.pi / 4 + b0 / 2))
         - alpha * np.log(np.tan(np.pi / 4 + phi0 / 2))
         + alpha * e / 2 * np.log((1 + e * s0) / (1 - e * s0)))
    lon0 = np.radians(7.439583333333333)
    sb0, cb0 = np.sin(b0), np.cos(b0)
    return f"""
WITH pts AS (
  SELECT doc_id,
         6.0 + (doc_id * 7919 % 4500) / 1000.0    AS lon,
         45.8 + (doc_id * 104729 % 2000) / 1000.0 AS lat
  FROM documents
),
sph AS (
  SELECT doc_id,
         2 * (atan(exp({alpha!r} * ln(tan(pi()/4 + radians(lat)/2))
              - {alpha!r} * {e!r} / 2
                * ln((1 + {e!r} * sin(radians(lat)))
                     / (1 - {e!r} * sin(radians(lat))))
              + {K!r})) - pi()/4) AS b,
         {alpha!r} * (radians(lon) - {lon0!r}) AS l
  FROM pts
),
rot AS (
  SELECT doc_id,
         least(greatest({cb0!r} * sin(b) - {sb0!r} * cos(b) * cos(l),
                        -1.0), 1.0) AS sbb,
         atan2(cos(b) * sin(l),
               {cb0!r} * cos(b) * cos(l) + {sb0!r} * sin(b)) AS ll
  FROM sph
)
SELECT doc_id,
       CAST(round(({R!r} * ll + 2600000.0) * 100) AS BIGINT) AS e_cm,
       CAST(round(({R!r} / 2 * ln((1 + sbb) / (1 - sbb))
                   + 1200000.0) * 100) AS BIGINT) AS n_cm
FROM rot
"""


QUERIES["swissgrid"] = (q_swissgrid, _swissgrid_sql())


def q_simplify(spark, sf_dir):
    """Douglas-Peucker polyline simplification over per-user synthetic
    planar tracks (33 vertices each) at eps=30 m — the vector-tile
    reduction operator (operators/lines.py::simplify_lines). The
    oracle replays DP as 32 unrolled split passes (the worst-case
    split depth for 33-vertex lines, so termination is unconditional;
    drained passes are empty and cost nothing); keep decisions use
    only IEEE-exact arithmetic (+,-,*,/,sqrt), so both engines split
    identically and the kept vertex set hash-matches exactly."""
    from pyproj_spark.operators.lines import simplify_lines
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (ev.withColumn("seq", F.row_number().over(w))
           .filter(F.col("seq") <= 33)
           .select("user_id", F.col("seq").cast("long").alias("seq"),
                   (F.col("seq") * 100.0).alias("x"),
                   ((F.col("event_id") * 7919 % 1000) / 10.0
                    + F.col("seq") * 3.0).alias("y")))
    return simplify_lines(pts, eps=30.0)


def _simplify_sql(n_pass: int = 32) -> str:
    dist = ("abs((b.x - a.x) * (a.y - p.y) - (a.x - p.x) * (b.y - a.y))"
            " / sqrt((b.x - a.x) * (b.x - a.x)"
            " + (b.y - a.y) * (b.y - a.y))")
    parts = ["""
WITH ev AS MATERIALIZED (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS seq
  FROM events
),
pts AS MATERIALIZED (
  SELECT user_id, CAST(seq AS BIGINT) AS seq, seq * 100.0 AS x,
         (event_id * 7919 % 1000) / 10.0 + seq * 3.0 AS y
  FROM ev WHERE seq <= 33
),
ends AS (SELECT user_id, min(seq) AS s0, max(seq) AS s1
         FROM pts GROUP BY 1),
segs0 AS (SELECT user_id, s0 AS i0, s1 AS i1 FROM ends WHERE s1 > s0)"""]
    for k in range(n_pass):
        parts.append(f""",
d{k} AS (
  SELECT s.user_id, s.i0, s.i1, p.seq AS j, {dist} AS d
  FROM segs{k} s
  JOIN pts a ON a.user_id = s.user_id AND a.seq = s.i0
  JOIN pts b ON b.user_id = s.user_id AND b.seq = s.i1
  JOIN pts p ON p.user_id = s.user_id
            AND p.seq > s.i0 AND p.seq < s.i1
),
sp{k} AS MATERIALIZED (
  SELECT user_id, i0, i1, j FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, i0, i1
                                 ORDER BY d DESC, j) AS rn
    FROM d{k}) WHERE rn = 1 AND d > 30.0
),
segs{k + 1} AS (
  SELECT user_id, i0, j AS i1 FROM sp{k}
  UNION ALL SELECT user_id, j AS i0, i1 FROM sp{k}
)""")
    splits = "\nUNION\n".join(
        f"SELECT user_id, j AS seq FROM sp{k}" for k in range(n_pass))
    parts.append(f"""
SELECT user_id, s0 AS seq FROM ends
UNION
SELECT user_id, s1 AS seq FROM ends
UNION
{splits}
""")
    return "".join(parts)


QUERIES["simplify"] = (q_simplify, _simplify_sql())


def _mann_kendall_s(ns):
    """Mann-Kendall S of the count array ``ns``: the sum of
    sign(n_j - n_i) over index pairs i < j, as a long. Arrays shorter
    than 2 have no pair and give 0; the guard is in the expression
    itself, since sequence(0, -1) counts down and would index past a
    1-element array."""
    sz = F.size(ns)
    pair_sign = F.flatten(F.transform(
        F.sequence(F.lit(0), sz - 2),
        lambda i: F.transform(
            F.sequence(i + 1, sz - 1),
            lambda j: F.signum(F.element_at(ns, (j + 1).cast("int"))
                               - F.element_at(ns, (i + 1).cast("int")))
            .cast("long"))))
    s_col = F.aggregate(pair_sign, F.lit(0).cast("long"),
                        lambda acc, v: acc + v)
    return F.when(sz >= 2, s_col).otherwise(F.lit(0).cast("long"))


def q_trend_cells(spark, sf_dir):
    """Emerging hot-spot analysis: Mann-Kendall trend test per hex
    cell over its daily event counts (the space-time companion to the
    Gi* snapshot — "which cells are MONOTONICALLY heating up").
    S = sum of sign(x_j - x_i) over day pairs i<j is an exact integer;
    the tie-corrected normal-approximation variance is a ratio of
    exact integers — so the z-score is deterministic unrounded.
    Scale shape: the pair stage is a per-cell self-join on (cell) with
    day < day — pairs are bounded by days^2 per cell (a constant), not
    by corpus size."""
    from pyproj_spark.functions.hexcell import hex_of
    ev = _t(spark, sf_dir, "events")
    minute = F.floor(F.unix_timestamp("ts") / 600)
    lon = ((F.col("user_id") % 36) * 10 - 180 + (minute % 7) * 2.0)
    lat = ((F.col("user_id") % 17) * 8 - 60).cast("double")
    t = (ev.select(hex_of(lon, lat, 2).alias("cell"),
                   F.floor(F.unix_timestamp("ts") / 86400).alias("day"))
         .groupBy("cell", "day").agg(F.count(F.lit(1)).alias("n")))
    # ONE evaluation of the hex-encode + daily-count chain instead of
    # three (the old pair self-join + separate tie aggregation each
    # re-ran it, plus a join): per cell, collect the day-ordered
    # (day, n) array — days are distinct within a cell, so the count
    # is bounded by the day range, not the corpus — and derive S and
    # the tie terms from array HOFs. Same exact integers: S sums
    # sign(n_j - n_i) over day-ordered pairs, tiesum sums
    # k(k-1)(2k+5) over per-value counts; cells with a single day are
    # dropped by the t_days >= 2 filter below.
    g = (t.groupBy("cell")
         .agg(F.array_sort(F.collect_list(F.struct("day", "n")))
              .alias("a"))
         # day-ordered counts as a REAL column: element_at inside the
         # pair lambdas would otherwise re-evaluate an inline
         # transform(...) per lookup (the ngram_shingles trap)
         .select("cell", F.transform(F.col("a"), lambda st: st["n"])
                 .alias("ns")))
    ns = F.col("ns")
    sz = F.size(ns)
    s_col = _mann_kendall_s(ns)
    tiesum = F.aggregate(
        F.transform(F.array_distinct(ns), lambda v: F.size(
            F.filter(ns, lambda x: x == v)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, k: acc + k * (k - 1) * (2 * k + 5))
    out = g.select("cell", s_col.alias("s"),
                   sz.cast("long").alias("t_days"),
                   tiesum.alias("tiesum"))
    td = F.col("t_days").cast("double")
    var_ = ((td * (td - F.lit(1.0)) * (F.lit(2.0) * td + F.lit(5.0))
             - F.col("tiesum").cast("double")) / F.lit(18.0))
    sd = F.col("s").cast("double")
    z = (F.when(F.col("s") > 0, (sd - F.lit(1.0)) / F.sqrt(var_))
         .when(F.col("s") < 0, (sd + F.lit(1.0)) / F.sqrt(var_))
         .otherwise(F.lit(0.0)))
    z = F.when(var_ > 0, z)
    return (out.filter(F.col("t_days") >= 2)
            .select("cell", "s", "t_days", z.alias("mk_z"),
                    F.when(z > 1.959963984540054, 1)
                    .when(z < -1.959963984540054, -1)
                    .otherwise(0).alias("trend")))


def _trend_cells_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    cell = hex_sql(2, lon_expr="lon", lat_expr="lat")
    return f"""
WITH pts AS (
  SELECT user_id, ts,
         (user_id % 36) * 10 - 180
             + (floor(epoch(ts) / 600) % 7) * 2.0 AS lon,
         CAST((user_id % 17) * 8 - 60 AS DOUBLE) AS lat
  FROM events
),
t AS MATERIALIZED (
  SELECT {cell} AS cell,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
s AS (
  SELECT a.cell, CAST(sum(sign(b.n - a.n)) AS BIGINT) AS s
  FROM t a JOIN t b ON a.cell = b.cell AND a.day < b.day
  GROUP BY 1
),
ties AS (
  SELECT cell, CAST(sum(k) AS BIGINT) AS t_days,
         CAST(sum(k * (k - 1) * (2 * k + 5)) AS BIGINT) AS tiesum
  FROM (SELECT cell, n, count(*) AS k FROM t GROUP BY 1, 2)
  GROUP BY 1
),
j AS (
  SELECT s.cell, s.s, ties.t_days,
         (CAST(t_days AS DOUBLE) * (CAST(t_days AS DOUBLE) - 1.0)
            * (2.0 * CAST(t_days AS DOUBLE) + 5.0)
          - CAST(tiesum AS DOUBLE)) / 18.0 AS var_s
  FROM s JOIN ties ON ties.cell = s.cell
  WHERE t_days >= 2
),
z AS (
  SELECT cell, s, t_days,
         CASE WHEN var_s > 0 THEN
           CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
                WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
                ELSE 0.0 END
         END AS mk_z
  FROM j
)
SELECT cell, s, t_days, mk_z,
       CASE WHEN mk_z > 1.959963984540054 THEN 1
            WHEN mk_z < -1.959963984540054 THEN -1 ELSE 0 END AS trend
FROM z
"""


QUERIES["trend_cells"] = (q_trend_cells, _trend_cells_sql())


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust slope per hex cell over its daily event counts
    — the ESTIMATOR companion to the Mann-Kendall TEST (`trend_cells`
    tells you a cell is heating up; this says how fast, immune to
    outlier days). sen_slope = median over all day pairs i<j of
    (n_j-n_i)/(day_j-day_i); intercept = median(n_i - slope*day_i)
    (Conover's pairing). Medians are Spark's exact `percentile`
    (linear interpolation) replayed by DuckDB `quantile_cont` on
    identical double ratios-of-integers. Scale shape: the pair stage
    is the same per-cell (cell)-equijoin as trend_cells — pairs
    bounded by days^2 per cell (a constant), not corpus size; both
    medians are per-cell aggregations, no global sort."""
    from pyproj_spark.functions.hexcell import hex_of
    ev = _t(spark, sf_dir, "events")
    minute = F.floor(F.unix_timestamp("ts") / 600)
    lon = ((F.col("user_id") % 36) * 10 - 180 + (minute % 7) * 2.0)
    lat = ((F.col("user_id") % 17) * 8 - 60).cast("double")
    t = (ev.select(hex_of(lon, lat, 2).alias("cell"),
                   F.floor(F.unix_timestamp("ts") / 86400).alias("day"))
         .groupBy("cell", "day").agg(F.count(F.lit(1)).alias("n")))
    # same parallelism pin as trend_cells: the exact-percentile pair
    # stage must not collapse to one AQE-coalesced task (guide §2.5)
    t = t.repartition(spark.sparkContext.defaultParallelism, "cell")
    a = t.select(F.col("cell"), F.col("day").alias("di"),
                 F.col("n").alias("ni"))
    b = t.select(F.col("cell"), F.col("day").alias("dj"),
                 F.col("n").alias("nj"))
    slopes = (a.join(b, "cell").filter(F.col("di") < F.col("dj"))
              .withColumn("slope",
                          (F.col("nj") - F.col("ni")).cast("double")
                          / (F.col("dj") - F.col("di")).cast("double"))
              .groupBy("cell")
              .agg(F.count(F.lit(1)).alias("n_pairs"),
                   F.expr("percentile(slope, 0.5)").alias("sen_slope")))
    return (t.join(slopes, "cell")
            .withColumn("resid", F.col("n").cast("double")
                        - F.col("sen_slope") * F.col("day").cast("double"))
            .groupBy("cell")
            .agg(F.first("n_pairs").alias("n_pairs"),
                 F.first("sen_slope").alias("sen_slope"),
                 F.expr("percentile(resid, 0.5)").alias("sen_intercept")))


def _theil_sen_sql():
    from pyproj_spark.functions.hexcell import hex_sql
    cell = hex_sql(2, lon_expr="lon", lat_expr="lat")
    return f"""
WITH pts AS (
  SELECT user_id, ts,
         (user_id % 36) * 10 - 180
             + (floor(epoch(ts) / 600) % 7) * 2.0 AS lon,
         CAST((user_id % 17) * 8 - 60 AS DOUBLE) AS lat
  FROM events
),
t AS MATERIALIZED (
  SELECT {cell} AS cell,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
slopes AS (
  SELECT a.cell, count(*) AS n_pairs,
         quantile_cont(CAST(b.n - a.n AS DOUBLE)
                       / CAST(b.day - a.day AS DOUBLE), 0.5) AS sen_slope
  FROM t a JOIN t b ON a.cell = b.cell AND a.day < b.day
  GROUP BY 1
)
SELECT t.cell, any_value(s.n_pairs) AS n_pairs,
       any_value(s.sen_slope) AS sen_slope,
       quantile_cont(CAST(t.n AS DOUBLE)
                     - s.sen_slope * CAST(t.day AS DOUBLE), 0.5)
           AS sen_intercept
FROM t JOIN slopes s ON s.cell = t.cell
GROUP BY t.cell
"""


QUERIES["theil_sen"] = (q_theil_sen, _theil_sen_sql())


def q_idw_raster(spark, sf_dir):
    """IDW interpolation raster (Shepard 1968): per 3-degree grid cell,
    the inverse-distance-squared weighted mean of sample values from
    the cell's 3x3 neighborhood — the scattered-points -> raster
    operator. Scale shape: scatter (each point explodes to its 9
    target cells) + one hash agg; never a points self-join, and the
    neighborhood is a fixed constant. Determinism: grid centers are
    pure arithmetic (no trig), weights use only +,-,*,/ on identical
    expression trees, and both weight and value sums are rounded to
    exact integer picounits BEFORE aggregation — order-independent."""
    pts = _doc_points(spark, sf_dir).select(
        "lon", "lat",
        ((F.col("doc_id") * 31 % 1000) / 10.0).alias("v"))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    e = (pts.select("lon", "lat", "v", F.explode(d9).alias("d"))
         .select("lon", "lat", "v",
                 (F.floor(F.col("lon") / 3.0) + F.col("d.dx"))
                 .alias("cx"),
                 (F.floor(F.col("lat") / 3.0) + F.col("d.dy"))
                 .alias("cy")))
    dlon = F.col("lon") - (F.col("cx") * 3.0 + 1.5)
    dlat = F.col("lat") - (F.col("cy") * 3.0 + 1.5)
    w = F.lit(1.0) / (dlon * dlon + dlat * dlat + F.lit(0.01))
    e = e.select("cx", "cy",
                 F.round(w * 1e12).cast("long").alias("wi"),
                 F.round(w * F.col("v") * 1e9).cast("long").alias("wv"))
    out = (e.groupBy("cx", "cy")
           .agg(F.count(F.lit(1)).alias("n_contrib"),
                F.sum("wi").alias("wsum"), F.sum("wv").alias("vsum")))
    est = (F.col("vsum").cast("double") * 1e3
           / F.col("wsum").cast("double"))
    return out.select("cx", "cy", "n_contrib", "wsum", "vsum",
                      est.alias("idw_value"))


SQL_IDW = f"""
WITH pts AS ({_PTS_SQL}),
sv AS (SELECT lon, lat, (doc_id * 31 % 1000) / 10.0 AS v FROM pts),
e AS (
  SELECT lon, lat, v,
         CAST(floor(lon / 3.0) AS BIGINT) + d.dx AS cx,
         CAST(floor(lat / 3.0) AS BIGINT) + d.dy AS cy
  FROM sv CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                             (1,-1),(1,0),(1,1)) AS d(dx, dy)
),
t AS (
  SELECT cx, cy,
         CAST(round((1.0 / ((lon - (cx * 3.0 + 1.5))
                             * (lon - (cx * 3.0 + 1.5))
                           + (lat - (cy * 3.0 + 1.5))
                             * (lat - (cy * 3.0 + 1.5)) + 0.01))
                    * 1e12) AS BIGINT) AS wi,
         CAST(round((1.0 / ((lon - (cx * 3.0 + 1.5))
                             * (lon - (cx * 3.0 + 1.5))
                           + (lat - (cy * 3.0 + 1.5))
                             * (lat - (cy * 3.0 + 1.5)) + 0.01))
                    * v * 1e9) AS BIGINT) AS wv
  FROM e
)
SELECT cx, cy, count(*) AS n_contrib,
       CAST(sum(wi) AS BIGINT) AS wsum, CAST(sum(wv) AS BIGINT) AS vsum,
       CAST(sum(wv) AS DOUBLE) * 1e3 / CAST(sum(wi) AS DOUBLE)
           AS idw_value
FROM t GROUP BY 1, 2
"""

QUERIES["idw_raster"] = (q_idw_raster, SQL_IDW)


def q_kde_raster(spark, sf_dir):
    """Kernel density estimation raster with the EPANECHNIKOV kernel
    (Epanechnikov 1969 — the minimum-MSE kernel): per 2-degree cell
    center, sum of max(0, h^2 - d^2) over points within bandwidth
    h = 4 degrees. The kernel is POLYNOMIAL, so with exact integer
    milli-degree coordinates every weight is an exact long — zero
    libm in the whole query (the reason Epanechnikov over Gaussian
    here: exp() ulps would sit directly on the rounding boundary of
    a summed unit). Scale shape: scatter to the fixed 5x5 cell
    neighborhood + one hash agg, never a points self-join."""
    pts = _doc_points(spark, sf_dir)
    mx = F.round(F.col("lon") * 1000).cast("long")
    my = F.round(F.col("lat") * 1000).cast("long")
    d25 = F.array(*[F.struct(F.lit(dx).alias("dx"),
                             F.lit(dy).alias("dy"))
                    for dx in range(-2, 3) for dy in range(-2, 3)])
    e = (pts.select(mx.alias("mx"), my.alias("my"),
                    F.explode(d25).alias("d"))
         .select("mx", "my",
                 (F.floor(F.col("mx") / 2000) + F.col("d.dx"))
                 .alias("cx"),
                 (F.floor(F.col("my") / 2000) + F.col("d.dy"))
                 .alias("cy")))
    ddx = F.col("mx") - (F.col("cx") * 2000 + 1000)
    ddy = F.col("my") - (F.col("cy") * 2000 + 1000)
    w = F.greatest(F.lit(16000000) - (ddx * ddx + ddy * ddy),
                   F.lit(0)).cast("long")
    out = (e.select("cx", "cy", w.alias("w"))
           .filter(F.col("w") > 0)
           .groupBy("cx", "cy")
           .agg(F.count(F.lit(1)).alias("n_contrib"),
                F.sum("w").alias("wsum")))
    return out.select(
        "cx", "cy", "n_contrib", "wsum",
        (F.col("wsum").cast("double") / 16000000.0).alias("kde"))


SQL_KDE = f"""
WITH pts AS ({_PTS_SQL}),
p AS (
  SELECT CAST(round(lon * 1000) AS BIGINT) AS mx,
         CAST(round(lat * 1000) AS BIGINT) AS my
  FROM pts
),
e AS (
  SELECT mx, my,
         CAST(floor(mx / 2000) AS BIGINT) + d.dx AS cx,
         CAST(floor(my / 2000) AS BIGINT) + d.dy AS cy
  FROM p CROSS JOIN (
    SELECT a.dx, b.dy
    FROM (VALUES (-2),(-1),(0),(1),(2)) a(dx),
         (VALUES (-2),(-1),(0),(1),(2)) b(dy)) d
),
t AS (
  SELECT cx, cy,
         greatest(16000000 - ((mx - (cx * 2000 + 1000))
                              * (mx - (cx * 2000 + 1000))
                            + (my - (cy * 2000 + 1000))
                              * (my - (cy * 2000 + 1000))), 0) AS w
  FROM e
)
SELECT cx, cy, count(*) AS n_contrib,
       CAST(sum(w) AS BIGINT) AS wsum,
       CAST(sum(w) AS DOUBLE) / 16000000.0 AS kde
FROM t WHERE w > 0 GROUP BY 1, 2
"""

QUERIES["kde_raster"] = (q_kde_raster, SQL_KDE)


def q_rendezvous(spark, sf_dir):
    """Rendezvous (highest-random-weight) hashing: each host is
    assigned to the worker maximizing md5(host:worker) — the
    consistent-assignment primitive (Thaler & Ravishankar 1998) next
    to crawl_schedule's modulo sharding: removing a worker moves ONLY
    that worker's hosts. max_by over the md5 long is deterministic
    (md5 ties are impossible at 2^-32 per pair and would fail the
    gate loudly, not silently)."""
    hosts = (_t(spark, sf_dir, "documents")
             .select(F.concat(F.lit("h"), (F.col("doc_id") % 997)
                              .cast("string")).alias("host"))
             .distinct())
    w = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("worker")
    e = hosts.select("host", w)
    h = F.conv(F.substring(F.md5(F.concat(
        F.col("host"), F.lit(":"), F.col("worker").cast("string"))),
        1, 8), 16, 10).cast("long")
    return (e.withColumn("hrw", h)
            .groupBy("host")
            .agg(F.max_by("worker", "hrw").cast("long").alias("worker"),
                 F.max("hrw").alias("hrw")))


SQL_RENDEZVOUS = """
WITH hosts AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 997 AS VARCHAR) AS host
  FROM documents
),
e AS (
  SELECT host, w.worker,
         CAST(('0x' || substr(md5(host || ':'
              || CAST(w.worker AS VARCHAR)), 1, 8)) AS BIGINT) AS hrw
  FROM hosts CROSS JOIN (SELECT unnest(range(10)) AS worker) w
)
SELECT host, CAST(max_by(worker, hrw) AS BIGINT) AS worker,
       max(hrw) AS hrw
FROM e GROUP BY 1
"""

QUERIES["rendezvous"] = (q_rendezvous, SQL_RENDEZVOUS)


def q_wkt_geom(spark, sf_dir):
    """WKT geometry ingestion, UDF-free: POLYGON text (synthesized
    identically on both engines, then PARSED BACK — an end-to-end
    parser test) -> coordinate arrays via one regexp_extract_all pass
    + array HOFs -> vertex count, bbox, and the exact shoelace area
    (integer coords, so the cross-product fold is an exact long — no
    float summation order anywhere). The vector-file ingestion
    primitive next to the GeoJSON/zones source."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    x0 = (i * 13 % 300).cast("long")
    y0 = (i * 29 % 300).cast("long")
    w_ = (i * 7 % 40 + 10).cast("long")
    h_ = (i * 11 % 30 + 5).cast("long")

    def s(c):
        return c.cast("string")

    wkt = F.concat(
        F.lit("POLYGON(("),
        s(x0), F.lit(" "), s(y0), F.lit(", "),
        s(x0 + w_), F.lit(" "), s(y0), F.lit(", "),
        s(x0 + w_), F.lit(" "), s(y0 + h_), F.lit(", "),
        s(x0), F.lit(" "), s(y0 + h_), F.lit(", "),
        s(x0), F.lit(" "), s(y0), F.lit("))"))
    parsed = d.select("doc_id", wkt.alias("wkt"))
    pairs = F.regexp_extract_all(F.col("wkt"),
                                 F.lit(r"(-?\d+) (-?\d+)"), F.lit(0))
    xs = F.transform(pairs,
                     lambda p: F.split(p, " ")[0].cast("long"))
    ys = F.transform(pairs,
                     lambda p: F.split(p, " ")[1].cast("long"))
    parsed = parsed.select("doc_id", xs.alias("xs"), ys.alias("ys"))
    n = F.size(F.col("xs"))
    cross = F.zip_with(
        F.zip_with(F.slice(F.col("xs"), 1, n - 1),
                   F.slice(F.col("ys"), 2, n - 1),
                   lambda a, b: a * b),
        F.zip_with(F.slice(F.col("xs"), 2, n - 1),
                   F.slice(F.col("ys"), 1, n - 1),
                   lambda a, b: a * b),
        lambda p, q: p - q)
    area2 = F.aggregate(cross, F.lit(0).cast("long"),
                        lambda acc, c: acc + c)
    return parsed.select(
        "doc_id", n.alias("n_vertices"),
        F.array_min("xs").alias("xmin"), F.array_max("xs").alias("xmax"),
        F.array_min("ys").alias("ymin"), F.array_max("ys").alias("ymax"),
        (F.abs(area2).cast("double") / 2.0).alias("area"))


SQL_WKT_GEOM = r"""
WITH g AS (
  SELECT doc_id,
         'POLYGON((' || x0 || ' ' || y0 || ', '
          || (x0 + w) || ' ' || y0 || ', '
          || (x0 + w) || ' ' || (y0 + h) || ', '
          || x0 || ' ' || (y0 + h) || ', '
          || x0 || ' ' || y0 || '))' AS wkt
  FROM (SELECT doc_id, doc_id * 13 % 300 AS x0, doc_id * 29 % 300 AS y0,
               doc_id * 7 % 40 + 10 AS w, doc_id * 11 % 30 + 5 AS h
        FROM documents)
),
p AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(wkt, '(-?\d+) (-?\d+)'),
           s -> CAST(str_split(s, ' ')[1] AS BIGINT)) AS xs,
         list_transform(regexp_extract_all(wkt, '(-?\d+) (-?\d+)'),
           s -> CAST(str_split(s, ' ')[2] AS BIGINT)) AS ys
  FROM g
)
SELECT doc_id, len(xs) AS n_vertices,
       list_min(xs) AS xmin, list_max(xs) AS xmax,
       list_min(ys) AS ymin, list_max(ys) AS ymax,
       abs(list_sum(list_transform(range(1, len(xs)),
             i -> xs[i] * ys[i + 1] - xs[i + 1] * ys[i])))
         / 2.0 AS area
FROM p
"""

QUERIES["wkt_geom"] = (q_wkt_geom, SQL_WKT_GEOM)


def q_retention(spark, sf_dir):
    """Cohort retention matrix (the product-analytics staple): users
    cohorted by first-activity week; each (cohort_week, week_offset)
    cell counts distinct users active that many weeks later, plus the
    retention rate against the cohort size. Two hash aggregations and
    one broadcast-sized join (weeks x users collapses to user rows
    map-side); all counts exact ints, the rate divides two exact ints
    once."""
    ev = _t(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).alias("week")).distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort"))
    joined = weeks.join(first, "user_id")
    act = (joined.groupBy("cohort",
                          (F.col("week") - F.col("cohort"))
                          .alias("week_offset"))
           .agg(F.countDistinct("user_id").alias("n_active")))
    size = (first.groupBy("cohort")
            .agg(F.countDistinct("user_id").alias("cohort_size")))
    out = act.join(F.broadcast(size), "cohort")
    return out.select(
        "cohort", "week_offset", "n_active", "cohort_size",
        (F.col("n_active").cast("double")
         / F.col("cohort_size").cast("double")).alias("retention"))


SQL_RETENTION = """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, min(week) AS cohort FROM weeks GROUP BY 1),
act AS (
  SELECT f.cohort, w.week - f.cohort AS week_offset,
         count(DISTINCT w.user_id) AS n_active
  FROM weeks w JOIN first f ON f.user_id = w.user_id
  GROUP BY 1, 2
),
size_ AS (SELECT cohort, count(DISTINCT user_id) AS cohort_size
          FROM first GROUP BY 1)
SELECT act.cohort, week_offset, n_active, cohort_size,
       CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)
           AS retention
FROM act JOIN size_ ON size_.cohort = act.cohort
"""

QUERIES["retention"] = (q_retention, SQL_RETENTION)


def q_geojson_parse(spark, sf_dir):
    """GeoJSON Feature ingestion, UDF-free: Point-feature JSON strings
    (synthesized identically on both engines, then parsed BACK — an
    end-to-end parser check like wkt_geom) -> typed columns via
    get_json_object, then geocell-encoded and rolled up per (cell,
    category). DuckDB re-parses with its own JSON engine — a
    cross-implementation JSON conformance row."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    lon = ((i * 7919 % 360000) / 1000.0 - 180.0)
    lat = ((i * 104729 % 170000) / 1000.0 - 85.0)
    gj = F.concat(
        F.lit('{"type": "Feature", "geometry": {"type": "Point", '
              '"coordinates": ['),
        lon.cast("string"), F.lit(", "), lat.cast("string"),
        F.lit(']}, "properties": {"id": '), i.cast("string"),
        F.lit(', "cat": "c'), (i % 7).cast("string"), F.lit('"}}'))
    feats = d.select(gj.alias("gj"))
    plon = F.get_json_object("gj", "$.geometry.coordinates[0]") \
        .cast("double")
    plat = F.get_json_object("gj", "$.geometry.coordinates[1]") \
        .cast("double")
    cat = F.get_json_object("gj", "$.properties.cat")
    parsed = feats.select(
        cells.cell_of(plon, plat, 6).alias("cell"), cat.alias("cat"))
    return (parsed.groupBy("cell", "cat")
            .agg(F.count(F.lit(1)).alias("cnt")))


def _geojson_sql():
    # the same geocell bit math as SQL_GEOCELL, at level 6 over the
    # JSON-parsed coordinates
    cell = ("(CAST(6 AS BIGINT) << 58) | ((CAST(floor((plon + 180.0) / "
            "2.8125) AS BIGINT) % 128) << 29) | "
            "least(greatest(CAST(floor((plat + 90.0) / 2.8125) "
            "AS BIGINT), 0), 63)")
    return f"""
WITH g AS (
  SELECT '{{"type": "Feature", "geometry": {{"type": "Point", '
         || '"coordinates": [' || ((doc_id * 7919 % 360000) / 1000.0
              - 180.0)
         || ', ' || ((doc_id * 104729 % 170000) / 1000.0 - 85.0)
         || ']}}, "properties": {{"id": ' || doc_id
         || ', "cat": "c' || (doc_id % 7) || '"}}}}' AS gj
  FROM documents
),
p AS (
  SELECT CAST(json_extract(gj, '$.geometry.coordinates[0]')
              AS DOUBLE) AS plon,
         CAST(json_extract(gj, '$.geometry.coordinates[1]')
              AS DOUBLE) AS plat,
         json_extract_string(gj, '$.properties.cat') AS cat
  FROM g
)
SELECT {cell} AS cell, cat, count(*) AS cnt FROM p GROUP BY 1, 2
"""


QUERIES["geojson_parse"] = (q_geojson_parse, _geojson_sql())


#: fixed road segments (seg_id, ax, ay, bx, by) — planar degrees,
#: shared by the Spark build and the SQL oracle (PIP_ZONES pattern)
ROAD_SEGS = [
    (0, -120.0, 30.0, -80.0, 45.0), (1, -80.0, 45.0, -40.0, 40.0),
    (2, -10.0, 50.0, 30.0, 55.0), (3, 30.0, 55.0, 60.0, 35.0),
    (4, 60.0, 35.0, 100.0, 30.0), (5, 100.0, 30.0, 140.0, 40.0),
    (6, -60.0, -20.0, -20.0, -35.0), (7, 20.0, -30.0, 60.0, -20.0),
    (8, 80.0, -40.0, 120.0, -25.0), (9, -150.0, 60.0, -100.0, 65.0),
    (10, 0.0, 0.0, 40.0, 10.0), (11, -40.0, -5.0, 0.0, 0.0),
]


def q_snap_roads(spark, sf_dir):
    """Map-matching primitive: snap each point to its nearest road
    segment (closest-point projection with clamped parameter t, then
    argmin over segments with a seg_id tie-break). The candidate stage
    here is a broadcast cross join against the 12-segment literal
    table; at corpus scale the segment set is cell-prefiltered first
    (the pip_join/knn pattern) so the fan-out stays bounded. Snap
    arithmetic is +,-,*,/ only — bit-identical across engines, so t
    and d2 hash unrounded."""
    pts = _doc_points(spark, sf_dir)
    roads = F.broadcast(spark.createDataFrame(
        ROAD_SEGS, "seg_id int, ax double, ay double, "
        "bx double, by double"))
    c = pts.crossJoin(roads)
    dx, dy = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    traw = (((F.col("lon") - F.col("ax")) * dx
             + (F.col("lat") - F.col("ay")) * dy)
            / (dx * dx + dy * dy))
    t = F.least(F.greatest(traw, F.lit(0.0)), F.lit(1.0))
    ex = F.col("lon") - (F.col("ax") + t * dx)
    ey = F.col("lat") - (F.col("ay") + t * dy)
    c = c.select("doc_id", "seg_id", t.alias("t"),
                 (ex * ex + ey * ey).alias("d2"))
    w = Window.partitionBy("doc_id").orderBy("d2", "seg_id")
    return (c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "seg_id", "t", "d2"))


def _snap_roads_sql():
    vals = ", ".join(f"({s}, {ax!r}, {ay!r}, {bx!r}, {by!r})"
                     for s, ax, ay, bx, by in ROAD_SEGS)
    return f"""
WITH pts AS ({_PTS_SQL}),
segs AS (SELECT * FROM (VALUES {vals})
         AS s(seg_id, ax, ay, bx, by)),
c AS (
  SELECT doc_id, seg_id,
         least(greatest(
           ((lon - ax) * (bx - ax) + (lat - ay) * (by - ay))
             / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)),
           0.0), 1.0) AS t,
         lon, lat, ax, ay, bx, by
  FROM pts CROSS JOIN segs
),
d AS (
  SELECT doc_id, seg_id, t,
         (lon - (ax + t * (bx - ax))) * (lon - (ax + t * (bx - ax)))
       + (lat - (ay + t * (by - ay))) * (lat - (ay + t * (by - ay)))
           AS d2
  FROM c
)
SELECT doc_id, seg_id, t, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY d2, seg_id) AS rn
  FROM d) WHERE rn = 1
"""


QUERIES["snap_roads"] = (q_snap_roads, _snap_roads_sql())


# ----------------------------------------------------- graph traversal

_HOST_EDGES_SQL = """
  SELECT DISTINCT doc_id % 97 AS src, (doc_id * 13 + 5) % 97 AS dst
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97 AND doc_id % 97 < 90
"""


def _host_edges(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    return (d.select((k % 97).alias("src"),
                     ((k * 13 + 5) % 97).alias("dst"))
            .filter((F.col("src") != F.col("dst"))
                    & (F.col("src") < 90))
            .distinct())


def q_hop_distance(spark, sf_dir):
    """Multi-source BFS hop distance from seed hosts {0, 7, 13} over
    the deterministic 97-host link graph (operators/bfs.py) — the
    TrustRank-style distance-from-whitelist crawl signal. Each round
    shuffles only frontier x out-edges and anti-joins the distance
    table, so rounds are diameter-bounded (<= 6 here); the oracle is
    a DuckDB recursive CTE taking min(hop) per node."""
    from pyproj_spark.operators.bfs import hop_distance
    return hop_distance(_host_edges(spark, sf_dir),
                        seeds=[0, 7, 13], max_hops=6)


SQL_HOP_DISTANCE = f"""
WITH RECURSIVE edges AS ({_HOST_EDGES_SQL}),
walk(node, hop) AS (
  SELECT CAST(s AS BIGINT) AS node, 0 AS hop
  FROM (VALUES (0), (7), (13)) t(s)
  UNION
  SELECT e.dst, w.hop + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hop < 6
)
SELECT node, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY node
"""


QUERIES["hop_distance"] = (q_hop_distance, SQL_HOP_DISTANCE)


def q_label_prop(spark, sf_dir):
    """Deterministic synchronous label propagation (3 rounds,
    neighbor-label mode with min-label tie-break) over the undirected
    host graph — host-community detection for crawl sharding. The
    min-tie-break makes LPA a pure function of the edge set, which is
    what lets the oracle replay the identical unrolled rounds."""
    from pyproj_spark.operators.bfs import label_propagation
    return label_propagation(_host_edges(spark, sf_dir), rounds=3)


def _label_prop_sql():
    it = """
c{o} AS (
  SELECT u.a AS node, l.label, count(*) AS c
  FROM und u JOIN l{i} l ON l.node = u.b GROUP BY 1, 2
),
l{o} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM c{o}) WHERE rn = 1
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH edges AS ({_HOST_EDGES_SQL}),
und AS (
  SELECT a, b FROM (
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst AS a, src AS b FROM edges) q
  WHERE a <> b
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
{its}
SELECT node, label FROM l3
"""


QUERIES["label_prop"] = (q_label_prop, _label_prop_sql())


# ------------------------------------------------ sketch tile pyramid

def q_hll_pyramid(spark, sf_dir):
    """Distinct-user tile pyramid: per-tile HLL registers at z=8 are
    computed ONCE from the raw points, then merged up to z=6 and z=4
    with element-wise register max — the mergeability property that
    makes hierarchical distinct counting a single scan at 100 TB
    (count(DISTINCT) per zoom would rescan and reshuffle raw values
    per level). The oracle recomputes the identical md5 registers and
    the same three-level merge."""
    from pyproj_spark.operators.sketch import W, hll_estimate
    from pyproj_spark.functions.tiles import tile_xy_from_lonlat
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 8)
    # (doc_id % 4096) first keeps the multiply inside int64 at any
    # doc_id (identical value mod 4096); the raw product overflows —
    # silently wrapping in Spark, erroring in DuckDB — past ~3.5e9.
    u = ((F.col("doc_id") % 4096) * 2654435761) % 4096
    base = pts.select(tx.alias("tx"), ty.alias("ty"),
                      u.cast("string").alias("u"))
    v = F.conv(F.substring(F.md5(F.col("u")), 1, 15), 16, 10) \
        .cast("long")
    w = v.bitwiseAND(F.lit((1 << W) - 1))
    rho = (F.when(w == 0, F.lit(W + 1))
           .otherwise(F.lit(W + 1) - F.length(F.bin(w))))
    regs8 = (base.select("tx", "ty",
                         F.shiftright(v, W).alias("idx"),
                         rho.alias("rho"))
             .groupBy("tx", "ty", "idx")
             .agg(F.max("rho").alias("mx")))

    def up(regs, s):
        return (regs.groupBy(F.shiftright(F.col("tx"), s).alias("tx"),
                             F.shiftright(F.col("ty"), s).alias("ty"),
                             "idx")
                .agg(F.max("mx").alias("mx")))

    outs = []
    for z, regs in ((8, regs8), (6, up(regs8, 2)), (4, up(regs8, 4))):
        outs.append(hll_estimate(regs, ["tx", "ty"])
                    .withColumn("z", F.lit(z)))
    r = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return r.select("z", "tx", "ty", "hll_est", "zeros")


def _hll_pyramid_sql():
    from pyproj_spark.operators.sketch import C_NUM, LC_THRESH, M, W
    v = ("CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15)) "
         "AS BIGINT)")
    w = f"({v} & {(1 << W) - 1})"
    rho = (f"(CASE WHEN {w} = 0 THEN {W + 1} "
           f"ELSE {W + 1} - length(bin({w})) END)")
    raw = (f"{C_NUM!r} / (sp + ({M} - npres) "
           f"* (1::BIGINT << {W + 1}))")

    def est(regs, z):
        return f"""
  SELECT {z} AS z, tx, ty,
         round(CASE WHEN {raw} <= {LC_THRESH!r} AND {M} - npres > 0
               THEN {float(M)!r} * ln({float(M)!r} / ({M} - npres))
               ELSE {raw} END, 4) AS hll_est,
         CAST({M} - npres AS BIGINT) AS zeros
  FROM (SELECT tx, ty,
               sum(1::BIGINT << ({W + 1} - mx)) AS sp,
               count(*) AS npres
        FROM {regs} GROUP BY 1, 2) g{z}"""

    return f"""
WITH pts AS ({_PTS_SQL}),
base AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256)
                             AS BIGINT), 0), 255) AS tx,
         least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
               radians(least(greatest(lat, -85.05112877980659),
                             85.05112877980659)) / 2)) / pi())
               / 2.0 * 256) AS BIGINT), 0), 255) AS ty,
         ((doc_id % 4096) * 2654435761) % 4096 AS u
  FROM pts
),
regs8 AS (
  SELECT tx, ty, ({v} >> {W}) AS idx, max({rho}) AS mx
  FROM base GROUP BY 1, 2, 3
),
regs6 AS (SELECT tx >> 2 AS tx, ty >> 2 AS ty, idx, max(mx) AS mx
          FROM regs8 GROUP BY 1, 2, 3),
regs4 AS (SELECT tx >> 4 AS tx, ty >> 4 AS ty, idx, max(mx) AS mx
          FROM regs8 GROUP BY 1, 2, 3)
{est('regs8', 8)}
UNION ALL{est('regs6', 6)}
UNION ALL{est('regs4', 4)}
"""


QUERIES["hll_pyramid"] = (q_hll_pyramid, _hll_pyramid_sql())


# ------------------------------------------------- line rasterization

def q_rasterize_lines(spark, sf_dir):
    """Vector->raster polyline burn-in: deterministic segments in a
    256x256 global pixel grid rasterize by dominant-axis DDA — one
    native sequence() explode per segment, pixel coordinates from
    floor(k*d/steps + 0.5) (pure IEEE double ops, so both engines
    round identically) — then per-pixel coverage counts aggregate.
    This is the line-drawing half of tile materialization (roads,
    trajectories) next to the point-density rasters; within a segment
    each k lands on a distinct dominant-axis column so no pixel is
    double-counted. Output is bounded by the 64k pixel grid no matter
    the corpus size; the oracle replays the DDA with
    generate_series."""
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % 17 == 0))
    k = F.col("doc_id")
    seg = d.select(((k * 37) % 256).alias("x0"),
                   ((k * 59) % 256).alias("y0"),
                   ((k * 83 + 41) % 256).alias("x1"),
                   ((k * 101 + 7) % 256).alias("y1"))
    steps = F.greatest(F.abs(F.col("x1") - F.col("x0")),
                       F.abs(F.col("y1") - F.col("y0")))
    seg = (seg.withColumn("steps", steps)
           .withColumn("k", F.explode(
               F.sequence(F.lit(0), F.col("steps")))))

    def dda(a0, a1):
        return F.when(F.col("steps") == 0, F.col(a0)).otherwise(
            F.col(a0) + F.floor(
                F.col("k") * (F.col(a1) - F.col(a0))
                / F.col("steps") + F.lit(0.5)))

    return (seg.select(dda("x0", "x1").alias("px"),
                       dda("y0", "y1").alias("py"))
            .groupBy("px", "py").agg(F.count(F.lit(1)).alias("n")))


SQL_RASTERIZE_LINES = """
WITH seg AS (
  SELECT (doc_id * 37) % 256 AS x0, (doc_id * 59) % 256 AS y0,
         (doc_id * 83 + 41) % 256 AS x1, (doc_id * 101 + 7) % 256 AS y1
  FROM documents WHERE doc_id % 17 = 0
),
st AS (
  SELECT x0, y0, x1, y1,
         greatest(abs(x1 - x0), abs(y1 - y0)) AS steps
  FROM seg
),
px AS (
  SELECT CASE WHEN steps = 0 THEN x0
         ELSE x0 + CAST(floor(k * (x1 - x0) / steps + 0.5) AS BIGINT)
         END AS px,
         CASE WHEN steps = 0 THEN y0
         ELSE y0 + CAST(floor(k * (y1 - y0) / steps + 0.5) AS BIGINT)
         END AS py
  FROM st, unnest(generate_series(0, steps)) AS t(k)
)
SELECT px, py, count(*) AS n FROM px GROUP BY 1, 2
"""


QUERIES["rasterize_lines"] = (q_rasterize_lines, SQL_RASTERIZE_LINES)


# ------------------------------------------------ vector tile encode

def q_vector_tile(spark, sf_dir):
    """Mapbox-Vector-Tile-style point-layer encoding at z=8 /
    extent 4096: per tile, features sort by id, coordinates quantize
    to tile-local integers, and the geometry becomes the MVT command
    stream — [MoveTo(count=1)=9, zigzag(dx), zigzag(dy)] per feature
    with a running cursor (delta encoding). Everything is native
    array HOFs (one collect_list per tile + transform/flatten); the
    output row is the tile's feature count, command-int count, and
    the md5 of the comma-joined stream — a content-addressable tile
    payload. The oracle rebuilds the identical stream with DuckDB
    ordered list aggregation. Per-tile payloads are the natural unit
    of parallelism at 100 TB (groupBy tile, no cross-tile state)."""
    pts = _doc_points(spark, sf_dir)
    wx = (F.col("lon") + 180.0) / 360.0 * 256.0
    lat_c = F.greatest(F.least(F.col("lat"), F.lit(85.05112877980659)),
                       F.lit(-85.05112877980659))
    import math as _m
    wy = ((1.0 - F.log(F.tan(_m.pi / 4
                             + F.radians(lat_c) / 2)) / _m.pi)
          / 2.0 * 256.0)
    tx = F.least(F.greatest(F.floor(wx), F.lit(0)),
                 F.lit(255)).cast("long")
    ty = F.least(F.greatest(F.floor(wy), F.lit(0)),
                 F.lit(255)).cast("long")
    px = F.least(F.floor((wx - tx) * 4096), F.lit(4095)).cast("long")
    py = F.least(F.floor((wy - ty) * 4096), F.lit(4095)).cast("long")
    feat = pts.select(tx.alias("tx"), ty.alias("ty"),
                      F.col("doc_id"), px.alias("px"), py.alias("py"))
    g = (feat.groupBy("tx", "ty")
         .agg(F.sort_array(F.collect_list(
             F.struct("doc_id", "px", "py"))).alias("fs")))
    xs = F.transform(F.col("fs"), lambda s: s["px"])
    ys = F.transform(F.col("fs"), lambda s: s["py"])
    g = g.withColumn("xs", xs).withColumn("ys", ys)

    def zig(d):
        return F.when(d >= 0, d * 2).otherwise(-d * 2 - 1)

    def deltas(col):
        return F.transform(
            F.col(col),
            lambda x, i: zig(x - F.when(i == 0, F.lit(0)).otherwise(
                F.element_at(F.col(col), i))))

    cmds = F.flatten(F.zip_with(
        deltas("xs"), deltas("ys"),
        lambda zx, zy: F.array(F.lit(9), zx, zy)))
    return (g.select("tx", "ty",
                     F.size("fs").alias("n_feat"),
                     F.size(cmds).alias("n_ints"),
                     F.md5(F.concat_ws(",", cmds)).alias("cmd_md5")))


SQL_VECTOR_TILE = f"""
WITH pts AS ({_PTS_SQL}),
w AS (
  SELECT doc_id,
         (lon + 180.0) / 360.0 * 256.0 AS wx,
         (1.0 - ln(tan(pi()/4 + radians(least(greatest(lat,
              -85.05112877980659), 85.05112877980659)) / 2)) / pi())
             / 2.0 * 256.0 AS wy
  FROM pts
),
q AS (
  SELECT doc_id,
         least(greatest(CAST(floor(wx) AS BIGINT), 0), 255) AS tx,
         least(greatest(CAST(floor(wy) AS BIGINT), 0), 255) AS ty,
         least(CAST(floor((wx - least(greatest(CAST(floor(wx) AS
             BIGINT), 0), 255)) * 4096) AS BIGINT), 4095) AS px,
         least(CAST(floor((wy - least(greatest(CAST(floor(wy) AS
             BIGINT), 0), 255)) * 4096) AS BIGINT), 4095) AS py
  FROM w
),
g AS (
  SELECT tx, ty,
         list(px ORDER BY doc_id) AS xs,
         list(py ORDER BY doc_id) AS ys
  FROM q GROUP BY 1, 2
),
d AS (
  SELECT tx, ty, len(xs) AS n_feat,
         flatten(list_transform(generate_series(1, len(xs)), i ->
           [CAST(9 AS BIGINT),
            CASE WHEN xs[i] - (CASE WHEN i = 1 THEN 0
                               ELSE xs[i-1] END) >= 0
                 THEN 2 * (xs[i] - (CASE WHEN i = 1 THEN 0
                                    ELSE xs[i-1] END))
                 ELSE -2 * (xs[i] - (CASE WHEN i = 1 THEN 0
                                     ELSE xs[i-1] END)) - 1 END,
            CASE WHEN ys[i] - (CASE WHEN i = 1 THEN 0
                               ELSE ys[i-1] END) >= 0
                 THEN 2 * (ys[i] - (CASE WHEN i = 1 THEN 0
                                    ELSE ys[i-1] END))
                 ELSE -2 * (ys[i] - (CASE WHEN i = 1 THEN 0
                                     ELSE ys[i-1] END)) - 1 END]))
             AS cmds
  FROM g
)
SELECT tx, ty, CAST(n_feat AS INT) AS n_feat,
       CAST(len(cmds) AS INT) AS n_ints,
       md5(array_to_string(cmds, ',')) AS cmd_md5
FROM d
"""


QUERIES["vector_tile"] = (q_vector_tile, SQL_VECTOR_TILE)


# ------------------------------------------------ geofence episodes

def q_geofence(spark, sf_dir):
    """Geofence entry/exit detection: per-user event trajectories
    (deterministic positions keyed by event_id, ordered by ts) are
    tested against zone 1 with ``ring_contains`` (the native even-odd
    test), then lag(inside) finds the transitions — the enter/exit
    event stream a location-alerting pipeline emits. One window over
    (user, ts); the exact test is pure Catalyst; the oracle replays
    the crossing sum + lag in SQL."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("user_id") % 20 == 0))
    lon = (F.col("event_id") * 31 % 70000) / 1000.0 - 15.0
    lat = (F.col("event_id") * 57 % 45000) / 1000.0 + 25.0
    d = ev.select("user_id", "ts", "event_id",
                  ring_contains(lon, lat, PIP_ZONES[1])
                  .cast("int").alias("inside"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = d.withColumn("prev", F.lag("inside").over(w))
    return (d.filter(F.col("prev").isNotNull()
                     & (F.col("prev") != F.col("inside")))
            .select("user_id", "event_id",
                    F.when(F.col("inside") == 1, F.lit("enter"))
                    .otherwise(F.lit("exit")).alias("transition")))


def _geofence_sql():
    ring = PIP_ZONES[1]
    k = len(ring)
    terms = []
    for i in range(k):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % k]
        terms.append(
            f"(CASE WHEN (({y1!r} > lat) != ({y2!r} > lat)) AND "
            f"lon < {x1!r} + (lat - {y1!r}) * {float(x2 - x1)!r} "
            f"/ {float(y2 - y1)!r} THEN 1 ELSE 0 END)")
    s = " + ".join(terms)
    return f"""
WITH pos AS (
  SELECT user_id, ts, event_id,
         (event_id * 31 % 70000) / 1000.0 - 15.0 AS lon,
         (event_id * 57 % 45000) / 1000.0 + 25.0 AS lat
  FROM events WHERE user_id % 20 = 0
),
flags AS (
  SELECT user_id, ts, event_id,
         CAST(({s}) % 2 = 1 AS INT) AS inside
  FROM pos
),
lagged AS (
  SELECT user_id, event_id, inside,
         lag(inside) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
  FROM flags
)
SELECT user_id, event_id,
       CASE WHEN inside = 1 THEN 'enter' ELSE 'exit' END AS transition
FROM lagged WHERE prev IS NOT NULL AND prev <> inside
"""


QUERIES["geofence"] = (q_geofence, _geofence_sql())


def q_shortest_path(spark, sf_dir):
    """Weighted shortest paths from host 0 over the link graph with
    deterministic integer edge weights (Bellman-Ford, 6 relaxation
    rounds — operators/bfs.py::shortest_paths). Exact for all paths
    of <= 6 edges, which is the full reachable set here (hop_distance
    proves diameter <= 6 from the seeds); the oracle unrolls the
    identical rounds."""
    from pyproj_spark.operators.bfs import shortest_paths
    e = _host_edges(spark, sf_dir).withColumn(
        "w", (F.col("src") * 7 + F.col("dst") * 11) % 20 + 1)
    return shortest_paths(e, seeds=[0], rounds=6)


def _shortest_path_sql():
    it = """
r{o} AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM r{i}
    UNION ALL
    SELECT e.dst AS node, r.d + e.w AS d
    FROM r{i} r JOIN edges e ON e.src = r.node) q
  GROUP BY node
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(6))
    return f"""
WITH base AS ({_HOST_EDGES_SQL}),
edges AS (SELECT src, dst, (src * 7 + dst * 11) % 20 + 1 AS w
          FROM base),
r0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d),
{its}
SELECT node, d FROM r6
"""


QUERIES["shortest_path"] = (q_shortest_path, _shortest_path_sql())


# ------------------------------------------------ per-cell EWMA

def q_cell_ewma(spark, sf_dir):
    """Per-tile daily-count smoothing: event positions tile at z=6,
    counts bucket by day, gaps fill with explicit zeros against a
    per-corpus day spine (a decayed trend must see silence, not skip
    it), and an EWMA (alpha=0.3) folds over the gap-filled series.
    The fold is seeded with the first day's count and applied
    left-to-right — the exact operation order DuckDB's list_reduce
    uses, so the doubles match bit-for-bit. One narrow agg + one
    bounded spine join + one collect per tile."""
    ev = _t(spark, sf_dir, "events")
    lon = (F.col("event_id") * 31 % 70000) / 1000.0 - 15.0
    lat = (F.col("event_id") * 57 % 45000) / 1000.0 + 25.0
    tx = F.floor((lon + 180.0) / 360.0 * 64).cast("long")
    merc = F.log(F.tan(math.pi / 4 + F.radians(lat) / 2))
    ty = F.floor((1.0 - merc / math.pi) / 2.0 * 64).cast("long")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    cnt = (ev.select(tx.alias("tx"), ty.alias("ty"), day.alias("d"))
           .groupBy("tx", "ty", "d")
           .agg(F.count(F.lit(1)).alias("n")))
    bounds = cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = (cnt.select("tx", "ty").distinct().crossJoin(bounds)
             .select("tx", "ty", F.explode(
                 F.sequence(F.col("d0"), F.col("d1"))).alias("d")))
    filled = (spine.join(cnt, ["tx", "ty", "d"], "left")
              .fillna(0, subset=["n"]))
    g = (filled.groupBy("tx", "ty")
         .agg(F.sort_array(F.collect_list(F.struct("d", "n")))
              .alias("s")))
    xs = F.transform(F.col("s"), lambda r: r["n"].cast("double"))
    g = g.withColumn("xs", xs)
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: acc * 0.7 + x * 0.3)
    return (g.select("tx", "ty",
                     F.size("xs").alias("n_days"),
                     F.element_at(F.col("xs"), -1).cast("long")
                     .alias("last_n"),
                     F.round(ewma, 6).alias("ewma")))


SQL_CELL_EWMA = """
WITH pos AS (
  SELECT CAST(floor((((event_id * 31 % 70000) / 1000.0 - 15.0)
              + 180.0) / 360.0 * 64) AS BIGINT) AS tx,
         CAST(floor((1.0 - ln(tan(pi()/4 + radians(
              (event_id * 57 % 45000) / 1000.0 + 25.0) / 2)) / pi())
              / 2.0 * 64) AS BIGINT) AS ty,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
  FROM events
),
cnt AS (SELECT tx, ty, d, count(*) AS n FROM pos GROUP BY 1, 2, 3),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM cnt),
spine AS (
  SELECT DISTINCT tx, ty, s.day AS d
  FROM cnt, bounds,
       unnest(generate_series(bounds.d0, bounds.d1)) AS s(day)
),
filled AS (
  SELECT s.tx, s.ty, s.d, coalesce(c.n, 0) AS n
  FROM spine s LEFT JOIN cnt c USING (tx, ty, d)
),
g AS (
  SELECT tx, ty,
         list(CAST(n AS DOUBLE) ORDER BY d) AS xs
  FROM filled GROUP BY 1, 2
)
SELECT tx, ty, CAST(len(xs) AS INT) AS n_days,
       CAST(xs[-1] AS BIGINT) AS last_n,
       round(list_reduce(xs, (acc, x) -> acc * 0.7 + x * 0.3), 6)
           AS ewma
FROM g
"""


QUERIES["cell_ewma"] = (q_cell_ewma, SQL_CELL_EWMA)


# ------------------------------------------------ trajectory distance

def q_hausdorff(spark, sf_dir):
    """Trajectory similarity: symmetric Hausdorff distance (squared
    degrees) between consecutive sampled users' paths. Each user's
    first 8 positions (ordered by ts) collect into an array; the
    directed distances are two nested array HOFs (max over a of min
    over b) — no point-level join, so the shuffle moves one row per
    trajectory, not one per point pair. Multiplies and adds only, so
    the doubles are bit-identical cross-engine."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("user_id") % 10 == 0))
    lon = (F.col("event_id") * 31 % 70000) / 1000.0 - 15.0
    lat = (F.col("event_id") * 57 % 45000) / 1000.0 + 25.0
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (ev.select("user_id", "ts", "event_id",
                     lon.alias("lon"), lat.alias("lat"))
           .withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= 8))
    traj = (pts.groupBy("user_id")
            .agg(F.sort_array(F.collect_list(
                F.struct("rn", "lon", "lat"))).alias("p")))
    a = traj.select(F.col("user_id").alias("ua"), F.col("p").alias("pa"))
    b = traj.select(F.col("user_id").alias("ub"), F.col("p").alias("pb"))
    pair = a.join(b, a["ua"] + 10 == b["ub"])

    def directed(pa, pb):
        return F.array_max(F.transform(
            F.col(pa), lambda s: F.array_min(F.transform(
                F.col(pb),
                lambda t: (s["lon"] - t["lon"]) * (s["lon"] - t["lon"])
                + (s["lat"] - t["lat"]) * (s["lat"] - t["lat"])))))

    hab, hba = directed("pa", "pb"), directed("pb", "pa")
    return pair.select("ua", "ub", hab.alias("h_ab"),
                       hba.alias("h_ba"),
                       F.greatest(hab, hba).alias("h"))


SQL_HAUSDORFF = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         (event_id * 31 % 70000) / 1000.0 - 15.0 AS lon,
         (event_id * 57 % 45000) / 1000.0 + 25.0 AS lat,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % 10 = 0
),
traj AS (
  SELECT user_id,
         list(struct_pack(lon := lon, lat := lat) ORDER BY rn) AS p
  FROM pts WHERE rn <= 8 GROUP BY 1
),
pair AS (
  SELECT a.user_id AS ua, b.user_id AS ub, a.p AS pa, b.p AS pb
  FROM traj a JOIN traj b ON a.user_id + 10 = b.user_id
)
SELECT ua, ub,
       list_max(list_transform(pa, s -> list_min(list_transform(pb,
         t -> (s.lon - t.lon) * (s.lon - t.lon)
            + (s.lat - t.lat) * (s.lat - t.lat))))) AS h_ab,
       list_max(list_transform(pb, s -> list_min(list_transform(pa,
         t -> (s.lon - t.lon) * (s.lon - t.lon)
            + (s.lat - t.lat) * (s.lat - t.lat))))) AS h_ba,
       greatest(
         list_max(list_transform(pa, s -> list_min(list_transform(pb,
           t -> (s.lon - t.lon) * (s.lon - t.lon)
              + (s.lat - t.lat) * (s.lat - t.lat))))),
         list_max(list_transform(pb, s -> list_min(list_transform(pa,
           t -> (s.lon - t.lon) * (s.lon - t.lon)
              + (s.lat - t.lat) * (s.lat - t.lat)))))) AS h
FROM pair
"""


QUERIES["hausdorff"] = (q_hausdorff, SQL_HAUSDORFF)


def q_sinuosity(spark, sf_dir):
    """Trajectory sinuosity: per user track, total great-circle path
    length / great-circle chord between first and last fix — the
    standard route-directness metric (1 = straight, >> 1 = wandering).
    One user-keyed window (lag) for segments, one hash agg for the
    path sum, one first/last gather from the same window — no joins
    beyond the final per-user assembly. Whole-meter BIGINT lengths
    plus a 3-decimal ratio keep cross-engine libm ulp wobble out of
    the hash. Scale: everything is partitioned by user_id; no global
    sort, no pair joins."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def hav(lo1, la1, lo2, la2):
        h = (F.pow(F.sin(F.radians(la2 - la1) / 2), 2)
             + F.cos(F.radians(la1)) * F.cos(F.radians(la2))
             * F.pow(F.sin(F.radians(lo2 - lo1) / 2), 2))
        return 2.0 * 6371000.0 * F.asin(F.sqrt(h))

    seg = (ev.withColumn("plon", F.lag("lon").over(w))
           .withColumn("plat", F.lag("lat").over(w))
           .withColumn("rn", F.row_number().over(w)))
    agg = (seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_fix"),
        F.sum(F.when(F.col("plon").isNotNull(),
                     hav(F.col("plon"), F.col("plat"),
                         F.col("lon"), F.col("lat")))
              .otherwise(F.lit(0.0))).alias("path"),
        F.min(F.struct("rn", "lon", "lat")).alias("first"),
        F.max(F.struct("rn", "lon", "lat")).alias("last")))
    chord = hav(F.col("first.lon"), F.col("first.lat"),
                F.col("last.lon"), F.col("last.lat"))
    return (agg.filter(F.col("n_fix") >= 2)
            .withColumn("chord", chord)
            .filter(F.col("chord") > 1.0)
            .select("user_id", "n_fix",
                    F.round("path").cast("long").alias("path_m"),
                    F.round("chord").cast("long").alias("chord_m"),
                    F.round(F.col("path") / F.col("chord"), 3)
                    .alias("sinuosity")))


SQL_SINUOSITY = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         (event_id * 7919 % 360000) / 1000.0 - 180.0  AS lon,
         (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM events
),
seg AS (
  SELECT user_id, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
         row_number() OVER w AS rn
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
agg AS (
  SELECT user_id, count(*) AS n_fix,
         sum(CASE WHEN plon IS NOT NULL THEN
           2.0 * 6371000.0 * asin(sqrt(
             pow(sin(radians(lat - plat) / 2), 2)
             + cos(radians(plat)) * cos(radians(lat))
               * pow(sin(radians(lon - plon) / 2), 2)))
           ELSE 0.0 END) AS path,
         arg_min(lon, rn) AS flon, arg_min(lat, rn) AS flat,
         arg_max(lon, rn) AS llon, arg_max(lat, rn) AS llat
  FROM seg GROUP BY 1
),
fin AS (
  SELECT user_id, n_fix, path,
         2.0 * 6371000.0 * asin(sqrt(
           pow(sin(radians(llat - flat) / 2), 2)
           + cos(radians(flat)) * cos(radians(llat))
             * pow(sin(radians(llon - flon) / 2), 2))) AS chord
  FROM agg
  WHERE n_fix >= 2
)
SELECT user_id, n_fix,
       CAST(round(path) AS BIGINT)  AS path_m,
       CAST(round(chord) AS BIGINT) AS chord_m,
       round(path / chord, 3)       AS sinuosity
FROM fin
WHERE chord > 1.0
"""


QUERIES["sinuosity"] = (q_sinuosity, SQL_SINUOSITY)


def q_std_ellipse(spark, sf_dir):
    """Standard deviational ellipse (Lefever 1926; the ArcGIS
    "Directional Distribution" statistic) per coarse zone: the 2x2
    covariance of point coordinates -> eigenvalues (major/minor axis)
    and orientation. Coordinates are synthesized as EXACT integer
    milli-degrees so every sum is an exact int64 (no float-summation
    order divergence between engines); the covariance, eigen closed
    form, and atan2 orientation then run on identical doubles.
    Scale: one hash agg of five integer moments per zone — the
    textbook single-pass-moments shape."""
    pts = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") * 7919 % 360000 - 180000).alias("x"),
        (F.col("doc_id") * 104729 % 170000 - 85000).alias("y"))
    z = pts.withColumn(
        "zone", F.floor(F.col("x") / 30000).cast("long") * 16
        + F.floor(F.col("y") / 30000).cast("long") + 8)
    mom = z.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n = F.col("n").cast("double")
    cxx = (n * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double")) / (n * n)
    cyy = (n * F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double")) / (n * n)
    cxy = (n * F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double")) / (n * n)
    mid = (cxx + cyy) / 2.0
    rad = F.sqrt(F.pow((cxx - cyy) / 2.0, 2) + cxy * cxy)
    theta = F.degrees(F.atan2(2.0 * cxy, cxx - cyy) / 2.0)
    return (mom.filter(F.col("n") >= 3)
            .select("zone", "n",
                    F.round(F.sqrt(mid + rad), 4).alias("major"),
                    F.round(F.sqrt(F.greatest(mid - rad, F.lit(0.0))), 4)
                    .alias("minor"),
                    F.round(theta, 4).alias("theta_deg")))


SQL_STD_ELLIPSE = """
WITH pts AS (
  SELECT doc_id,
         doc_id * 7919 % 360000 - 180000   AS x,
         doc_id * 104729 % 170000 - 85000  AS y
  FROM documents
),
z AS (
  SELECT x, y,
         CAST(floor(x / 30000.0) AS BIGINT) * 16
           + CAST(floor(y / 30000.0) AS BIGINT) + 8 AS zone
  FROM pts
),
mom AS (
  SELECT zone, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*x) AS BIGINT) AS sxx,
         CAST(sum(y*y) AS BIGINT) AS syy,
         CAST(sum(x*y) AS BIGINT) AS sxy
  FROM z GROUP BY 1
),
cov AS (
  SELECT zone, n,
    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cxx,
    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cyy,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cxy
  FROM mom
  WHERE n >= 3
)
SELECT zone, n,
  round(sqrt((cxx + cyy) / 2.0
             + sqrt(pow((cxx - cyy) / 2.0, 2) + cxy*cxy)), 4) AS major,
  round(sqrt(greatest((cxx + cyy) / 2.0
             - sqrt(pow((cxx - cyy) / 2.0, 2) + cxy*cxy), 0.0)), 4)
      AS minor,
  round(degrees(atan2(2.0 * cxy, cxx - cyy) / 2.0), 4) AS theta_deg
FROM cov
"""


QUERIES["std_ellipse"] = (q_std_ellipse, SQL_STD_ELLIPSE)


# ------------------------------------------------ marching squares

def q_contours(spark, sf_dir):
    """Iso-density contour extraction (marching squares) from the
    point raster: cell occupancy (>= 1 point) on a 64x64 global
    grid, then each occupied CORNER scatters its bit weight
    (1/2/4/8) to the four surrounding case cells — one explode + one
    sum, NO shifted self-joins — and the per-cell 4-bit case index
    classifies the contour topology. Output: per case id, the cell
    count and total emitted segments (saddles 5/10 emit 2; full/empty
    emit 0). The scatter-gather shape is one shuffle regardless of
    raster size; the oracle replays the identical scatter with
    unnest."""
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 64)
                 .cast("long"), F.lit(63))
    lat_c = F.greatest(F.least(F.col("lat"),
                               F.lit(85.05112877980659)),
                       F.lit(-85.05112877980659))
    merc = F.log(F.tan(math.pi / 4 + F.radians(lat_c) / 2))
    gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * 64)
                 .cast("long"), F.lit(63))
    occ = (pts.select(gx.alias("gx"), gy.alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") >= 1))

    def corner(dx, dy, w):
        return F.struct((F.col("gx") + dx).alias("cx"),
                        (F.col("gy") + dy).alias("cy"),
                        F.lit(w).alias("w"))

    cases = (occ.select(F.explode(F.array(
                corner(0, 0, 1), corner(-1, 0, 2),
                corner(-1, -1, 4), corner(0, -1, 8))).alias("c"))
             .select("c.*")
             .filter((F.col("cx") >= 0) & (F.col("cx") <= 62)
                     & (F.col("cy") >= 0) & (F.col("cy") <= 62))
             .groupBy("cx", "cy")
             .agg(F.sum("w").cast("int").alias("cs")))
    segs = (F.when(F.col("cs").isin(0, 15), 0)
            .when(F.col("cs").isin(5, 10), 2).otherwise(1))
    return (cases.groupBy("cs")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum(segs).cast("long").alias("n_segments")))


SQL_CONTOURS = f"""
WITH pts AS ({_PTS_SQL}),
occ AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT),
               63) AS gx,
         least(CAST(floor((1.0 - ln(tan(pi()/4 + radians(
               least(greatest(lat, -85.05112877980659),
                     85.05112877980659)) / 2)) / pi())
               / 2.0 * 64) AS BIGINT), 63) AS gy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
sc AS (
  SELECT u.c.cx AS cx, u.c.cy AS cy, u.c.w AS w
  FROM (SELECT gx, gy FROM occ WHERE n >= 1) o,
       unnest([struct_pack(cx := o.gx,     cy := o.gy,     w := 1),
               struct_pack(cx := o.gx - 1, cy := o.gy,     w := 2),
               struct_pack(cx := o.gx - 1, cy := o.gy - 1, w := 4),
               struct_pack(cx := o.gx,     cy := o.gy - 1, w := 8)])
           AS u(c)
),
cases AS (
  SELECT cx, cy, CAST(sum(w) AS INT) AS cs
  FROM sc
  WHERE cx BETWEEN 0 AND 62 AND cy BETWEEN 0 AND 62
  GROUP BY 1, 2
)
SELECT cs, count(*) AS n_cells,
       CAST(sum(CASE WHEN cs IN (0, 15) THEN 0
                     WHEN cs IN (5, 10) THEN 2 ELSE 1 END)
            AS BIGINT) AS n_segments
FROM cases GROUP BY cs
"""


QUERIES["contours"] = (q_contours, SQL_CONTOURS)


# ------------------------------------------------ segment-zone clip

def q_clip_length(spark, sf_dir):
    """Road-length-in-zone: deterministic segments clip against the
    convex zone-1 pentagon with the Cyrus-Beck parametric test — per
    polygon edge, one entering/leaving bound on t from two dot
    products; t0 = max of entries, t1 = min of exits; the clipped
    planar length is (t1-t0)*|d|. Fully closed-form (no iteration,
    no UDF), embarrassingly parallel — the operator a
    trajectory-exposure or road-coverage rollup runs per zone at
    100 TB. The oracle unrolls the identical edge bounds."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    x0 = (k * 7919 % 80000) / 1000.0 - 20.0
    y0 = (k * 104729 % 45000) / 1000.0 + 25.0
    dx = (k * 4073 % 30000) / 1000.0 - 15.0
    dy = (k * 2741 % 20000) / 1000.0 - 10.0
    ring = PIP_ZONES[1]
    n = len(ring)
    t_los, t_his, empties = [], [], []
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        # CCW edge (a->b); inward normal (-(by-ay), bx-ax)
        nx, ny = -(by - ay), (bx - ax)
        r = F.lit(float(nx)) * dx + F.lit(float(ny)) * dy
        s = (F.lit(float(nx)) * (x0 - F.lit(float(ax)))
             + F.lit(float(ny)) * (y0 - F.lit(float(ay))))
        t_los.append(F.when(r > 0, -s / r).otherwise(F.lit(0.0)))
        t_his.append(F.when(r < 0, -s / r).otherwise(F.lit(1.0)))
        empties.append((r == 0) & (s < 0))
    t0 = F.greatest(F.lit(0.0), *t_los)
    t1 = F.least(F.lit(1.0), *t_his)
    empty = empties[0]
    for e in empties[1:]:
        empty = empty | e
    seg_len = F.sqrt(dx * dx + dy * dy)
    out = d.select(k.alias("doc_id"), t0.alias("t0"), t1.alias("t1"),
                   (~empty).alias("ok"), seg_len.alias("sl"))
    return (out.filter(F.col("ok") & (F.col("t1") > F.col("t0")))
            .select("doc_id", "t0", "t1",
                    ((F.col("t1") - F.col("t0")) * F.col("sl"))
                    .alias("clip_len")))


def _clip_length_sql():
    ring = PIP_ZONES[1]
    n = len(ring)
    tlo, thi, emp = [], [], []
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        nx, ny = -(by - ay), (bx - ax)
        r = f"({float(nx)!r} * dx + {float(ny)!r} * dy)"
        s = (f"({float(nx)!r} * (x0 - {float(ax)!r}) "
             f"+ {float(ny)!r} * (y0 - {float(ay)!r}))")
        tlo.append(f"CASE WHEN {r} > 0 THEN -{s} / {r} ELSE 0.0 END")
        thi.append(f"CASE WHEN {r} < 0 THEN -{s} / {r} ELSE 1.0 END")
        emp.append(f"({r} = 0 AND {s} < 0)")
    return f"""
WITH seg AS (
  SELECT doc_id,
         (doc_id * 7919 % 80000) / 1000.0 - 20.0 AS x0,
         (doc_id * 104729 % 45000) / 1000.0 + 25.0 AS y0,
         (doc_id * 4073 % 30000) / 1000.0 - 15.0 AS dx,
         (doc_id * 2741 % 20000) / 1000.0 - 10.0 AS dy
  FROM documents
),
cb AS (
  SELECT doc_id,
         greatest(0.0, {', '.join(tlo)}) AS t0,
         least(1.0, {', '.join(thi)}) AS t1,
         NOT ({' OR '.join(emp)}) AS ok,
         sqrt(dx * dx + dy * dy) AS sl
  FROM seg
)
SELECT doc_id, t0, t1, (t1 - t0) * sl AS clip_len
FROM cb WHERE ok AND t1 > t0
"""


QUERIES["clip_length"] = (q_clip_length, _clip_length_sql())


# ------------------------------------------------ scanline zone fill

def q_zone_fill(spark, sf_dir):
    """Polygon rasterization by scanline fill: each zone crosses every
    pixel row of a 256x128 equirectangular grid with exactly two edge
    intersections (convex rings), and the row's filled pixels are the
    centers between them — emitted as compact (row, px_lo, px_hi)
    INTERVALS, the run-length form a tile server burns to bitmaps.
    Closed-form per (zone, row): no point explosion, no join; at
    100 TB this is a driver-side-literal x 128-row spine, O(zones)
    work. Completes the raster family: points (raster_pyramid), lines
    (rasterize_lines), polygons (here), and back (contours). The
    per-edge crossings are the even-odd test's own terms
    (operators/pip.py::_ring_edges); the oracle replays them per row.
    sf_dir is unused (pure geometry) but kept for the driver
    contract."""
    wx = 360.0 / 256
    hy = 170.0 / 128
    outs = []
    for zid, ring in PIP_ZONES.items():
        spine = spark.range(0, 128).select(
            F.col("id").cast("long").alias("py"))
        yc = F.lit(-85.0) + (F.col("py") + 0.5) * F.lit(hy)
        cnt = F.lit(0)
        los, his = [F.lit(1e9)], [F.lit(-1e9)]
        for cross, xc in _ring_edges(yc, ring):
            cnt = cnt + F.when(cross, 1).otherwise(0)
            los.append(F.when(cross, xc).otherwise(F.lit(1e9)))
            his.append(F.when(cross, xc).otherwise(F.lit(-1e9)))
        lo, hi = F.least(*los), F.greatest(*his)
        px_lo = F.ceil((lo + 180.0) / F.lit(wx) - 0.5).cast("long")
        # right-exclusive to match the even-odd test's x < crossing
        # rule: a pixel center exactly on the right crossing is OUT
        px_hi = (F.ceil((hi + 180.0) / F.lit(wx) - 0.5) - 1).cast("long")
        outs.append(spine.select(
            F.lit(zid).alias("zone_id"), "py", cnt.alias("cnt"),
            px_lo.alias("px_lo"), px_hi.alias("px_hi")))
    r = outs[0]
    for o in outs[1:]:
        r = r.unionByName(o)
    return (r.filter((F.col("cnt") == 2)
                     & (F.col("px_hi") >= F.col("px_lo")))
            .select("zone_id", "py", "px_lo", "px_hi",
                    (F.col("px_hi") - F.col("px_lo") + 1)
                    .alias("n_pix")))


def _zone_fill_sql():
    wx = 360.0 / 256
    hy = 170.0 / 128
    parts = []
    for zid, ring in PIP_ZONES.items():
        n = len(ring)
        cnts, los, his = [], ["1e9"], ["-1e9"]
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            cross = f"(({y1!r} > yc) != ({y2!r} > yc))"
            xc = (f"({x1!r} + (yc - {y1!r}) * {float(x2 - x1)!r} "
                  f"/ {float(y2 - y1)!r})")
            cnts.append(f"CASE WHEN {cross} THEN 1 ELSE 0 END")
            los.append(f"CASE WHEN {cross} THEN {xc} ELSE 1e9 END")
            his.append(f"CASE WHEN {cross} THEN {xc} ELSE -1e9 END")
        parts.append(f"""
SELECT {zid} AS zone_id, py,
       ({' + '.join(cnts)}) AS cnt,
       CAST(ceil((least({', '.join(los)}) + 180.0) / {wx!r} - 0.5)
            AS BIGINT) AS px_lo,
       CAST(ceil((greatest({', '.join(his)}) + 180.0) / {wx!r} - 0.5)
            AS BIGINT) - 1 AS px_hi
FROM (SELECT s.py AS py, -85.0 + (s.py + 0.5) * {hy!r} AS yc
      FROM (SELECT unnest(generate_series(0, 127)) AS py) s) rows_{zid}
""")
        u = "\nUNION ALL\n".join(parts)
    return f"""
WITH sl AS ({u})
SELECT zone_id, py, px_lo, px_hi, px_hi - px_lo + 1 AS n_pix
FROM sl WHERE cnt = 2 AND px_hi >= px_lo
"""


QUERIES["zone_fill"] = (q_zone_fill, _zone_fill_sql())


# ------------------------------------------------ separable blur

def q_raster_blur(spark, sf_dir):
    """Separable Gaussian-approximation blur over the density raster:
    binomial weights [1,6,15,20,15,6,1] (n=6 rows of Pascal's
    triangle) applied as TWO scatter-sum passes (horizontal then
    vertical) — the separable trick that turns a 49-tap 2-D kernel
    into 14 taps. Weights are integers so every partial sum is exact;
    the normalized value divides once at the end. Each pass is one
    explode + one groupBy — the same shuffle shape at any raster
    size; the oracle replays both passes with unnest."""
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 64)
                 .cast("long"), F.lit(63))
    lat_c = F.greatest(F.least(F.col("lat"),
                               F.lit(85.05112877980659)),
                       F.lit(-85.05112877980659))
    merc = F.log(F.tan(math.pi / 4 + F.radians(lat_c) / 2))
    gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * 64)
                 .cast("long"), F.lit(63))
    base = (pts.select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n")))
    wts = [1, 6, 15, 20, 15, 6, 1]
    offs = F.array(*[F.struct(F.lit(o - 3).alias("o"),
                              F.lit(w).alias("w"))
                     for o, w in enumerate(wts)])

    def blur(df, coord, val):
        d = (df.select("gx", "gy", F.col(val).alias("v"),
                       F.explode(offs).alias("k"))
             .select((F.col("gx") + (F.col("k.o") if coord == "gx"
                                     else F.lit(0))).alias("gx"),
                     (F.col("gy") + (F.col("k.o") if coord == "gy"
                                     else F.lit(0))).alias("gy"),
                     (F.col("v") * F.col("k.w")).alias("c")))
        return (d.filter((F.col("gx") >= 0) & (F.col("gx") <= 63)
                         & (F.col("gy") >= 0) & (F.col("gy") <= 63))
                .groupBy("gx", "gy").agg(F.sum("c").alias("b")))

    bx = blur(base, "gx", "n")
    by = blur(bx, "gy", "b")
    return by.select("gx", "gy", F.col("b").cast("long").alias("bsum"),
                     F.round(F.col("b") / 4096.0, 6).alias("blurred"))


SQL_RASTER_BLUR = f"""
WITH pts AS ({_PTS_SQL}),
base AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT),
               63) AS gx,
         least(CAST(floor((1.0 - ln(tan(pi()/4 + radians(
               least(greatest(lat, -85.05112877980659),
                     85.05112877980659)) / 2)) / pi())
               / 2.0 * 64) AS BIGINT), 63) AS gy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
w AS (SELECT unnest(generate_series(-3, 3)) AS o),
wt AS (SELECT o, ([1, 6, 15, 20, 15, 6, 1])[o + 4] AS wv FROM w),
bx AS (
  SELECT gx + o AS gx, gy, CAST(sum(n * wv) AS BIGINT) AS b
  FROM base, wt
  WHERE gx + o BETWEEN 0 AND 63
  GROUP BY 1, 2
),
by_ AS (
  SELECT gx, gy + o AS gy, CAST(sum(b * wv) AS BIGINT) AS b
  FROM bx, wt
  WHERE gy + o BETWEEN 0 AND 63
  GROUP BY 1, 2
)
SELECT gx, gy, b AS bsum, round(b / 4096.0, 6) AS blurred FROM by_
"""


QUERIES["raster_blur"] = (q_raster_blur, SQL_RASTER_BLUR)


# ------------------------------------------------ bearing histograms

def q_bearing_hist(spark, sf_dir):
    """Per-cell movement-direction histogram: consecutive event
    positions per user become moves; each move classifies into one of
    8 compass octants WITHOUT trigonometry — |dx| vs |dy| compared
    against the exact tan(22.5)/tan(67.5) constants, then the signs
    pick the quadrant — so both engines decide every boundary with
    the same multiply-and-compare (no atan2 implementation
    divergence). Histogram per z=4 tile of the move origin: the
    traffic-flow rose a map renderer draws per tile."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("user_id") % 5 == 0))
    lon = (F.col("event_id") * 997 % 70000) / 1000.0 - 15.0
    lat = (F.col("event_id") * 1571 % 45000) / 1000.0 + 25.0
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (ev.select("user_id", "ts", "event_id",
                   lon.alias("lon"), lat.alias("lat"))
         .withColumn("nlon", F.lead("lon").over(w))
         .withColumn("nlat", F.lead("lat").over(w))
         .filter(F.col("nlon").isNotNull()))
    dx = F.col("nlon") - F.col("lon")
    dy = F.col("nlat") - F.col("lat")
    adx, ady = F.abs(dx), F.abs(dy)
    t1 = 0.41421356237309503  # tan(22.5 deg)
    t2 = 2.414213562373095    # tan(67.5 deg)
    axial_ns = adx <= ady * t1
    axial_ew = adx >= ady * t2
    sector = (F.when(axial_ns & (dy >= 0), F.lit("N"))
              .when(axial_ns, F.lit("S"))
              .when(axial_ew & (dx >= 0), F.lit("E"))
              .when(axial_ew, F.lit("W"))
              .when((dx >= 0) & (dy >= 0), F.lit("NE"))
              .when((dx >= 0), F.lit("SE"))
              .when(dy >= 0, F.lit("NW"))
              .otherwise(F.lit("SW")))
    tx = F.floor((F.col("lon") + 180.0) / 360.0 * 16).cast("long")
    ty = F.floor((90.0 - F.col("lat")) / 180.0 * 16).cast("long")
    return (d.select(tx.alias("tx"), ty.alias("ty"),
                     sector.alias("sector"))
            .groupBy("tx", "ty", "sector")
            .agg(F.count(F.lit(1)).alias("n")))


SQL_BEARING_HIST = """
WITH pos AS (
  SELECT user_id, ts, event_id,
         (event_id * 997 % 70000) / 1000.0 - 15.0 AS lon,
         (event_id * 1571 % 45000) / 1000.0 + 25.0 AS lat
  FROM events WHERE user_id % 5 = 0
),
mv AS (
  SELECT lon, lat,
         lead(lon) OVER w AS nlon, lead(lat) OVER w AS nlat
  FROM pos
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
cl AS (
  SELECT CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT) AS tx,
         CAST(floor((90.0 - lat) / 180.0 * 16) AS BIGINT) AS ty,
         CASE
           WHEN abs(nlon - lon) <= abs(nlat - lat)
                * 0.41421356237309503 AND nlat - lat >= 0 THEN 'N'
           WHEN abs(nlon - lon) <= abs(nlat - lat)
                * 0.41421356237309503 THEN 'S'
           WHEN abs(nlon - lon) >= abs(nlat - lat)
                * 2.414213562373095 AND nlon - lon >= 0 THEN 'E'
           WHEN abs(nlon - lon) >= abs(nlat - lat)
                * 2.414213562373095 THEN 'W'
           WHEN nlon - lon >= 0 AND nlat - lat >= 0 THEN 'NE'
           WHEN nlon - lon >= 0 THEN 'SE'
           WHEN nlat - lat >= 0 THEN 'NW'
           ELSE 'SW' END AS sector
  FROM mv WHERE nlon IS NOT NULL
)
SELECT tx, ty, sector, count(*) AS n FROM cl GROUP BY 1, 2, 3
"""


QUERIES["bearing_hist"] = (q_bearing_hist, SQL_BEARING_HIST)


# ------------------------------------------------ distance transform

def q_dist_transform(spark, sf_dir):
    """Raster distance transform: L1 (city-block) distance, up to 6,
    from every cell of the 64x64 web-mercator grid to the nearest
    occupied cell — the proximity raster ("distance to nearest
    road/POI") behind coverage scoring. It is the result of k=6 rounds
    of 4-neighbour scatter-min (each labeled cell offers dist+1 to its
    in-grid neighbours, a groupBy keeps the minimum), computed in one
    pass by :func:`_grid_l1_distance`: a shortest 4-neighbour path
    between two cells of a rectangular grid never has to leave it, so
    the rounds leave each cell its L1 distance to the nearest occupied
    cell, which one explode of the offsets within L1 distance 6 and one
    min give directly. The oracle replays the six rounds unrolled, so
    it stays an independent check."""
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 64)
                 .cast("long"), F.lit(63))
    lat_c = F.greatest(F.least(F.col("lat"),
                               F.lit(85.05112877980659)),
                       F.lit(-85.05112877980659))
    merc = F.log(F.tan(math.pi / 4 + F.radians(lat_c) / 2))
    gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * 64)
                 .cast("long"), F.lit(63))
    # the distinct caps the explode at 85 x 4096 rows at any input size
    return _grid_l1_distance(
        pts.select(gx.alias("gx"), gy.alias("gy")).distinct())


def _grid_l1_distance(occ: DataFrame) -> DataFrame:
    """(gx, gy, d) for every cell of the n x n grid (n = 64) within L1
    distance k (k = 6) of an occupied cell of ``occ`` (gx, gy), d that
    distance: k rounds of 4-neighbour scatter-min in one explode and one
    groupBy.

    After k rounds a cell holds the length of the shortest in-grid
    4-neighbour path of at most k steps from any occupied cell. The grid
    is a rectangle, so a monotone staircase path between two in-grid
    cells never leaves it and that length is their L1 distance. So each
    occupied cell offers |ox| + |oy| to every in-grid cell at offset
    (ox, oy) with |ox| + |oy| <= k (2k^2 + 2k + 1 offsets, generated
    natively), and the minimum per cell is the k-round result."""
    k, n = 6, 64
    ax = F.abs(F.col("ox"))
    return (occ.select("gx", "gy",
                       F.explode(F.sequence(F.lit(-k), F.lit(k)))
                       .alias("ox"))
            .select("gx", "gy", "ox",
                    F.explode(F.sequence(ax - k, k - ax)).alias("oy"))
            .select((F.col("gx") + F.col("ox")).alias("gx"),
                    (F.col("gy") + F.col("oy")).alias("gy"),
                    (ax + F.abs(F.col("oy"))).alias("d"))
            .filter((F.col("gx") >= 0) & (F.col("gx") < n)
                    & (F.col("gy") >= 0) & (F.col("gy") < n))
            .groupBy("gx", "gy").agg(F.min("d").alias("d")))


def _dist_transform_sql():
    it = """
r{o} AS (
  SELECT gx, gy, min(d) AS d FROM (
    SELECT gx, gy, d FROM r{i}
    UNION ALL
    SELECT gx + t.ox AS gx, gy + t.oy AS gy, d + 1 AS d
    FROM r{i}, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) t(ox, oy)
    WHERE gx + t.ox BETWEEN 0 AND 63
      AND gy + t.oy BETWEEN 0 AND 63) q
  GROUP BY 1, 2
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(6))
    return f"""
WITH pts AS ({_PTS_SQL}),
r0 AS (
  SELECT DISTINCT
         least(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT),
               63) AS gx,
         least(CAST(floor((1.0 - ln(tan(pi()/4 + radians(
               least(greatest(lat, -85.05112877980659),
                     85.05112877980659)) / 2)) / pi())
               / 2.0 * 64) AS BIGINT), 63) AS gy,
         0 AS d
  FROM pts
),
{its}
SELECT gx, gy, d FROM r6
"""


QUERIES["dist_transform"] = (q_dist_transform, _dist_transform_sql())


# ------------------------------------------------ adaptive quadtree

def q_quadtree(spark, sf_dir):
    """Adaptive quadtree partitioning: tiles split top-down (z=2 -> 6)
    until a leaf holds <= 20 points — the density-balanced layout
    that tames web-data skew (a uniform grid gives hot cells 1000x
    cold ones; the quadtree bounds every partition). ONE finest-level
    scan builds the z=6 counts; coarser levels are bit-shift rollups
    of that table; the split cascade is 4 semi-joins of count tables
    (never the raw points). Output: the leaf set (z, tx, ty, n) —
    non-overlapping cover of every occupied region. The oracle
    replays the identical cascade."""
    T = 20
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 64)
                 .cast("long"), F.lit(63))
    lat_c = F.greatest(F.least(F.col("lat"),
                               F.lit(85.05112877980659)),
                       F.lit(-85.05112877980659))
    merc = F.log(F.tan(math.pi / 4 + F.radians(lat_c) / 2))
    gy = F.least(F.floor((1.0 - merc / math.pi) / 2.0 * 64)
                 .cast("long"), F.lit(63))
    cnt = {6: (pts.select(gx.alias("tx"), gy.alias("ty"))
               .groupBy("tx", "ty")
               .agg(F.count(F.lit(1)).alias("n")))}
    for z in (5, 4, 3, 2):
        cnt[z] = (cnt[z + 1]
                  .groupBy(F.shiftright(F.col("tx"), 1).alias("tx"),
                           F.shiftright(F.col("ty"), 1).alias("ty"))
                  .agg(F.sum("n").cast("long").alias("n")))
    exists = cnt[2]
    leaves = []
    for z in (2, 3, 4, 5, 6):
        if z == 6:
            leaves.append(exists.withColumn("z", F.lit(z)))
            break
        leaves.append(exists.filter(F.col("n") <= T)
                      .withColumn("z", F.lit(z)))
        split = (exists.filter(F.col("n") > T)
                 .select(F.col("tx").alias("px"),
                         F.col("ty").alias("py")))
        exists = (cnt[z + 1]
                  .join(split,
                        (F.shiftright(F.col("tx"), 1) == F.col("px"))
                        & (F.shiftright(F.col("ty"), 1) == F.col("py")),
                        "leftsemi"))
    r = leaves[0]
    for df in leaves[1:]:
        r = r.unionByName(df)
    return r.select("z", "tx", "ty", "n")


def _quadtree_sql():
    T = 20
    lvl = """
c{z} AS (SELECT tx >> 1 AS tx, ty >> 1 AS ty,
                CAST(sum(n) AS BIGINT) AS n
         FROM c{z1} GROUP BY 1, 2)"""
    rolls = ",".join(lvl.format(z=z, z1=z + 1) for z in (5, 4, 3, 2))
    casc = """
e{z1} AS (
  SELECT c.tx, c.ty, c.n FROM c{z1} c
  WHERE EXISTS (SELECT 1 FROM e{z} e
                WHERE e.n > {T} AND c.tx >> 1 = e.tx
                  AND c.ty >> 1 = e.ty)
)"""
    cascades = ",".join(casc.format(z=z, z1=z + 1, T=T)
                        for z in (2, 3, 4, 5))
    leaves = "\nUNION ALL\n".join(
        f"SELECT {z} AS z, tx, ty, n FROM e{z} WHERE n <= {T}"
        for z in (2, 3, 4, 5)) + "\nUNION ALL\nSELECT 6, tx, ty, n FROM e6"
    return f"""
WITH pts AS ({_PTS_SQL}),
c6 AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT),
               63) AS tx,
         least(CAST(floor((1.0 - ln(tan(pi()/4 + radians(
               least(greatest(lat, -85.05112877980659),
                     85.05112877980659)) / 2)) / pi())
               / 2.0 * 64) AS BIGINT), 63) AS ty,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
{rolls},
e2 AS (SELECT tx, ty, n FROM c2),
{cascades}
{leaves}
"""


QUERIES["quadtree"] = (q_quadtree, _quadtree_sql())


def q_temporal_reach(spark, sf_dir):
    """Time-respecting reachability (temporal BFS): over a
    timestamped contact graph, node B is reachable from A only
    through edges whose timestamps never decrease along the path —
    the influence/contagion semantics a crawl-propagation or
    information-flow analysis needs (static BFS overcounts: it
    ignores that a link observed YESTERDAY cannot forward content
    discovered TODAY). Six relaxation rounds keep (node, earliest
    arrival day); each round joins the frontier to edges with
    edge_day >= arrival and keeps the min; small graphs take the
    bfs.py driver cutover (identical rounds). The oracle unrolls the
    identical rounds."""
    ev = _t(spark, sf_dir, "events")
    u = F.col("user_id")
    edges = (ev.select((u % 60).alias("src"),
                       ((u * 13 + 5) % 60).alias("dst"),
                       F.floor(F.unix_timestamp("ts") / 86400)
                       .cast("long").alias("t"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    from pyproj_spark.operators.bfs import temporal_reach
    return temporal_reach(edges, seeds=[0], rounds=6)


def _temporal_reach_sql():
    it = """
r{o} AS (
  SELECT node, min(arr) AS arr FROM (
    SELECT node, arr FROM r{i}
    UNION ALL
    SELECT e.dst AS node, e.t AS arr
    FROM r{i} r JOIN edges e ON e.src = r.node
    WHERE e.t >= r.arr) q
  GROUP BY node
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(6))
    return f"""
WITH edges AS (
  SELECT DISTINCT user_id % 60 AS src, (user_id * 13 + 5) % 60 AS dst,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS t
  FROM events
  WHERE user_id % 60 <> (user_id * 13 + 5) % 60
),
r0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(-1 AS BIGINT) AS arr),
{its}
SELECT node, arr FROM r6
"""


QUERIES["temporal_reach"] = (q_temporal_reach, _temporal_reach_sql())


def q_kcore(spark, sf_dir):
    """3-core of the undirected host graph by iterative peeling: six
    synchronous rounds drop every node whose degree among SURVIVORS
    is < 3, then the surviving subgraph's degrees are reported — the
    spam-farm/link-ring detector (a k-core survives only through
    mutual reinforcement; hub-and-spoke structures peel away). Each
    round is two semi-joins + one count; rounds are bounded, not
    data-dependent, so the plan is replayable and the 100-TB cost is
    k scans of the edge set — while SMALL graphs (<= 200k edges) take
    the driver-side cutover in operators/bfs.py::kcore_survivors
    (identical rounds; measured 9.8 s -> <2 s at sf0.01, the cc.py
    pattern). Uses a second link generator on top of
    the q_pagerank graph (the single-generator graph peels to empty —
    a vacuous gate). The oracle unrolls identical rounds."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def gen(mul, add):
        return (d.select((k % 97).alias("src"),
                         ((k * mul + add) % 97).alias("dst"))
                .filter((F.col("src") != F.col("dst"))
                        & (F.col("src") < 90)))

    e = gen(13, 5).union(gen(29, 11)).distinct()
    und = (e.select("src", "dst")
           .union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
           .distinct())
    from pyproj_spark.operators.bfs import kcore_survivors
    return kcore_survivors(und, k=3, rounds=6)


def _kcore_sql():
    rnd = """
d{o} AS (
  SELECT u.src AS node, count(*) AS deg
  FROM und u
  JOIN a{i} x ON x.node = u.src
  JOIN a{i} y ON y.node = u.dst
  GROUP BY 1
),
a{o} AS (SELECT node FROM d{o} WHERE deg >= 3)"""
    rounds = ",".join(rnd.format(i=i, o=i + 1) for i in range(6))
    base2 = _HOST_EDGES_SQL.replace("doc_id * 13 + 5",
                                    "doc_id * 29 + 11")
    return f"""
WITH base AS ({_HOST_EDGES_SQL} UNION {base2}),
und AS (
  SELECT src, dst FROM (
    SELECT src, dst FROM base
    UNION
    SELECT dst AS src, src AS dst FROM base) q
),
a0 AS (SELECT DISTINCT src AS node FROM und),
{rounds},
fin AS (
  SELECT u.src AS node, count(*) AS deg
  FROM und u
  JOIN a6 x ON x.node = u.src
  JOIN a6 y ON y.node = u.dst
  GROUP BY 1
)
SELECT node, deg FROM fin WHERE deg >= 3
"""


QUERIES["kcore"] = (q_kcore, _kcore_sql())


def q_gauss_kruger(spark, sf_dir):
    """Round-5 catalog breadth: Pulkovo 1942 lon/lat across Russia ->
    the 6-degree Gauss-Kruger zone family (EPSG 28405-28416, tmerc k=1
    on the Krassowsky 1940 ellipsoid, zone-prefixed false eastings),
    zone chosen by longitude — the reference workflow
    ``Transformer.from_crs(4284, 28407)`` (pyproj/transformer.py:
    184-230). The oracle replays the full Krueger order-6 series
    (Karney 2011, the engine's own tmerc kernel at
    kernels/projections.py:179-231) in DuckDB with the kernel's exact
    coefficient doubles, hyperbolics spelled via exp/ln identities —
    an independent end-to-end check of catalog parameters, krass
    constants, and the transverse-Mercator kernel. One scan, zone
    dispatch inside one Arrow-UDF crossing (transform_xy_keyed)."""
    from pyproj_spark.functions.transform import transform_xy_keyed

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (24.0 + (F.col("doc_id") * 7919 % 72000) / 1000.0).alias("lon"),
        (40.0 + (F.col("doc_id") * 104729 % 28000) / 1000.0).alias("lat"))
    zone = F.floor(F.col("lon") / 6.0).cast("int") + 1
    docs = docs.withColumn("epsg", (zone + 28400).cast("int"))
    xy = transform_xy_keyed(
        "EPSG:4284", {28400 + z: f"EPSG:{28400 + z}"
                      for z in range(5, 17)},
        F.col("epsg"), F.col("lon"), F.col("lat"))
    return (docs.withColumn("xy", xy)
            .select("doc_id", "epsg",
                    F.round(F.col("xy.x")).cast("long").alias("easting"),
                    F.round(F.col("xy.y")).cast("long").alias("northing")))


def _gauss_kruger_sql():
    """Krueger order-6 tmerc replay in SQL. Coefficients come from the
    kernel's own TransverseMercator instance (same doubles, printed
    via repr so both engines parse bit-identical literals); sinh/cosh/
    asinh/atanh are spelled with exp/ln. Series terms are added in the
    kernel's j-ascending order."""
    from pyproj_spark.kernels.ellipsoid import get_ellipsoid
    from pyproj_spark.kernels.projections import TransverseMercator

    tm = TransverseMercator(get_ellipsoid("krass"), k_0=1.0, lat_0=0.0)
    e, A = repr(tm.E.e), repr(tm.A)
    xi_terms = "".join(
        f" + {a!r}*sin({2 * j}*xip)*(exp({2 * j}*etap)"
        f" + exp(-({2 * j})*etap))/2.0"
        for j, a in enumerate(tm.alpha, start=1))
    eta_terms = "".join(
        f" + {a!r}*cos({2 * j}*xip)*(exp({2 * j}*etap)"
        f" - exp(-({2 * j})*etap))/2.0"
        for j, a in enumerate(tm.alpha, start=1))
    return f"""
WITH pts AS (
  SELECT doc_id,
         24.0 + (doc_id * 7919 % 72000) / 1000.0   AS lon,
         40.0 + (doc_id * 104729 % 28000) / 1000.0 AS lat
  FROM documents
), z AS (
  SELECT doc_id, lon, lat,
         CAST(floor(lon / 6.0) AS INT) + 1 AS zone
  FROM pts
), d AS (
  SELECT doc_id, zone + 28400 AS epsg,
         zone * 1000000.0 + 500000.0 AS x0,
         ((radians(lon) - radians(6.0 * zone - 3.0)) + pi()) - pi() AS dl,
         radians(lat) AS phi
  FROM z
), t1 AS (
  SELECT *, tan(phi) AS tau FROM d
), t2 AS (
  SELECT *, sqrt(1.0 + tau*tau) AS tau1 FROM t1
), t3 AS (
  SELECT *,
    (exp({e} * 0.5 * ln((1.0 + {e}*tau/tau1) / (1.0 - {e}*tau/tau1)))
     - exp(-({e} * 0.5 * ln((1.0 + {e}*tau/tau1)
                            / (1.0 - {e}*tau/tau1))))) / 2.0 AS sig
  FROM t2
), t4 AS (
  SELECT *, sqrt(1.0 + sig*sig)*tau - sig*tau1 AS taup, cos(dl) AS cl
  FROM t3
), t5 AS (
  SELECT *, atan2(taup, cl) AS xip,
    ln(sin(dl)/sqrt(taup*taup + cl*cl)
       + sqrt((sin(dl)/sqrt(taup*taup + cl*cl))
              * (sin(dl)/sqrt(taup*taup + cl*cl)) + 1.0)) AS etap
  FROM t4
), t6 AS (
  SELECT doc_id, epsg, x0,
         xip{xi_terms} AS xi,
         etap{eta_terms} AS eta
  FROM t5
)
SELECT doc_id, epsg,
       CAST(round({A}*eta + x0) AS BIGINT) AS easting,
       CAST(round({A}*xi) AS BIGINT)       AS northing
FROM t6
"""


QUERIES["gauss_kruger"] = (q_gauss_kruger, _gauss_kruger_sql())


def q_krovak_grid(spark, sf_dir):
    """Round-5 family gate for the Krovak oblique conformal conic
    (EPSG method 9819, S-JTSK / Krovak East North = EPSG:5514; the
    kernel reproduces the EPSG guidance-note worked example to 2 cm —
    tests/test_projections_round5.py::TestKrovak). Deterministic
    points over the CZ/SK window go through ONE Arrow-UDF crossing
    (Transformer.from_crs(4156, 5514), reference transformer.py:
    184-230); the oracle replays the full closed form — gaussian
    sphere, oblique rotation, conformal cone — in DuckDB from the
    kernel's own plan-time constant doubles."""
    from pyproj_spark.functions.transform import transform_xy

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (12.2 + (F.col("doc_id") * 7919 % 10000) / 1000.0).alias("lon"),
        (47.8 + (F.col("doc_id") * 104729 % 3200) / 1000.0).alias("lat"))
    xy = transform_xy("EPSG:4156", "EPSG:5514",
                      F.col("lon"), F.col("lat"))
    return (docs.withColumn("xy", xy)
            .select("doc_id",
                    F.round(F.col("xy.x")).cast("long").alias("x_east"),
                    F.round(F.col("xy.y")).cast("long").alias("y_north")))


def _krovak_sql():
    """EPSG 9819 replay with the kernel's constants (repr doubles).
    asin/atan2/pow/exp/ln are libm on both engines (the LCC stateplane
    precedent); hyperbolics are not needed by this projection."""
    import numpy as np

    from pyproj_spark.kernels.ellipsoid import get_ellipsoid
    from pyproj_spark.kernels.projections import Krovak

    kv = Krovak(get_ellipsoid("bessel"), lon_0=24.833333333333332,
                lat_0=49.5, alpha=30.28813972527778, k_0=0.9999)
    e = repr(kv.E.e)
    B, t0, n, r0 = repr(kv.B), repr(kv.t0), repr(kv.n), repr(kv.r0)
    ca, sa = repr(float(np.cos(kv.alphac))), repr(float(np.sin(kv.alphac)))
    tpp = repr(kv.tan_pp)
    lon0 = repr(24.833333333333332)
    return f"""
WITH pts AS (
  SELECT doc_id,
         12.2 + (doc_id * 7919 % 10000) / 1000.0  AS lon,
         47.8 + (doc_id * 104729 % 3200) / 1000.0 AS lat
  FROM documents
), d AS (
  SELECT doc_id,
         ((radians(lon) - radians({lon0})) + pi()) - pi() AS dl,
         radians(lat) AS phi
  FROM pts
), u AS (
  SELECT doc_id, dl, phi,
    2.0 * (atan({t0} * power(tan(phi/2 + pi()/4), {B})
                / power((1.0 + {e}*sin(phi)) / (1.0 - {e}*sin(phi)),
                        {e}*{B}/2)) - pi()/4) AS bigu,
    -({B}) * dl AS bigv
  FROM d
), tt AS (
  SELECT doc_id, bigv,
    asin({ca} * sin(bigu) + {sa} * cos(bigu) * cos(bigv)) AS bigt,
    cos(bigu) AS cu
  FROM u
), dd AS (
  SELECT doc_id, bigt,
    asin(cu * sin(bigv) / cos(bigt)) AS bigd
  FROM tt
), geom AS (
  SELECT doc_id,
    {n} * bigd AS theta,
    {r0} * power({tpp}, {n}) / power(tan(bigt/2 + pi()/4), {n}) AS r
  FROM dd
)
SELECT doc_id,
       CAST(round(-(r * sin(theta))) AS BIGINT) AS x_east,
       CAST(round(-(r * cos(theta))) AS BIGINT) AS y_north
FROM geom
"""


QUERIES["krovak_grid"] = (q_krovak_grid, _krovak_sql())


def q_world_proj(spark, sf_dir):
    """Round-5 world-projection family gate: Bonne (ellipsoidal
    pseudoconic, EPSG method 9827), Van der Grinten I and Winkel
    Tripel (the reference reaches all three via +proj strings,
    pyproj/crs/crs.py:236-320). Deterministic world-spanning points
    (chosen off the equator/central-meridian special branches) go
    through three Transformer.from_crs pipelines — one Arrow-UDF
    crossing each — and the oracle replays every closed form in
    DuckDB: the exact rectifying-latitude meridian-arc series for
    Bonne (kernel-constant doubles, the gauss_kruger pattern), the
    A/G/P/Q circle construction for Van der Grinten, and the
    equirectangular-Aitoff mean for Winkel. Outputs rounded to whole
    meters (BIGINT) so cross-engine libm ulp wobble cannot flip the
    hash."""
    from pyproj_spark.functions.transform import transform_xy

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 350000) / 1000.0 - 174.9995)
        .alias("lon"),
        ((F.col("doc_id") * 104729 % 160000) / 1000.0 - 79.9995)
        .alias("lat"))
    bo = transform_xy("EPSG:4326", "+proj=bonne +lat_1=45 +ellps=WGS84",
                      F.col("lon"), F.col("lat"))
    vg = transform_xy("EPSG:4326", "+proj=vandg +R=6371000",
                      F.col("lon"), F.col("lat"))
    wt = transform_xy("EPSG:4326", "+proj=wintri +ellps=WGS84",
                      F.col("lon"), F.col("lat"))
    return (docs.withColumn("bo", bo).withColumn("vg", vg)
            .withColumn("wt", wt)
            .select("doc_id",
                    F.round(F.col("bo.x")).cast("long").alias("x_bonne"),
                    F.round(F.col("bo.y")).cast("long").alias("y_bonne"),
                    F.round(F.col("vg.x")).cast("long").alias("x_vdg"),
                    F.round(F.col("vg.y")).cast("long").alias("y_vdg"),
                    F.round(F.col("wt.x")).cast("long").alias("x_wt"),
                    F.round(F.col("wt.y")).cast("long").alias("y_wt")))


def _world_proj_sql():
    """Closed-form replay of all three kernels with repr'd constant
    doubles; hyperbolics spelled via exp/ln (gauss_kruger precedent).
    The +pi()-pi() dance replays the kernel's longitude wrap
    bit-exactly."""
    from pyproj_spark.kernels.ellipsoid import get_ellipsoid
    from pyproj_spark.kernels.projections import Bonne

    bn = Bonne(get_ellipsoid("WGS84"), lat_1=45.0)
    e, a, A = repr(bn.E.e), repr(bn.E.a), repr(bn.A)
    e2 = repr(bn.E.e2)
    rho1, M1 = repr(bn.rho1), repr(bn.M1)
    mu_terms = "".join(f" + {aj!r}*sin({2 * j}*chi)"
                       for j, aj in enumerate(bn.alpha, start=1))
    R_VDG = repr(6371000.0)
    R_WT = a  # wintri on WGS84 uses the semi-major axis as the sphere
    C1 = repr(2.0 / 3.141592653589793)  # wintri default cos(lat_1)
    return f"""
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 350000) / 1000.0 - 174.9995  AS lon,
         (doc_id * 104729 % 160000) / 1000.0 - 79.9995 AS lat
  FROM documents
), d AS (
  SELECT doc_id,
         (radians(lon) + pi()) - pi() AS dl,
         radians(lat) AS phi
  FROM pts
), bonne1 AS (
  SELECT *, tan(phi) AS tau, sqrt(1.0 + tan(phi)*tan(phi)) AS tau1
  FROM d
), bonne2 AS (
  SELECT *,
    (exp({e} * 0.5 * ln((1.0 + {e}*tau/tau1) / (1.0 - {e}*tau/tau1)))
     - exp(-({e} * 0.5 * ln((1.0 + {e}*tau/tau1)
                            / (1.0 - {e}*tau/tau1))))) / 2.0 AS sig
  FROM bonne1
), bonne3 AS (
  SELECT *, atan(sqrt(1.0 + sig*sig)*tau - sig*tau1) AS chi
  FROM bonne2
), bonne4 AS (
  -- NB: column names must differ case-insensitively (DuckDB folds
  -- identifier case), so the meridian arc is marc, not M
  SELECT doc_id, dl, phi,
         {A} * (chi{mu_terms}) AS marc,
         cos(phi) / sqrt(1.0 - {e2}*sin(phi)*sin(phi)) AS mpar
  FROM bonne3
), bonne5 AS (
  SELECT doc_id, dl, phi, mpar,
         {rho1} + {M1} - marc AS rho
  FROM bonne4
), bonne AS (
  SELECT doc_id, dl, phi,
         rho * sin({a}*mpar*dl/rho)          AS xb,
         {rho1} - rho * cos({a}*mpar*dl/rho) AS yb
  FROM bonne5
), vdg1 AS (
  SELECT doc_id, dl, phi,
         asin(abs(2.0*phi/pi())) AS th
  FROM d
), vdg2 AS (
  SELECT *,
         0.5 * abs(pi()/dl - dl/pi())             AS av,
         cos(th) / (sin(th) + cos(th) - 1.0)      AS g
  FROM vdg1
), vdg3 AS (
  SELECT *, g * (2.0/sin(th) - 1.0) AS p, av*av + g AS q
  FROM vdg2
), vdg AS (
  SELECT doc_id,
         sign(dl) * pi() * {R_VDG}
           * (av*(g - p*p)
              + sqrt(greatest(av*av*(g - p*p)*(g - p*p)
                              - (p*p + av*av)*(g*g - p*p), 0.0)))
           / (p*p + av*av) AS xv,
         sign(phi) * pi() * {R_VDG}
           * (p*q - av*sqrt(greatest((av*av + 1.0)*(p*p + av*av)
                                     - q*q, 0.0)))
           / (p*p + av*av) AS yv
  FROM vdg3
), wt1 AS (
  SELECT doc_id, dl, phi,
         acos(cos(phi) * cos(dl/2.0)) AS dd
  FROM d
), wt AS (
  SELECT doc_id,
         0.5 * {R_WT} * (dl * {C1}
           + 2.0*cos(phi)*sin(dl/2.0) * dd / sin(dd)) AS xw,
         0.5 * {R_WT} * (phi + sin(phi) * dd / sin(dd)) AS yw
  FROM wt1
)
SELECT b.doc_id,
       CAST(round(b.xb) AS BIGINT) AS x_bonne,
       CAST(round(b.yb) AS BIGINT) AS y_bonne,
       CAST(round(v.xv) AS BIGINT) AS x_vdg,
       CAST(round(v.yv) AS BIGINT) AS y_vdg,
       CAST(round(w.xw) AS BIGINT) AS x_wt,
       CAST(round(w.yw) AS BIGINT) AS y_wt
FROM bonne b
JOIN vdg v ON v.doc_id = b.doc_id
JOIN wt  w ON w.doc_id = b.doc_id
"""


QUERIES["world_proj"] = (q_world_proj, _world_proj_sql())


def q_hammer_aitoff(spark, sf_dir):
    """Companion world-projection gate: Hammer (equal-area 2:1
    ellipse) and Aitoff — the modified-azimuthal pair (equatorial
    LAEA / AEQD with halved longitudes and doubled x; Snyder pp.
    160-163 and 230). Same shape as world_proj: one Arrow-UDF
    crossing per projection, whole-meter BIGINT output, full closed
    forms replayed in DuckDB. wintri = mean(eqc, aitoff) is locked in
    tests/test_projections_world.py, so this gate plus world_proj
    cross-checks all three modified-azimuthal kernels."""
    from pyproj_spark.functions.transform import transform_xy

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 350000) / 1000.0 - 174.9995)
        .alias("lon"),
        ((F.col("doc_id") * 104729 % 160000) / 1000.0 - 79.9995)
        .alias("lat"))
    hm = transform_xy("EPSG:4326", "+proj=hammer +ellps=WGS84",
                      F.col("lon"), F.col("lat"))
    at = transform_xy("EPSG:4326", "+proj=aitoff +ellps=WGS84",
                      F.col("lon"), F.col("lat"))
    return (docs.withColumn("hm", hm).withColumn("at", at)
            .select("doc_id",
                    F.round(F.col("hm.x")).cast("long").alias("x_hammer"),
                    F.round(F.col("hm.y")).cast("long").alias("y_hammer"),
                    F.round(F.col("at.x")).cast("long").alias("x_aitoff"),
                    F.round(F.col("at.y")).cast("long").alias("y_aitoff")))


def _hammer_aitoff_sql():
    from pyproj_spark.kernels.ellipsoid import get_ellipsoid

    R = repr(get_ellipsoid("WGS84").a)
    return f"""
WITH pts AS (
  SELECT doc_id,
         (doc_id * 7919 % 350000) / 1000.0 - 174.9995  AS lon,
         (doc_id * 104729 % 160000) / 1000.0 - 79.9995 AS lat
  FROM documents
), d AS (
  SELECT doc_id,
         (radians(lon) + pi()) - pi() AS dl,
         radians(lat) AS phi
  FROM pts
), hm AS (
  SELECT doc_id,
         sqrt(1.0 + cos(phi) * cos(dl/2.0)) AS zh,
         acos(cos(phi) * cos(dl/2.0))       AS da,
         dl, phi
  FROM d
)
SELECT doc_id,
       CAST(round({R} * sqrt(8.0) * cos(phi) * sin(dl/2.0) / zh)
            AS BIGINT) AS x_hammer,
       CAST(round({R} * sqrt(2.0) * sin(phi) / zh)
            AS BIGINT) AS y_hammer,
       CAST(round(2.0 * {R} * cos(phi) * sin(dl/2.0) * da / sin(da))
            AS BIGINT) AS x_aitoff,
       CAST(round({R} * sin(phi) * da / sin(da))
            AS BIGINT) AS y_aitoff
FROM hm
"""


QUERIES["hammer_aitoff"] = (q_hammer_aitoff, _hammer_aitoff_sql())


def q_itrf_epoch(spark, sf_dir):
    """4D time-dependent frame transform gate (reference
    test_transformer.py:87-102 semantics, transformer.py T3's t
    dimension): geocentric ITRF2014 points with PER-ROW decimal-year
    epochs -> ITRF2000 via the published IERS 14-parameter Helmert
    (rates applied at each row's epoch). Inputs are exact integers and
    the whole transform is +-*/ linear algebra — no libm — so the
    oracle replays the kernel's _params_at + forward operation order
    bit-identically in DuckDB; outputs in 0.1-mm BIGINT units.
    One Arrow crossing; scale shape is a pure map."""
    from pyproj_spark.functions.transform import transform_itrf

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") * 7919 % 4000000 + 1000000).alias("x"),
        (F.col("doc_id") * 104729 % 4000000 + 1000000).alias("y"),
        (F.col("doc_id") * 31337 % 3000000 + 3000000).alias("z"),
        (2000.0 + (F.col("doc_id") % 80) / 4.0).alias("epoch"))
    out = transform_itrf("ITRF2014", "ITRF2000",
                         F.col("x"), F.col("y"), F.col("z"),
                         F.col("epoch"))
    return (docs.withColumn("o", out)
            .select("doc_id", "epoch",
                    F.round(F.col("o.x") * 10000.0).cast("long")
                    .alias("x2"),
                    F.round(F.col("o.y") * 10000.0).cast("long")
                    .alias("y2"),
                    F.round(F.col("o.z") * 10000.0).cast("long")
                    .alias("z2")))


def _itrf_epoch_sql():
    """Replays kernels/datum.py Helmert._params_at + .forward with the
    itrf_helmert("ITRF2014","ITRF2000") instance's literal doubles in
    the kernel's exact operation order (pure IEEE +-*/: bit-identical
    across engines)."""
    import numpy as np

    from pyproj_spark.kernels.itrf import itrf_helmert

    h, inv = itrf_helmert("ITRF2014", "ITRF2000")
    assert not inv and h.t_epoch == 2000.0
    tx, ty, tz, rx, ry, rz, s = map(repr, h.p)
    dtx, dty, dtz, drx, dry, drz, ds = map(repr, h.rates)
    as2rad = repr(float(np.pi / (180.0 * 3600.0)))
    return f"""
WITH pts AS (
  SELECT doc_id,
         CAST(doc_id * 7919 % 4000000 + 1000000 AS DOUBLE)  AS x,
         CAST(doc_id * 104729 % 4000000 + 1000000 AS DOUBLE) AS y,
         CAST(doc_id * 31337 % 3000000 + 3000000 AS DOUBLE) AS z,
         2000.0 + (doc_id % 80) / 4.0 AS epoch
  FROM documents
), p AS (
  SELECT *, epoch - 2000.0 AS dt FROM pts
), q AS (
  SELECT doc_id, epoch, x, y, z,
         {tx} + {dtx} * dt AS txt,
         {ty} + {dty} * dt AS tyt,
         {tz} + {dtz} * dt AS tzt,
         ({rx} + {drx} * dt) * {as2rad} AS rxt,
         ({ry} + {dry} * dt) * {as2rad} AS ryt,
         ({rz} + {drz} * dt) * {as2rad} AS rzt,
         1.0 + ({s} + {ds} * dt) * 1e-06 AS m
  FROM p
)
SELECT doc_id, epoch,
       CAST(round((txt + m * (x - rzt * y + ryt * z)) * 10000.0)
            AS BIGINT) AS x2,
       CAST(round((tyt + m * (rzt * x + y - rxt * z)) * 10000.0)
            AS BIGINT) AS y2,
       CAST(round((tzt + m * (-ryt * x + rxt * y + z)) * 10000.0)
            AS BIGINT) AS z2
FROM q
"""


QUERIES["itrf_epoch"] = (q_itrf_epoch, _itrf_epoch_sql())


def q_rd_grid(spark, sf_dir):
    """Round-5 family gate for the EPSG-9809 double stereographic
    (Amersfoort / RD New, EPSG:28992; kernel reproduces the EPSG
    guidance-note worked example to 2 mm —
    tests/test_projections_round5.py::TestObliqueStereographic).
    Deterministic points over the NL window go through ONE Arrow-UDF
    crossing (Transformer.from_crs(4289, 28992), reference
    transformer.py:184-230); the oracle replays the conformal-sphere
    double projection in DuckDB from the kernel's plan-time constant
    doubles (the krovak_grid / gauss_kruger pattern)."""
    from pyproj_spark.functions.transform import transform_xy

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (3.3 + (F.col("doc_id") * 7919 % 3800) / 1000.0).alias("lon"),
        (50.8 + (F.col("doc_id") * 104729 % 2700) / 1000.0).alias("lat"))
    xy = transform_xy("EPSG:4289", "EPSG:28992",
                      F.col("lon"), F.col("lat"))
    return (docs.withColumn("xy", xy)
            .select("doc_id",
                    F.round(F.col("xy.x")).cast("long").alias("x_east"),
                    F.round(F.col("xy.y")).cast("long").alias("y_north")))


def _rd_sql():
    """EPSG 9809 replay with the kernel's constants (repr doubles):
    conformal-sphere latitude via the exact (Sa*Sb^e)^n power chain,
    then the spherical oblique stereographic. asin/pow/sin/cos are
    libm on both engines; whole-meter rounding absorbs ulp skew."""
    from pyproj_spark.kernels.ellipsoid import get_ellipsoid
    from pyproj_spark.kernels.projections import (
        ObliqueStereographicAlternative)

    kv = ObliqueStereographicAlternative(
        get_ellipsoid("bessel"), lat_0=52.15616055555555,
        lon_0=5.38763888888889, k_0=0.9999079,
        x_0=155000.0, y_0=463000.0)
    def D(v):
        # DOUBLE-cast literals: DuckDB parses full-precision repr()
        # numerics as DECIMAL, whose products overflow DECIMAL(18)
        return f"CAST({float(v)!r} AS DOUBLE)"

    e = D(kv.E.e)
    R, n, c = D(kv.R), D(kv.n), D(kv.c)
    schi0, cchi0 = D(kv.schi0), D(kv.cchi0)
    k0 = D(kv.k0)
    lon0 = D(5.38763888888889)
    return f"""
WITH pts AS (
  SELECT doc_id,
         3.3 + (doc_id * 7919 % 3800) / 1000.0   AS lon,
         50.8 + (doc_id * 104729 % 2700) / 1000.0 AS lat
  FROM documents
), d AS (
  SELECT doc_id,
         {n} * (((radians(lon) - radians({lon0})) + pi()) - pi()) AS L,
         sin(radians(lat)) AS sp
  FROM pts
), conf AS (
  SELECT doc_id, L,
    {c} * power(((1.0 + sp) / (1.0 - sp))
                * power((1.0 - {e}*sp) / (1.0 + {e}*sp), {e}),
                {n}) AS w
  FROM d
), chi AS (
  SELECT doc_id, L, asin((w - 1.0) / (w + 1.0)) AS chi FROM conf
), geom AS (
  SELECT doc_id,
    2.0 * {R} * {k0}
      / (1.0 + sin(chi)*{schi0} + cos(chi)*{cchi0}*cos(L)) AS f,
    cos(chi) AS cc, sin(chi) AS sc, sin(L) AS sl, cos(L) AS cl
  FROM chi
)
SELECT doc_id,
       CAST(round(f * cc * sl + 155000.0) AS BIGINT) AS x_east,
       CAST(round(f * (sc * {cchi0} - cc * {schi0} * cl)
                  + 463000.0) AS BIGINT) AS y_north
FROM geom
"""


QUERIES["rd_grid"] = (q_rd_grid, _rd_sql())


def q_rhumb_line(spark, sf_dir):
    """Rhumb-line (loxodrome) inverse problem — constant steering
    course + track length between deterministic point pairs, the
    navigation complement of `geod_sphere`'s great-circle inverse
    (reference Geod surfaces only geodesics; ships steer rhumbs).
    Pure Catalyst closed forms (`functions/rhumb.py`): isometric
    latitudes, Mercator-course atan2, exact E-W degeneracy guard —
    the whole plan is one scan inside whole-stage codegen, and the
    oracle replays every term in SQL."""
    from pyproj_spark.functions.rhumb import rhumb_inverse
    pts = _doc_points(spark, sf_dir)
    lon2 = (F.col("doc_id") * 12553 % 360000) / 1000.0 - 180.0
    lat2 = (F.col("doc_id") * 24001 % 170000) / 1000.0 - 85.0
    rl = rhumb_inverse(F.col("lon"), F.col("lat"), lon2, lat2)
    return pts.select("doc_id",
                      rl["bearing_deg"].alias("bearing_deg"),
                      rl["dist_m"].alias("dist_m"))


SQL_RHUMB_LINE = f"""
WITH pts AS ({_PTS_SQL}),
p AS (
  SELECT doc_id, lon, lat,
         (doc_id * 12553 % 360000) / 1000.0 - 180.0 AS lon2,
         (doc_id * 24001 % 170000) / 1000.0 - 85.0  AS lat2
  FROM pts
), c AS (
  SELECT doc_id,
         radians(lat)  AS la1, radians(lat2) AS la2,
         radians(fmod(lon2 - lon + 540.0, 360.0) - 180.0) AS dlam
  FROM p
), d AS (
  SELECT doc_id, dlam, la2 - la1 AS dphi,
         ln(tan(pi()/4 + la2/2)) - ln(tan(pi()/4 + la1/2)) AS dpsi,
         cos(la1) AS cl1
  FROM c
), e AS (
  SELECT doc_id, dlam, dphi, dpsi,
         CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi ELSE cl1 END AS q
  FROM d
)
SELECT doc_id,
       fmod(degrees(atan2(dlam, dpsi)) + 360.0, 360.0) AS bearing_deg,
       sqrt(dphi*dphi + q*q*dlam*dlam) * 6371008.8 AS dist_m
FROM e
"""


QUERIES["rhumb_line"] = (q_rhumb_line, SQL_RHUMB_LINE)


#: fixed great-circle routes for the intersection gate (lon1, lat1,
#: lon2, lat2) — all spans well under 180 degrees
GC_ROUTES = {
    0: (-120.0, 30.0, 20.0, 55.0),
    1: (-70.0, -30.0, 110.0, 25.0),
    2: (-10.0, 60.0, 60.0, -40.0),
    3: (140.0, 40.0, -140.0, -20.0),
    4: (-40.0, -60.0, 40.0, 65.0),
    5: (-150.0, 10.0, -60.0, 45.0),
    6: (10.0, -70.0, 120.0, -5.0),
    7: (60.0, 70.0, 170.0, 10.0),
}


def q_gc_intersect(spark, sf_dir):
    """Great-circle segment intersection join — which document legs
    cross which fixed routes, and where (the route-conflict /
    crossing-detection primitive). Closed-form spherical vector
    algebra, pure Catalyst: each segment's plane normal n = p1 x p2,
    the candidate intersection +/-(n1 x n2) normalized, crossing iff
    each segment's endpoints straddle the other's plane AND both
    midpoint hemispheres agree on the candidate sign (which also
    rejects the antipodal ghost). No iteration, no UDF; the literal
    8-route table folds in map-side (broadcast semantics without even
    a join — an explode over a literal array), so the plan is one
    scan + one filter at ANY corpus size; a big-route-set variant
    would prefilter by cell covering exactly like pip_join."""
    import math as _m
    pts = _doc_points(spark, sf_dir)
    lon2 = (F.col("doc_id") * 12553 % 360000) / 1000.0 - 180.0
    lat2 = (F.col("doc_id") * 24001 % 170000) / 1000.0 - 85.0
    segs = pts.select(
        "doc_id",
        F.radians("lon").alias("lo1"), F.radians("lat").alias("la1"),
        F.radians(lon2).alias("lo2"), F.radians(lat2).alias("la2"))

    routes = F.array(*[
        F.struct(F.lit(rid).alias("route_id"),
                 *[F.lit(_m.radians(v)).alias(n)
                   for n, v in zip(("qo1", "qa1", "qo2", "qa2"), seg)])
        for rid, seg in sorted(GC_ROUTES.items())])
    df = segs.select("*", F.explode(routes).alias("r")).select(
        "doc_id", "lo1", "la1", "lo2", "la2", "r.*")

    def vec(lo, la, tag):
        return [(F.cos(F.col(la)) * F.cos(F.col(lo))).alias(f"{tag}x"),
                (F.cos(F.col(la)) * F.sin(F.col(lo))).alias(f"{tag}y"),
                F.sin(F.col(la)).alias(f"{tag}z")]

    df = df.select("doc_id", "route_id",
                   *vec("lo1", "la1", "p1"), *vec("lo2", "la2", "p2"),
                   *vec("qo1", "qa1", "q1"), *vec("qo2", "qa2", "q2"))

    def cross(a, b, tag):
        c = F.col
        return [(c(a + "y") * c(b + "z") - c(a + "z") * c(b + "y"))
                .alias(f"{tag}x"),
                (c(a + "z") * c(b + "x") - c(a + "x") * c(b + "z"))
                .alias(f"{tag}y"),
                (c(a + "x") * c(b + "y") - c(a + "y") * c(b + "x"))
                .alias(f"{tag}z")]

    df = df.select("*", *cross("p1", "p2", "n1"), *cross("q1", "q2", "n2"))
    df = df.select("*", *cross("n1", "n2", "t"))

    def dot(a, b):
        c = F.col
        return (c(a + "x") * c(b + "x") + c(a + "y") * c(b + "y")
                + c(a + "z") * c(b + "z"))

    # straddle tests + hemisphere orientation: s chooses +t or -t and
    # must be the SAME for both segments' midpoint hemispheres
    sa = dot("t", "p1") + dot("t", "p2")
    sb = dot("t", "q1") + dot("t", "q2")
    crossing = ((dot("n1", "q1") * dot("n1", "q2") < 0)
                & (dot("n2", "p1") * dot("n2", "p2") < 0)
                & (sa * sb > 0))
    sgn = F.when(sa > 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    tn = F.sqrt(dot("t", "t"))
    ix = sgn * F.col("tx") / tn
    iy = sgn * F.col("ty") / tn
    iz = sgn * F.col("tz") / tn
    return (df.filter(crossing)
            .select("doc_id", "route_id",
                    F.degrees(F.atan2(iy, ix)).alias("ix_lon"),
                    F.degrees(F.asin(F.least(F.greatest(
                        iz, F.lit(-1.0)), F.lit(1.0)))).alias("ix_lat")))


def _gc_routes_sql() -> str:
    import math as _m
    rows = ", ".join(
        f"({rid}, {_m.radians(a)!r}, {_m.radians(b)!r}, "
        f"{_m.radians(c)!r}, {_m.radians(d)!r})"
        for rid, (a, b, c, d) in sorted(GC_ROUTES.items()))
    return ("SELECT * FROM (VALUES " + rows
            + ") AS r(route_id, qo1, qa1, qo2, qa2)")


SQL_GC_INTERSECT = f"""
WITH pts AS ({_PTS_SQL}),
segs AS (
  SELECT doc_id,
         radians(lon) AS lo1, radians(lat) AS la1,
         radians((doc_id * 12553 % 360000) / 1000.0 - 180.0) AS lo2,
         radians((doc_id * 24001 % 170000) / 1000.0 - 85.0)  AS la2
  FROM pts
),
routes AS ({_gc_routes_sql()}),
v AS (
  SELECT doc_id, route_id,
    cos(la1)*cos(lo1) AS p1x, cos(la1)*sin(lo1) AS p1y, sin(la1) AS p1z,
    cos(la2)*cos(lo2) AS p2x, cos(la2)*sin(lo2) AS p2y, sin(la2) AS p2z,
    cos(qa1)*cos(qo1) AS q1x, cos(qa1)*sin(qo1) AS q1y, sin(qa1) AS q1z,
    cos(qa2)*cos(qo2) AS q2x, cos(qa2)*sin(qo2) AS q2y, sin(qa2) AS q2z
  FROM segs, routes
),
n AS (
  SELECT *,
    p1y*p2z - p1z*p2y AS n1x, p1z*p2x - p1x*p2z AS n1y,
    p1x*p2y - p1y*p2x AS n1z,
    q1y*q2z - q1z*q2y AS n2x, q1z*q2x - q1x*q2z AS n2y,
    q1x*q2y - q1y*q2x AS n2z
  FROM v
),
t AS (
  SELECT *,
    n1y*n2z - n1z*n2y AS tx, n1z*n2x - n1x*n2z AS ty,
    n1x*n2y - n1y*n2x AS tz
  FROM n
),
s AS (
  SELECT *,
    (tx*p1x + ty*p1y + tz*p1z) + (tx*p2x + ty*p2y + tz*p2z) AS sa,
    (tx*q1x + ty*q1y + tz*q1z) + (tx*q2x + ty*q2y + tz*q2z) AS sb
  FROM t
)
SELECT doc_id, route_id,
  degrees(atan2(CASE WHEN sa > 0 THEN 1.0 ELSE -1.0 END * ty / sqrt(tx*tx + ty*ty + tz*tz),
                CASE WHEN sa > 0 THEN 1.0 ELSE -1.0 END * tx / sqrt(tx*tx + ty*ty + tz*tz))) AS ix_lon,
  degrees(asin(least(greatest(
      CASE WHEN sa > 0 THEN 1.0 ELSE -1.0 END * tz / sqrt(tx*tx + ty*ty + tz*tz),
      -1.0), 1.0))) AS ix_lat
FROM s
WHERE (n1x*q1x + n1y*q1y + n1z*q1z) * (n1x*q2x + n1y*q2y + n1z*q2z) < 0
  AND (n2x*p1x + n2y*p1y + n2z*p1z) * (n2x*p2x + n2y*p2y + n2z*p2z) < 0
  AND sa * sb > 0
"""


QUERIES["gc_intersect"] = (q_gc_intersect, SQL_GC_INTERSECT)


def q_hmm_match(spark, sf_dir):
    """HMM map-matching (Newson-Krumm 2009 shape): Viterbi over the
    12-segment road table — min sum(d2) + LAMBDA per segment switch —
    for 8-point trajectories (traj = doc_id/8). Candidate costs are
    one broadcast-crossed scan; the DP runs per-trajectory in
    one map_groups stage with EXACT int64 costs (`operators/hmm.py`), so the
    oracle replays the full forward recursion AND the backward
    argmin path reconstruction in unrolled SQL, bit for bit. The
    path-coherent upgrade of snap_roads: a noisy point near a wrong
    segment stays on the route unless the detour beats LAMBDA."""
    from pyproj_spark.operators.hmm import viterbi_match
    pts = _doc_points(spark, sf_dir)
    bound = pts.agg(F.floor(F.count("*") / 8).alias("ntraj"))
    p = (pts.crossJoin(F.broadcast(bound))
         .filter(F.floor(F.col("doc_id") / 8) < F.col("ntraj"))
         .select(F.floor(F.col("doc_id") / 8).cast("long")
                 .alias("traj_id"),
                 (F.col("doc_id") % 8).alias("step"), "lon", "lat"))
    segs = spark.createDataFrame(
        ROAD_SEGS, "seg_id int, ax double, ay double, "
        "bx double, by double")
    return viterbi_match(p, segs)


def _hmm_sql() -> str:
    from pyproj_spark.operators.hmm import LAMBDA
    vals = ", ".join(f"({s}, {ax!r}, {ay!r}, {bx!r}, {by!r})"
                     for s, ax, ay, bx, by in ROAD_SEGS)
    parts = [f"""
WITH pts AS ({_PTS_SQL}),
lim AS (SELECT count(*) // 8 AS ntraj FROM documents),
p AS (
  SELECT doc_id // 8 AS traj_id, doc_id % 8 AS step, lon, lat
  FROM pts, lim WHERE doc_id // 8 < ntraj
),
segs AS (SELECT * FROM (VALUES {vals})
         AS s(seg_id, ax, ay, bx, by)),
cc AS (
  SELECT traj_id, step, seg_id,
         least(greatest(
           ((lon - ax) * (bx - ax) + (lat - ay) * (by - ay))
             / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)),
           0.0), 1.0) AS t,
         lon, lat, ax, ay, bx, by
  FROM p CROSS JOIN segs
),
em AS MATERIALIZED (
  SELECT traj_id, step, seg_id,
         CAST(round((
           (lon - (ax + t * (bx - ax))) * (lon - (ax + t * (bx - ax)))
         + (lat - (ay + t * (by - ay))) * (lat - (ay + t * (by - ay)))
         ) * 1e10) AS BIGINT) AS em
  FROM cc
),
v0 AS MATERIALIZED (SELECT traj_id, seg_id, em AS v FROM em WHERE step = 0)"""]
    for k in range(1, 8):
        parts.append(f""",
m{k - 1} AS (SELECT traj_id, min(v) AS m FROM v{k - 1} GROUP BY 1),
v{k} AS MATERIALIZED (
  SELECT e.traj_id, e.seg_id,
         e.em + least(pv.v, pm.m + {LAMBDA}) AS v
  FROM em e
  JOIN v{k - 1} pv ON pv.traj_id = e.traj_id
                   AND pv.seg_id = e.seg_id
  JOIN m{k - 1} pm ON pm.traj_id = e.traj_id
  WHERE e.step = {k}
)""")
    parts.append(f""",
b7 AS (
  SELECT traj_id, seg_id FROM (
    SELECT traj_id, seg_id,
           row_number() OVER (PARTITION BY traj_id
                              ORDER BY v, seg_id) AS rn
    FROM v7) WHERE rn = 1
)""")
    for k in range(6, -1, -1):
        parts.append(f""",
b{k} AS (
  SELECT traj_id, seg_id FROM (
    SELECT vv.traj_id, vv.seg_id,
           row_number() OVER (
             PARTITION BY vv.traj_id
             ORDER BY vv.v + CASE WHEN vv.seg_id != nb.seg_id
                                  THEN {LAMBDA} ELSE 0 END,
                      vv.seg_id) AS rn
    FROM v{k} vv JOIN b{k + 1} nb USING (traj_id)) WHERE rn = 1
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT traj_id, CAST({k} AS BIGINT) AS step, seg_id FROM b{k}"
        for k in range(8))
    parts.append("\n" + sel)
    return "".join(parts)


QUERIES["hmm_match"] = (q_hmm_match, _hmm_sql())


def q_colocate(spark, sf_dir):
    """Spatiotemporal co-location: user pairs within 0.5 degrees in
    the same hour over a metro-scale 40x20-degree domain (`operators/colocation.py` — one side explodes into its
    3x3 neighbor cells, hash equi-join on (cell, window), work
    bounded by bucket density). The oracle is covering-BLIND — a raw
    same-window pair join on coordinates alone — so hash equality
    proves the cell decomposition catches every pair exactly once."""
    from pyproj_spark.operators.colocation import colocate
    def h(salt):
        return F.conv(F.substring(F.md5(F.concat(
            F.lit(salt), F.col("event_id").cast("string"))), 1, 8),
            16, 10).cast("long")

    # md5 coordinates: consecutive event_ids (= same window) must not
    # sit on a multiplicative lattice or same-window distances take
    # only ~20 discrete values and the gate passes vacuously at 0 rows
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts",
        ((h("cx:") % 40000) / 1000.0 - 20.0).alias("lon"),
        ((h("cy:") % 20000) / 1000.0 + 30.0).alias("lat"))
    return colocate(ev, radius_deg=0.5, window_s=3600)


SQL_COLOCATE = """
WITH pts AS (
  SELECT user_id AS u,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS wnd,
         (CAST(('0x' || substr(md5('cx:' || CAST(event_id AS VARCHAR)),
               1, 8)) AS BIGINT) % 40000) / 1000.0 - 20.0  AS x,
         (CAST(('0x' || substr(md5('cy:' || CAST(event_id AS VARCHAR)),
               1, 8)) AS BIGINT) % 20000) / 1000.0 + 30.0 AS y
  FROM events
),
pairs AS (
  SELECT a.u AS u1, b.u AS u2, a.wnd
  FROM pts a JOIN pts b
    ON (a.wnd = b.wnd AND a.u < b.u)
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.25
)
SELECT u1, u2, CAST(count(*) AS BIGINT) AS n_contacts,
       min(wnd) AS first_wnd
FROM pairs GROUP BY 1, 2
"""


QUERIES["colocate"] = (q_colocate, SQL_COLOCATE)


# ------------------------------------------------ trajectory resample

def q_resample(spark, sf_dir):
    """Trajectory resampling to a fixed 6-hour grid
    (operators/lines.py::resample_tracks): irregular per-user ping
    streams (positions keyed off event_id like the other trajectory
    fixtures) become positions at exact grid instants via linear
    interpolation over each bracketing ping pair — the stage that makes
    GPS streams joinable on time (e.g. with the colocate window join).
    Exact-integer grid index math; the single IEEE interpolation divide
    is replayed verbatim by the oracle."""
    from pyproj_spark.operators.lines import resample_tracks
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("user_id") % 5 == 0))
    pts = ev.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        ((F.col("event_id") * 31 % 70000) / 1000.0 - 15.0).alias("lon"),
        ((F.col("event_id") * 57 % 45000) / 1000.0 + 25.0).alias("lat"))
    return resample_tracks(pts, tiebreak_col="event_id")


SQL_RESAMPLE = """
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         (event_id * 31 % 70000) / 1000.0 - 15.0 AS lon,
         (event_id * 57 % 45000) / 1000.0 + 25.0 AS lat
  FROM events WHERE user_id % 5 = 0
),
seg AS (
  SELECT user_id, t_us, lon, lat,
         lead(t_us) OVER w AS t2,
         lead(lon)  OVER w AS lon2,
         lead(lat)  OVER w AS lat2
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
grid AS (
  SELECT user_id, t_us, t2, lon, lat, lon2, lat2,
         unnest(generate_series((t_us - t_us % 21600000000)
                                    // 21600000000 + 1,
                                (t2 - t2 % 21600000000)
                                    // 21600000000)) AS k
  FROM seg WHERE t2 > t_us
)
SELECT user_id, k * 21600000000 AS g_us,
       lon + (lon2 - lon) * (CAST(k * 21600000000 - t_us AS DOUBLE)
                             / CAST(t2 - t_us AS DOUBLE)) AS lon_g,
       lat + (lat2 - lat) * (CAST(k * 21600000000 - t_us AS DOUBLE)
                             / CAST(t2 - t_us AS DOUBLE)) AS lat_g
FROM grid
"""


QUERIES["resample_track"] = (q_resample, SQL_RESAMPLE)


# ------------------------------------------------ raster zonal stats

def q_zonal_stats(spark, sf_dir):
    """Raster zonal statistics (the classic map-algebra reduce): the
    point corpus rasterizes to a 1-degree integer grid (one hash agg),
    each cell CENTER runs through the gated PIP machinery
    (operators/pip.py::pip_join — broadcast zone rings + cell
    prefilter + exact even-odd test), and per-zone stats aggregate
    over covered cells. Composition of three gated stages; work after
    the raster agg is bounded by the grid size (360x170), never by
    corpus size. The oracle replays raster + even-odd + agg from raw
    coordinates, covering-blind."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor("lon").cast("long").alias("gx"),
                      F.floor("lat").cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    centers = ras.select(
        "gx", "gy", "cnt",
        (F.col("gx") + F.lit(0.5)).alias("lon"),
        (F.col("gy") + F.lit(0.5)).alias("lat"))
    hits = pip_join(centers, _zones_df(spark))
    return (hits.groupBy("zone_id")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("cnt").alias("total_pts"),
                 F.max("cnt").alias("max_cell"))
            .withColumn("mean_cell",
                        F.col("total_pts").cast("double")
                        / F.col("n_cells").cast("double")))


SQL_ZONAL = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon) AS BIGINT) AS gx,
         CAST(floor(lat) AS BIGINT) AS gy,
         CAST(count(*) AS BIGINT) AS cnt
  FROM pts GROUP BY 1, 2
),
cen AS (SELECT gx, gy, cnt, gx + 0.5 AS lon, gy + 0.5 AS lat FROM ras),
edges AS ({{edges}}),
hit AS (
  SELECT gx, gy, cnt, zone_id
  FROM cen p CROSS JOIN edges e
  GROUP BY gx, gy, cnt, zone_id, lon, lat
  HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                   AND lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                  THEN 1 ELSE 0 END) % 2 = 1
)
SELECT zone_id, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(cnt) AS BIGINT) AS total_pts,
       CAST(max(cnt) AS BIGINT) AS max_cell,
       CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_cell
FROM hit GROUP BY 1
""".format(edges=_zone_edges_sql())


QUERIES["zonal_stats"] = (q_zonal_stats, SQL_ZONAL)


# ------------------------------------------------ spherical centroid

def q_sph_centroid(spark, sf_dir):
    """Per-language spherical mean position + Fisher dispersion
    (operators/hotspot.py::spherical_centroids): the
    antimeridian-correct centroid (unit-vector mean, atan2 close) that
    planar cell_moments cannot provide. Trig components round to exact
    integer nano units per row before the ONE distributed sum, so the
    shuffle moves only longs and the closing atan2 runs on identical
    integers in both engines."""
    from pyproj_spark.operators.hotspot import spherical_centroids
    return spherical_centroids(_doc_points(spark, sf_dir), "lang")


SQL_SPH_CENTROID = f"""
WITH pts AS ({_PTS_SQL}),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(cos(radians(lat)) * cos(radians(lon)) * 1e9)
                       AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(cos(radians(lat)) * sin(radians(lon)) * 1e9)
                       AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(round(sin(radians(lat)) * 1e9) AS BIGINT))
             AS BIGINT) AS sz
  FROM pts GROUP BY 1
)
SELECT lang, n,
       degrees(atan2(CAST(sy AS DOUBLE), CAST(sx AS DOUBLE))) AS lon_c,
       degrees(atan2(CAST(sz AS DOUBLE),
                     sqrt(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                          + CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
           AS lat_c,
       sqrt(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
            + CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
            + CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
           / (CAST(n AS DOUBLE) * 1e9) AS r_bar
FROM agg
"""


QUERIES["sph_centroid"] = (q_sph_centroid, SQL_SPH_CENTROID)


# ------------------------------------------------ PBSM rect join

#: shared integer rect derivations (documents -> fat rects, events ->
#: small rects); multipliers keep id*k far below int64 even at corpus
#: ids (~1e14 headroom)
_RECT_A_SQL = """
  SELECT doc_id AS id,
         doc_id * 7919 % 320          AS x_lo,
         doc_id * 7919 % 320 + 3 + doc_id % 13  AS x_hi,
         doc_id * 104729 % 144        AS y_lo,
         doc_id * 104729 % 144 + 2 + doc_id % 11 AS y_hi
  FROM documents
"""
_RECT_B_SQL = """
  SELECT event_id AS id,
         event_id * 6151 % 340                 AS x_lo,
         event_id * 6151 % 340 + event_id % 4  AS x_hi,
         event_id * 3571 % 156                 AS y_lo,
         event_id * 3571 % 156 + event_id % 3  AS y_hi
  FROM events
"""


def _rects_a(spark, sf_dir):
    d = F.col("doc_id")
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"),
        (d * 7919 % 320).alias("x_lo"),
        (d * 7919 % 320 + 3 + d % 13).alias("x_hi"),
        (d * 104729 % 144).alias("y_lo"),
        (d * 104729 % 144 + 2 + d % 11).alias("y_hi"))


def _rects_b(spark, sf_dir):
    e = F.col("event_id")
    return _t(spark, sf_dir, "events").select(
        e.alias("id"),
        (e * 6151 % 340).alias("x_lo"),
        (e * 6151 % 340 + e % 4).alias("x_hi"),
        (e * 3571 % 156).alias("y_lo"),
        (e * 3571 % 156 + e % 3).alias("y_hi"))


def q_rect_join(spark, sf_dir):
    """PBSM rectangle-intersection join (operators/rectjoin.py): grid
    cells + hash equi-join + responsibility-cell dedup, the classic
    partition-based spatial-merge plan. The oracle is covering-BLIND
    (a plain non-equi theta join), so hash equality proves the cell
    decomposition finds every intersecting pair exactly once."""
    from pyproj_spark.operators.rectjoin import rect_join
    pairs = rect_join(_rects_a(spark, sf_dir), _rects_b(spark, sf_dir),
                      cell=32)
    return (pairs.groupBy(F.col("a_id").alias("id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("ix_area").alias("sum_area"),
                 F.max("ix_area").alias("max_area")))


SQL_RECT_JOIN = f"""
WITH a AS ({_RECT_A_SQL}), b AS ({_RECT_B_SQL}),
pairs AS (
  SELECT a.id AS a_id,
         (least(a.x_hi, b.x_hi) - greatest(a.x_lo, b.x_lo) + 1)
         * (least(a.y_hi, b.y_hi) - greatest(a.y_lo, b.y_lo) + 1)
             AS ix_area
  FROM a JOIN b
    ON a.x_lo <= b.x_hi AND b.x_lo <= a.x_hi
   AND a.y_lo <= b.y_hi AND b.y_lo <= a.y_hi
)
SELECT a_id AS id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ix_area) AS BIGINT) AS sum_area,
       CAST(max(ix_area) AS BIGINT) AS max_area
FROM pairs GROUP BY 1
"""


QUERIES["rect_join"] = (q_rect_join, SQL_RECT_JOIN)


# ------------------------------------------------ dissolve sweep

def q_union_area(spark, sf_dir):
    """Polygon/rect dissolve by scanline interval union
    (operators/sweep.py): per-row gaps-and-islands sweep — N
    overlapping shapes union in O(N log N), never a pairwise
    difference. The oracle replays the identical integer sweep, so
    island boundaries cannot flip."""
    from pyproj_spark.operators.sweep import union_by_row
    return union_by_row(_rects_a(spark, sf_dir))


SQL_UNION_AREA = f"""
WITH a AS ({_RECT_A_SQL}),
rws AS (
  SELECT id, x_lo, x_hi, unnest(generate_series(y_lo, y_hi)) AS y
  FROM a
),
m AS (
  SELECT y, id, x_lo, x_hi,
         CASE WHEN max(x_hi) OVER w IS NULL THEN 1
              WHEN x_lo > max(x_hi) OVER w THEN 1 ELSE 0 END AS ni
  FROM rws
  WINDOW w AS (PARTITION BY y ORDER BY x_lo, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
i AS (
  SELECT y, id, x_lo, x_hi,
         sum(ni) OVER (PARTITION BY y ORDER BY x_lo, id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
  FROM m
),
pi AS (
  SELECT y, island, min(x_lo) AS ilo, max(x_hi) AS ihi,
         count(*) AS n
  FROM i GROUP BY 1, 2
)
SELECT y, CAST(sum(n) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(ihi - ilo + 1) AS BIGINT) AS union_len
FROM pi GROUP BY 1
"""


QUERIES["union_area"] = (q_union_area, SQL_UNION_AREA)


# ------------------------------------------------ trajectory cleaning

def q_speed_filter(spark, sf_dir):
    """GPS spike filter (operators/lines.py::clean_tracks): per-user
    segment speeds from one lag window; the spike decision compares
    exact integer metres to vmax*dt so the flag boundary is
    engine-proof (metres, not mm: asin ulp error amplifies near
    antipodal segments). Output: per-user fix QA summary — the
    trajectory-cleaning stage every telemetry pipeline runs before
    map-matching."""
    from pyproj_spark.operators.lines import clean_tracks
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"))
    seg = clean_tracks(ev, vmax_ms=250.0)
    return (seg.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segs"),
                 F.sum("spike").cast("long").alias("n_spikes"),
                 F.sum(F.when(F.col("spike") == 0, F.col("dist_m"))
                       .otherwise(F.lit(0))).alias("clean_m")))


SQL_SPEED_FILTER = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         (event_id * 7919 % 360000) / 1000.0 - 180.0  AS lon,
         (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM events
),
seg AS (
  SELECT user_id, event_id, ts, lon, lat,
         lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2,
         lead(ts)  OVER w AS ts2
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
  SELECT user_id,
         CAST(round(2.0 * 6371008.8 * asin(sqrt(
             pow(sin((radians(lat2) - radians(lat)) / 2), 2)
             + cos(radians(lat)) * cos(radians(lat2))
               * pow(sin((radians(lon2) - radians(lon)) / 2), 2)
         ))) AS BIGINT) AS dist_m,
         CAST(floor(epoch(ts2)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) AS dt_s
  FROM seg WHERE lon2 IS NOT NULL
),
f AS (
  SELECT user_id, dist_m,
         CASE WHEN dist_m > greatest(dt_s, 1) * 250
              THEN 1 ELSE 0 END AS spike
  FROM d
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(spike) AS BIGINT) AS n_spikes,
       CAST(sum(CASE WHEN spike = 0 THEN dist_m ELSE 0 END) AS BIGINT)
           AS clean_m
FROM f GROUP BY 1
"""


QUERIES["speed_filter"] = (q_speed_filter, SQL_SPEED_FILTER)


# ------------------------------------------------ slerp waypoints

def q_line_interp(spark, sf_dir):
    """Spherical fractional interpolation (the distributed closed-form
    twin of G3 npts, kernels/geod.py): the point 1/4 and 3/4 of the way
    along each per-user segment by slerp on unit vectors — pure
    Catalyst trig, one window shuffle, no Python. Outputs integer
    0.1-millidegree units so library-level atan2 ulp differences
    cannot flip the hash."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (ev.withColumn("lon2", F.lead("lon").over(w))
             .withColumn("lat2", F.lead("lat").over(w))
             .filter(F.col("lon2").isNotNull()))
    r1, g1 = F.radians("lat"), F.radians("lon")
    r2, g2 = F.radians("lat2"), F.radians("lon2")
    x1, y1, z1 = F.cos(r1)*F.cos(g1), F.cos(r1)*F.sin(g1), F.sin(r1)
    x2, y2, z2 = F.cos(r2)*F.cos(g2), F.cos(r2)*F.sin(g2), F.sin(r2)
    dot = x1*x2 + y1*y2 + z1*z2
    om = F.acos(F.least(F.greatest(dot, F.lit(-1.0)), F.lit(1.0)))
    out = seg.filter(om > 1e-6)
    cols = []
    for tag, f in (("q1", 0.25), ("q3", 0.75)):
        a = F.sin((1.0 - f) * om) / F.sin(om)
        b = F.sin(f * om) / F.sin(om)
        px, py, pz = a*x1 + b*x2, a*y1 + b*y2, a*z1 + b*z2
        cols += [
            F.round(F.degrees(F.atan2(py, px)) * 1e4).cast("long")
             .alias(f"lon_{tag}"),
            F.round(F.degrees(F.atan2(pz, F.sqrt(px*px + py*py))) * 1e4)
             .cast("long").alias(f"lat_{tag}")]
    return out.select("user_id", F.col("event_id").alias("seg_id"), *cols)


SQL_LINE_INTERP = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         (event_id * 7919 % 360000) / 1000.0 - 180.0  AS lon,
         (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM events
),
seg AS (
  SELECT user_id, event_id, lon, lat,
         lead(lon) OVER w AS lon2, lead(lat) OVER w AS lat2
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
v AS (
  SELECT user_id, event_id,
         cos(radians(lat)) * cos(radians(lon)) AS x1,
         cos(radians(lat)) * sin(radians(lon)) AS y1,
         sin(radians(lat)) AS z1,
         cos(radians(lat2)) * cos(radians(lon2)) AS x2,
         cos(radians(lat2)) * sin(radians(lon2)) AS y2,
         sin(radians(lat2)) AS z2
  FROM seg WHERE lon2 IS NOT NULL
),
o AS (
  SELECT *, acos(least(greatest(x1*x2 + y1*y2 + z1*z2, -1.0), 1.0)) AS om
  FROM v
),
p AS (
  SELECT user_id, event_id, om, x1, y1, z1, x2, y2, z2,
         sin(0.75 * om) / sin(om) AS a1, sin(0.25 * om) / sin(om) AS b1,
         sin(0.25 * om) / sin(om) AS a3, sin(0.75 * om) / sin(om) AS b3
  FROM o WHERE om > 1e-6
)
SELECT user_id, event_id AS seg_id,
       CAST(round(degrees(atan2(a1*y1 + b1*y2, a1*x1 + b1*x2)) * 1e4)
            AS BIGINT) AS lon_q1,
       CAST(round(degrees(atan2(a1*z1 + b1*z2,
            sqrt(pow(a1*x1 + b1*x2, 2) + pow(a1*y1 + b1*y2, 2)))) * 1e4)
            AS BIGINT) AS lat_q1,
       CAST(round(degrees(atan2(a3*y1 + b3*y2, a3*x1 + b3*x2)) * 1e4)
            AS BIGINT) AS lon_q3,
       CAST(round(degrees(atan2(a3*z1 + b3*z2,
            sqrt(pow(a3*x1 + b3*x2, 2) + pow(a3*y1 + b3*y2, 2)))) * 1e4)
            AS BIGINT) AS lat_q3
FROM p
"""


QUERIES["line_interp"] = (q_line_interp, SQL_LINE_INTERP)


# ------------------------------------------------ Horn slope (terrain)

def q_dem_slope(spark, sf_dir):
    """Terrain analysis: Horn's-method gradient (the GIS slope/aspect
    kernel, Horn 1981) over the point-density raster treated as a DEM.
    Pure scatter-sum — each cell throws weighted contributions at its
    8 neighbours and one hash agg gathers dz/dx, dz/dy as EXACT
    integer sums (weights ±1/±2); no shifted self-joins, the same
    shape that made raster_blur and dist_transform scale. Output
    restricted to occupied cells (semi join with the raster)."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            if ox == 0 and oy == 0:
                continue
            wx = ox * (2 if oy == 0 else 1)
            wy = oy * (2 if ox == 0 else 1)
            offs.append(F.struct(F.lit(ox).alias("ox"),
                                 F.lit(oy).alias("oy"),
                                 F.lit(wx).alias("wx"),
                                 F.lit(wy).alias("wy")))
    sc = (ras.select("gx", "gy", "cnt",
                     F.explode(F.array(*offs)).alias("o"))
          .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                  (F.col("gy") - F.col("o.oy")).alias("ty"),
                  (F.col("cnt") * F.col("o.wx")).alias("cx"),
                  (F.col("cnt") * F.col("o.wy")).alias("cy")))
    grad = (sc.groupBy("tx", "ty")
            .agg(F.sum("cx").alias("dzdx"), F.sum("cy").alias("dzdy")))
    occupied = ras.select(F.col("gx").alias("tx"),
                          F.col("gy").alias("ty"))
    return (occupied.join(grad, ["tx", "ty"], "left")
            .select("tx", "ty",
                    F.coalesce("dzdx", F.lit(0)).alias("dzdx"),
                    F.coalesce("dzdy", F.lit(0)).alias("dzdy"))
            .withColumn("mag_l1",
                        F.abs(F.col("dzdx")) + F.abs(F.col("dzdy"))))


SQL_DEM_SLOPE = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
offs(ox, oy, wx, wy) AS (
  VALUES (-1,-1,-1,-1), (-1,0,-2,0), (-1,1,-1,1),
         (0,-1,0,-2),                (0,1,0,2),
         (1,-1,1,-1),  (1,0,2,0),   (1,1,1,1)
),
grad AS (
  SELECT gx - ox AS tx, gy - oy AS ty,
         CAST(sum(cnt * wx) AS BIGINT) AS dzdx,
         CAST(sum(cnt * wy) AS BIGINT) AS dzdy
  FROM ras CROSS JOIN offs
  GROUP BY 1, 2
)
SELECT r.gx AS tx, r.gy AS ty,
       coalesce(g.dzdx, 0) AS dzdx, coalesce(g.dzdy, 0) AS dzdy,
       abs(coalesce(g.dzdx, 0)) + abs(coalesce(g.dzdy, 0)) AS mag_l1
FROM ras r LEFT JOIN grad g ON g.tx = r.gx AND g.ty = r.gy
"""


QUERIES["dem_slope"] = (q_dem_slope, SQL_DEM_SLOPE)


def q_terrain_tpi(spark, sf_dir):
    """Topographic Position Index (Weiss 2001) and Terrain Ruggedness
    Index (Riley et al. 1999) over the point-density DEM: per occupied
    cell, TPI = z - mean(8-neighborhood z) and
    TRI = sqrt(sum (z - n_i)^2). Empty neighbor cells are elevation 0
    (the raster's natural zero), so both reduce to the EXACT integer
    moments S1 = sum n_i, S2 = sum n_i^2 gathered by the same
    scatter-sum shape as dem_slope/raster_blur — one explode + one
    hash agg, no 8-way shifted self-join; the only join is the
    occupied-cell gather. sum (z-n_i)^2 = 8 z^2 - 2 z S1 + S2
    stays in int64 (cnt <= corpus rows per 6-degree cell at sf0.1;
    at 100 TB the cell side shrinks with a zoom parameter, not the
    arithmetic)."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = [F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox in (-1, 0, 1) for oy in (-1, 0, 1)
            if not (ox == 0 and oy == 0)]
    sc = (ras.select("gx", "gy", "cnt",
                     F.explode(F.array(*offs)).alias("o"))
          .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                  (F.col("gy") - F.col("o.oy")).alias("ty"),
                  F.col("cnt").alias("n1"),
                  (F.col("cnt") * F.col("cnt")).alias("n2")))
    mom = (sc.groupBy("tx", "ty")
           .agg(F.sum("n1").alias("s1"), F.sum("n2").alias("s2")))
    z = F.col("cnt").cast("double")
    s1 = F.coalesce(F.col("s1"), F.lit(0)).cast("double")
    s2 = F.coalesce(F.col("s2"), F.lit(0)).cast("double")
    return (ras.join(mom, (F.col("gx") == F.col("tx"))
                     & (F.col("gy") == F.col("ty")), "left")
            .select(F.col("gx"), F.col("gy"), F.col("cnt").alias("z"),
                    (z - s1 / F.lit(8.0)).alias("tpi"),
                    F.sqrt(F.lit(8.0) * z * z - F.lit(2.0) * z * s1
                           + s2).alias("tri")))


SQL_TERRAIN_TPI = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
offs(ox, oy) AS (
  VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1), (1,-1), (1,0), (1,1)
),
mom AS (
  SELECT gx - ox AS tx, gy - oy AS ty,
         CAST(sum(cnt) AS BIGINT) AS s1,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2
  FROM ras CROSS JOIN offs
  GROUP BY 1, 2
)
SELECT r.gx, r.gy, r.cnt AS z,
       CAST(r.cnt AS DOUBLE)
           - CAST(coalesce(m.s1, 0) AS DOUBLE) / 8.0 AS tpi,
       sqrt(8.0 * CAST(r.cnt AS DOUBLE) * CAST(r.cnt AS DOUBLE)
            - 2.0 * CAST(r.cnt AS DOUBLE)
                  * CAST(coalesce(m.s1, 0) AS DOUBLE)
            + CAST(coalesce(m.s2, 0) AS DOUBLE)) AS tri
FROM ras r LEFT JOIN mom m ON m.tx = r.gx AND m.ty = r.gy
"""


QUERIES["terrain_tpi"] = (q_terrain_tpi, SQL_TERRAIN_TPI)


def q_focal_mode(spark, sf_dir):
    """Focal majority filter (GIS map-algebra "focal statistics:
    majority"): per occupied cell, the most frequent density value in
    its 3x3 neighborhood (self included), ties broken by the SMALLER
    value — fully deterministic. Same scatter shape as raster_blur:
    explode 9 offsets, hash-agg (cell, value) frequencies, then a
    cell-partitioned row_number window picks the mode; the window
    keys equal the agg keys so no extra exchange. Empty neighbors
    contribute nothing (majority over defined cells, the ArcGIS
    convention)."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = [F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox in (-1, 0, 1) for oy in (-1, 0, 1)]
    sc = (ras.select("gx", "gy", "cnt",
                     F.explode(F.array(*offs)).alias("o"))
          .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                  (F.col("gy") - F.col("o.oy")).alias("ty"),
                  F.col("cnt").alias("v")))
    freq = (sc.groupBy("tx", "ty", "v")
            .agg(F.count(F.lit(1)).alias("k")))
    w = Window.partitionBy("tx", "ty").orderBy(F.desc("k"), F.asc("v"))
    mode = (freq.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("tx", "ty", F.col("v").alias("mode_v"),
                    F.col("k").alias("mode_k")))
    return (ras.join(mode, (F.col("gx") == F.col("tx"))
                     & (F.col("gy") == F.col("ty")))
            .select("gx", "gy", "cnt", "mode_v", "mode_k"))


SQL_FOCAL_MODE = f"""
WITH pts AS ({_PTS_SQL}),
ras AS MATERIALIZED (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
offs(ox, oy) AS (
  VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,0), (0,1),
         (1,-1), (1,0), (1,1)
),
freq AS (
  SELECT gx - ox AS tx, gy - oy AS ty, cnt AS v, count(*) AS k
  FROM ras CROSS JOIN offs
  GROUP BY 1, 2, 3
),
mode AS (
  SELECT tx, ty, v AS mode_v, k AS mode_k,
         row_number() OVER (PARTITION BY tx, ty
                            ORDER BY k DESC, v ASC) AS rn
  FROM freq
)
SELECT r.gx, r.gy, r.cnt, m.mode_v, m.mode_k
FROM ras r JOIN mode m ON m.tx = r.gx AND m.ty = r.gy AND m.rn = 1
"""


QUERIES["focal_mode"] = (q_focal_mode, SQL_FOCAL_MODE)


def q_zone_diameter(spark, sf_dir):
    """Spatial-extent statistic: per coarse zone, the great-circle
    DIAMETER (max pairwise haversine distance) of the zone's points,
    computed over a deterministic per-zone member cap — rank by
    doc_id, keep the first 40 — so the pair stage is bounded at
    40^2 per zone regardless of corpus size (the band_cap pattern;
    an uncapped diameter would be quadratic in the hottest zone at
    100 TB). Output keeps both the true member count and the capped
    count so the approximation is visible. Whole-meter BIGINT
    diameter: cross-engine libm ulp wobble cannot flip the hash."""
    pts = _doc_points(spark, sf_dir).withColumn(
        "zone", F.floor(F.col("lon") / 30).cast("long") * 16
        + F.floor(F.col("lat") / 30).cast("long") + 8)
    n = pts.groupBy("zone").agg(F.count(F.lit(1)).alias("n_pts"))
    w = Window.partitionBy("zone").orderBy("doc_id")
    capped = (pts.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 40)
              .select("zone", "doc_id", "lon", "lat"))
    a = capped.select("zone", F.col("doc_id").alias("ia"),
                      F.col("lon").alias("lo_a"), F.col("lat").alias("la_a"))
    b = capped.select("zone", F.col("doc_id").alias("ib"),
                      F.col("lon").alias("lo_b"), F.col("lat").alias("la_b"))
    pairs = a.join(b, "zone").filter(F.col("ia") < F.col("ib"))
    hav = (F.pow(F.sin(F.radians(F.col("la_b") - F.col("la_a")) / 2), 2)
           + F.cos(F.radians("la_a")) * F.cos(F.radians("la_b"))
           * F.pow(F.sin(F.radians(F.col("lo_b") - F.col("lo_a")) / 2), 2))
    dist = 2.0 * 6371000.0 * F.asin(F.sqrt(hav))
    diam = (pairs.select("zone", dist.alias("d"))
            .groupBy("zone").agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.max("d")).cast("long").alias("diam_m")))
    return (n.join(diam, "zone", "left")
            .select("zone", "n_pts",
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                    F.coalesce("diam_m", F.lit(0)).alias("diam_m")))


SQL_ZONE_DIAMETER = f"""
WITH pts AS ({_PTS_SQL}),
z AS (
  SELECT doc_id, lon, lat,
         CAST(floor(lon / 30) AS BIGINT) * 16
           + CAST(floor(lat / 30) AS BIGINT) + 8 AS zone
  FROM pts
),
n AS (SELECT zone, count(*) AS n_pts FROM z GROUP BY 1),
capped AS (
  SELECT zone, doc_id, lon, lat
  FROM (SELECT *, row_number() OVER (PARTITION BY zone
                                     ORDER BY doc_id) AS rn FROM z)
  WHERE rn <= 40
),
pairs AS (
  SELECT a.zone,
         2.0 * 6371000.0 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2))) AS d
  FROM capped a JOIN capped b
    ON a.zone = b.zone AND a.doc_id < b.doc_id
),
diam AS (
  SELECT zone, count(*) AS n_pairs,
         CAST(round(max(d)) AS BIGINT) AS diam_m
  FROM pairs GROUP BY 1
)
SELECT n.zone, n.n_pts,
       coalesce(diam.n_pairs, 0) AS n_pairs,
       coalesce(diam.diam_m, 0) AS diam_m
FROM n LEFT JOIN diam ON diam.zone = n.zone
"""


QUERIES["zone_diameter"] = (q_zone_diameter, SQL_ZONE_DIAMETER)


# ------------------------------------------------ DTW route conformance

#: reference route in integer milli-degrees (driver literal; a route
#: TABLE would broadcast) — a diagonal sweep with a dogleg so warps
#: genuinely differ per user
_DTW_REF = [(-120000, -40000), (-80000, -20000), (-40000, 0),
            (0, 10000), (40000, 20000), (80000, 30000),
            (120000, 50000), (160000, 70000)]


def q_dtw_route(spark, sf_dir):
    """DTW route conformance (operators/dtw.py::dtw_to_reference):
    each user's first 6 fixes vs an 8-point reference route, exact
    int64 squared-milli-degree costs. The oracle unrolls the full
    6x8 DP lattice in chained nested SELECTs — every min/plus is
    replayed on identical integers."""
    from pyproj_spark.operators.dtw import dtw_to_reference
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        (F.col("event_id") * 7919 % 360000 - 180000).alias("x"),
        (F.col("event_id") * 104729 % 170000 - 85000).alias("y"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.withColumn("i", F.row_number().over(w))
          .filter(F.col("i") <= 6))
    six = (tr.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") == 6).select("user_id"))
    tracks = tr.join(six, "user_id", "left_semi")
    return dtw_to_reference(tracks, _DTW_REF)


def _dtw_sql() -> str:
    ref = _DTW_REF
    m = len(ref)

    def cost(j):
        rx, ry = ref[j - 1]
        return (f"(x - ({rx})) * (x - ({rx}))"
                f" + (y - ({ry})) * (y - ({ry}))")

    # row 1: cumulative along the reference
    inner = "SELECT user_id, x, y FROM tr WHERE i = 1"
    sel = f"SELECT *, {cost(1)} AS dp1 FROM ({inner})"
    for j in range(2, m + 1):
        sel = f"SELECT *, {cost(j)} + dp{j-1} AS dp{j} FROM ({sel})"
    ctes = [f"r1 AS (SELECT user_id, "
            f"{', '.join(f'dp{j}' for j in range(1, m+1))} FROM ({sel}))"]
    for i in range(2, 7):
        inner = (f"SELECT p.user_id, t.x, t.y, "
                 + ", ".join(f"p.dp{j} AS p{j}" for j in range(1, m + 1))
                 + f" FROM r{i-1} p JOIN tr t"
                 f" ON t.user_id = p.user_id AND t.i = {i}")
        sel = f"SELECT *, {cost(1)} + p1 AS dp1 FROM ({inner})"
        for j in range(2, m + 1):
            sel = (f"SELECT *, {cost(j)} + least(p{j}, p{j-1}, dp{j-1})"
                   f" AS dp{j} FROM ({sel})")
        ctes.append(
            f"r{i} AS (SELECT user_id, "
            f"{', '.join(f'dp{j}' for j in range(1, m+1))} FROM ({sel}))")
    return f"""
WITH ranked AS (
  SELECT user_id,
         event_id * 7919 % 360000 - 180000  AS x,
         event_id * 104729 % 170000 - 85000 AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
),
tr AS (
  SELECT * FROM ranked WHERE i <= 6
  AND user_id IN (SELECT user_id FROM ranked WHERE i = 6)
),
{', '.join(ctes)}
SELECT user_id, 6 AS n_pts, CAST(dp{m} AS BIGINT) AS dtw_cost
FROM r6
"""


QUERIES["dtw_route"] = (q_dtw_route, _dtw_sql())


def q_frechet(spark, sf_dir):
    """Discrete Frechet distance to the same 8-point reference route
    as dtw_route (operators/dtw.py::frechet_to_reference) — the
    bottleneck (max-leash) member of the trajectory triad. The oracle
    unrolls the same 6x8 lattice with greatest/least on identical
    int64 squared costs."""
    from pyproj_spark.operators.dtw import frechet_to_reference
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        (F.col("event_id") * 7919 % 360000 - 180000).alias("x"),
        (F.col("event_id") * 104729 % 170000 - 85000).alias("y"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.withColumn("i", F.row_number().over(w))
          .filter(F.col("i") <= 6))
    six = (tr.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
           .filter(F.col("n") == 6).select("user_id"))
    tracks = tr.join(six, "user_id", "left_semi")
    return frechet_to_reference(tracks, _DTW_REF)


def _frechet_sql() -> str:
    ref = _DTW_REF
    m = len(ref)

    def cost(j):
        rx, ry = ref[j - 1]
        return (f"(x - ({rx})) * (x - ({rx}))"
                f" + (y - ({ry})) * (y - ({ry}))")

    inner = "SELECT user_id, x, y FROM tr WHERE i = 1"
    sel = f"SELECT *, {cost(1)} AS dp1 FROM ({inner})"
    for j in range(2, m + 1):
        sel = (f"SELECT *, greatest({cost(j)}, dp{j-1}) AS dp{j}"
               f" FROM ({sel})")
    ctes = [f"r1 AS (SELECT user_id, "
            f"{', '.join(f'dp{j}' for j in range(1, m+1))} FROM ({sel}))"]
    for i in range(2, 7):
        inner = (f"SELECT p.user_id, t.x, t.y, "
                 + ", ".join(f"p.dp{j} AS p{j}" for j in range(1, m + 1))
                 + f" FROM r{i-1} p JOIN tr t"
                 f" ON t.user_id = p.user_id AND t.i = {i}")
        sel = f"SELECT *, greatest({cost(1)}, p1) AS dp1 FROM ({inner})"
        for j in range(2, m + 1):
            sel = (f"SELECT *, greatest({cost(j)},"
                   f" least(p{j}, p{j-1}, dp{j-1}))"
                   f" AS dp{j} FROM ({sel})")
        ctes.append(
            f"r{i} AS (SELECT user_id, "
            f"{', '.join(f'dp{j}' for j in range(1, m+1))} FROM ({sel}))")
    return f"""
WITH ranked AS (
  SELECT user_id,
         event_id * 7919 % 360000 - 180000  AS x,
         event_id * 104729 % 170000 - 85000 AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
),
tr AS (
  SELECT * FROM ranked WHERE i <= 6
  AND user_id IN (SELECT user_id FROM ranked WHERE i = 6)
),
{', '.join(ctes)}
SELECT user_id, 6 AS n_pts, CAST(dp{m} AS BIGINT) AS frechet_sq
FROM r6
"""


QUERIES["frechet"] = (q_frechet, _frechet_sql())


# ------------------------------------------------ 1-D range join

def q_range_join(spark, sf_dir):
    """Interval-overlap (range) join (operators/rangejoin.py): event
    activity intervals vs maintenance windows, decomposed into bucket
    equi-joins with responsibility-bucket dedup — the plan Spark
    would otherwise run as a BroadcastNestedLoopJoin. The oracle is
    decomposition-BLIND (DuckDB's native IEJoin on the raw overlap
    predicate), so hash equality proves every overlapping pair is
    found exactly once."""
    from pyproj_spark.operators.rangejoin import range_join
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.unix_timestamp("ts").alias("lo")).withColumn(
        "hi", F.col("lo") + F.col("id") % 600)
    base = 1704067200  # 2024-01-01, the events month
    win = (_t(spark, sf_dir, "orders")
           .filter(F.col("o_orderkey") % 4 == 0)
           .select(F.col("o_orderkey").alias("id"))
           .withColumn("lo", F.lit(base)
                       + (F.col("id") * 377) % (30 * 86400))
           .withColumn("hi", F.col("lo") + F.col("id") % 900))
    pairs = range_join(ev, win, bucket=900)
    return (pairs.groupBy(F.col("b_id").alias("win_id"))
            .agg(F.count(F.lit(1)).alias("n_overlaps"),
                 F.sum("ov_len").alias("total_overlap_s")))


SQL_RANGE_JOIN = """
WITH a AS (
  SELECT event_id AS id, CAST(floor(epoch(ts)) AS BIGINT) AS lo,
         CAST(floor(epoch(ts)) AS BIGINT) + event_id % 600 AS hi
  FROM events
),
b AS (
  SELECT o_orderkey AS id,
         1704067200 + (o_orderkey * 377) % (30 * 86400) AS lo,
         1704067200 + (o_orderkey * 377) % (30 * 86400)
             + o_orderkey % 900 AS hi
  FROM orders WHERE o_orderkey % 4 = 0
),
pairs AS (
  SELECT b.id AS win_id, least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1
             AS ov_len
  FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
)
SELECT win_id, CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(sum(ov_len) AS BIGINT) AS total_overlap_s
FROM pairs GROUP BY 1
"""


QUERIES["range_join"] = (q_range_join, SQL_RANGE_JOIN)


# -- molodensky: direct geodetic-domain datum shift (EPSG 9604) ------

# f_WGS84 - f_intl, computed once so the pipeline literal and the SQL
# expression produce the identical IEEE double
_MOLO_DF = 1.0 / 298.257223563 - 1.0 / 297.0
_MOLO_PIPE = (
    "+proj=pipeline "
    "+step +proj=unitconvert +xy_in=deg +xy_out=rad "
    "+step +proj=molodensky +ellps=intl +dx=-87 +dy=-96 +dz=-120 "
    f"+da=-251.0 +df={_MOLO_DF!r} "
    "+step +proj=unitconvert +xy_in=rad +xy_out=deg")


def q_molodensky(spark, sf_dir):
    """Full (non-abridged) Molodensky datum shift ED50->WGS84 driven as
    a ``+proj=molodensky`` pipeline step through the batched pipeline
    UDF (reference runs this PROJ step via Transformer.from_pipeline,
    ``pyproj/transformer.py:270-330``; method EPSG 9604). Exercises the
    ellipsoid-change terms (da, df) and the height-aware (M+h, N+h)
    divisors the cart->helmert->cart chain never touches. The oracle
    recomputes the EPSG Guidance Note 7-2 closed form in SQL."""
    from pyproj_spark.functions.transform import transform_pipeline
    pts = _doc_points(spark, sf_dir).select(
        "doc_id", "lon", (F.col("lat") * 0.94).alias("lat"),
        ((F.col("doc_id") % 2000) / 10.0).alias("h"))
    out = transform_pipeline(_MOLO_PIPE, F.col("lon"), F.col("lat"),
                             F.col("h"))
    return pts.withColumn("o", out).select(
        "doc_id",
        F.round(F.col("o.x"), 7).alias("lon_wgs"),
        F.round(F.col("o.y"), 7).alias("lat_wgs"),
        F.round(F.col("o.z"), 3).alias("h_wgs"))


SQL_MOLODENSKY = f"""
WITH pts AS ({_PTS_SQL}),
c AS (
  SELECT doc_id, radians(lon) AS lam, radians(lat * 0.94) AS phi,
         (doc_id % 2000) / 10.0 AS h
  FROM pts
),
k AS (
  SELECT doc_id, lam, phi, h,
         6378388.0 AS a, 1.0 / 297.0 AS f,
         (1.0 / 297.0) * (2.0 - 1.0 / 297.0) AS e2,
         -87.0 AS dx, -96.0 AS dy, -120.0 AS dz,
         -251.0 AS da, 1.0 / 298.257223563 - 1.0 / 297.0 AS df
  FROM c
),
g AS (
  SELECT *, sin(phi) AS s, cos(phi) AS cp,
         1.0 - e2 * sin(phi) * sin(phi) AS w2
  FROM k
),
r AS (
  SELECT *, a / sqrt(w2) AS nn,
         a * (1.0 - e2) / (w2 * sqrt(w2)) AS mm
  FROM g
),
d AS (
  SELECT doc_id, lam, phi, h,
         (-dx * s * cos(lam) - dy * s * sin(lam) + dz * cp
          + da * nn * e2 * s * cp / a
          + df * (mm / (1.0 - f) + nn * (1.0 - f)) * s * cp)
         / (mm + h) AS dphi,
         (-dx * sin(lam) + dy * cos(lam)) / ((nn + h) * cp) AS dlam,
         dx * cp * cos(lam) + dy * cp * sin(lam) + dz * s
          - da * a / nn + df * (1.0 - f) * nn * s * s AS dh
  FROM r
)
SELECT doc_id,
       round(degrees(lam + dlam), 7) AS lon_wgs,
       round(degrees(phi + dphi), 7) AS lat_wgs,
       round(h + dh, 3) AS h_wgs
FROM d
"""


QUERIES["molodensky"] = (q_molodensky, SQL_MOLODENSKY)


# -- hilbert: Hilbert-curve write layout (zorder's stronger twin) ----

def q_hilbert(spark, sf_dir):
    """Hilbert-curve write-layout keys over the corpus points, with the
    same 16-range-bucket bbox-extent proof as ``zorder`` — the two
    gated queries together let the layouts be compared bucket by
    bucket (Hilbert's unit-step path yields tighter extents, which is
    what min/max file pruning monetizes at 10^12 rows). Keys are a
    4-state automaton threaded through one named intermediate per bit
    level — linear plan, all inside WholeStageCodegen; the oracle
    replays the identical packed-constant arithmetic as chained CTEs.
    The global ntile window is gate scaffolding only (the production
    write path is repartitionByRange on the key, functions/hilbert.py).
    """
    from pyproj_spark.functions.hilbert import with_hilbert
    pts = _doc_points(spark, sf_dir)
    keyed = with_hilbert(pts, F.col("lon"), F.col("lat"), 10)
    w = Window.orderBy("hkey", "doc_id")
    return (keyed.withColumn("bucket", F.ntile(16).over(w))
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"),
                 F.min("hkey").alias("hmin"),
                 F.max("hkey").alias("hmax"),
                 F.round(F.max("lon") - F.min("lon"), 6)
                 .alias("lon_span"),
                 F.round(F.max("lat") - F.min("lat"), 6)
                 .alias("lat_span")))


def _hilbert_sql():
    from pyproj_spark.functions.hilbert import hilbert_sql
    return f"""
WITH pts AS (
  SELECT doc_id, lon, lat FROM ({_PTS_SQL})
),
{hilbert_sql(10, doc_cols="doc_id, lon, lat")},
b AS (
  SELECT p.doc_id, p.lon, p.lat, h.hkey,
         ntile(16) OVER (ORDER BY h.hkey, p.doc_id) AS bucket
  FROM pts p JOIN hil h USING (doc_id)
)
SELECT bucket, count(*) AS cnt, min(hkey) AS hmin, max(hkey) AS hmax,
       round(max(lon) - min(lon), 6) AS lon_span,
       round(max(lat) - min(lat), 6) AS lat_span
FROM b GROUP BY bucket
"""


QUERIES["hilbert"] = (q_hilbert, _hilbert_sql())


# -- flow_dir: D8 steepest-descent flow direction --------------------

#: ESRI D8 direction codes by neighbour offset (ox, oy) from the cell
_D8 = [(1, 0, 1), (1, -1, 2), (0, -1, 4), (-1, -1, 8),
       (-1, 0, 16), (-1, 1, 32), (0, 1, 64), (1, 1, 128)]


def q_flow_dir(spark, sf_dir):
    """Terrain hydrology: D8 flow direction (Jenson & Domingue 1988 /
    the ESRI encoding) over the point-density raster as a DEM. Each
    occupied cell flows to the steepest-DESCENT occupied neighbour;
    descent is compared with EXACT integers by weighting cardinal
    drops x10 and diagonal drops x7 (the 7/10 ~ 1/sqrt(2) integer
    distance convention), ties broken by the smallest direction code,
    pitless cells report 0. Same scatter-sum shape as dem_slope —
    one scatter explode, one cell-key equi-join, one argmax agg; no
    windowed self-joins, so the plan is the one you'd run on a
    10^12-point density raster."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("z")))
    offs = [F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"),
                     F.lit(code).alias("code"),
                     F.lit(10 if ox * oy == 0 else 7).alias("w"))
            for ox, oy, code in _D8]
    # scatter each cell's elevation to the 8 targets it neighbours
    nbr = (ras.select("gx", "gy", "z",
                      F.explode(F.array(*offs)).alias("o"))
           .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                   (F.col("gy") - F.col("o.oy")).alias("ty"),
                   F.col("z").alias("zn"),
                   F.col("o.code").alias("code"),
                   F.col("o.w").alias("w")))
    cells_t = ras.select(F.col("gx").alias("tx"),
                         F.col("gy").alias("ty"),
                         F.col("z").alias("zt"))
    # LEFT join: an occupied cell with no occupied neighbour is a pit
    # (it must appear with d8=0, not vanish)
    scored = (cells_t.join(nbr, ["tx", "ty"], "left")
              .select("tx", "ty", "zt",
                      ((F.col("zt") - F.col("zn")) * F.col("w"))
                      .alias("score"), "code"))
    # lexicographic (score desc, code asc) packed into one integer so
    # a plain max works in BOTH engines (DuckDB max_by takes no struct
    # key): key = score*256 + (255 - code); decode with pmod
    key = F.col("score") * 256 + (F.lit(255) - F.col("code"))
    best = (scored.groupBy("tx", "ty")
            .agg(F.max(key).alias("k"), F.max("zt").alias("z")))
    r = F.pmod(F.col("k"), F.lit(256))
    score = (F.col("k") - r) / 256
    return best.select(
        "tx", "ty", "z",
        F.when(F.col("k").isNotNull() & (score > 0), F.lit(255) - r)
        .otherwise(F.lit(0)).cast("int").alias("d8"),
        F.greatest(F.coalesce(score, F.lit(0.0)), F.lit(0.0))
        .cast("long").alias("drop_score"))


SQL_FLOW_DIR = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy, count(*) AS z
  FROM pts GROUP BY 1, 2
),
offs(ox, oy, code, w) AS (
  VALUES (1,0,1,10), (1,-1,2,7), (0,-1,4,10), (-1,-1,8,7),
         (-1,0,16,10), (-1,1,32,7), (0,1,64,10), (1,1,128,7)
),
nbr AS (
  SELECT gx - ox AS tx, gy - oy AS ty, z AS zn, code, w
  FROM ras CROSS JOIN offs
),
scored AS (
  SELECT t.gx AS tx, t.gy AS ty, t.z AS zt,
         (t.z - n.zn) * n.w AS score, n.code
  FROM ras t LEFT JOIN nbr n ON t.gx = n.tx AND t.gy = n.ty
),
best AS (
  SELECT tx, ty, max(zt) AS z,
         max(score * 256 + (255 - code)) AS k
  FROM scored GROUP BY tx, ty
),
dec AS (
  SELECT tx, ty, z, ((k % 256) + 256) % 256 AS r,
         (k - (((k % 256) + 256) % 256)) / 256 AS score
  FROM best
)
SELECT tx, ty, z,
       CAST(CASE WHEN score > 0 THEN 255 - r ELSE 0 END
            AS INTEGER) AS d8,
       CAST(greatest(coalesce(score, 0), 0) AS BIGINT) AS drop_score
FROM dec
"""


QUERIES["flow_dir"] = (q_flow_dir, SQL_FLOW_DIR)


def q_flow_accum(spark, sf_dir):
    """D8 flow ACCUMULATION (upstream contributing-cell counts, Jenson
    & Domingue 1988 — the step after flow_dir that yields stream
    networks/watersheds) over the point-density DEM. Every D8 edge
    descends strictly in z (flow_dir emits d8>0 only for a positive
    weighted drop), so the flow graph is a DAG and one z-descending
    sweep accumulates exactly: acc(v) = #cells whose flow path passes
    through v. Scale contract (the hotspot-module convention): the
    raster table is bounded by the grid resolution regardless of
    corpus size — the corpus-scale stage is the points->cells rollup,
    one hash aggregation — so the sweep runs driver-side on the
    bounded cell table, exactly like the pagerank/cc small-graph
    cutover. The oracle counts path ancestors with a recursive CTE."""
    code2off = {code: (ox, oy) for ox, oy, code in _D8}
    rows = q_flow_dir(spark, sf_dir).collect()
    acc = {(r.tx, r.ty): 0 for r in rows}
    # topological order = z descending (edges strictly decrease z)
    for r in sorted(rows, key=lambda r: (-r.z, r.tx, r.ty)):
        if r.d8 > 0:
            ox, oy = code2off[r.d8]
            tgt = (r.tx + ox, r.ty + oy)
            acc[tgt] += acc[(r.tx, r.ty)] + 1
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)
    out = [(r.tx, r.ty, r.z, r.d8, acc[(r.tx, r.ty)]) for r in rows]
    return spark.createDataFrame(
        out, StructType([StructField("tx", LongType()),
                         StructField("ty", LongType()),
                         StructField("z", LongType()),
                         StructField("d8", IntegerType()),
                         StructField("acc", LongType())]))


SQL_FLOW_ACCUM = f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy, count(*) AS z
  FROM pts GROUP BY 1, 2
),
offs(ox, oy, code, w) AS (
  VALUES (1,0,1,10), (1,-1,2,7), (0,-1,4,10), (-1,-1,8,7),
         (-1,0,16,10), (-1,1,32,7), (0,1,64,10), (1,1,128,7)
),
nbr AS (
  SELECT gx - ox AS tx, gy - oy AS ty, z AS zn, code, w
  FROM ras CROSS JOIN offs
),
scored AS (
  SELECT t.gx AS tx, t.gy AS ty, t.z AS zt,
         (t.z - n.zn) * n.w AS score, n.code
  FROM ras t LEFT JOIN nbr n ON t.gx = n.tx AND t.gy = n.ty
),
best AS (
  SELECT tx, ty, max(zt) AS z,
         max(score * 256 + (255 - code)) AS k
  FROM scored GROUP BY tx, ty
),
dec AS (
  SELECT tx, ty, z, ((k % 256) + 256) % 256 AS r,
         (k - (((k % 256) + 256) % 256)) / 256 AS score
  FROM best
),
fd AS (
  SELECT tx, ty, z,
         CAST(CASE WHEN score > 0 THEN 255 - r ELSE 0 END
              AS INTEGER) AS d8
  FROM dec
),
edges AS (
  SELECT f.tx AS sx, f.ty AS sy,
         f.tx + o.ox AS ex, f.ty + o.oy AS ey
  FROM fd f JOIN offs o ON o.code = f.d8
  WHERE f.d8 > 0
),
walk AS (
  SELECT sx, sy, ex AS cx, ey AS cy FROM edges
  UNION ALL
  SELECT w.sx, w.sy, e.ex, e.ey
  FROM walk w JOIN edges e ON e.sx = w.cx AND e.sy = w.cy
),
acc AS (SELECT cx AS tx, cy AS ty, count(*) AS acc
        FROM walk GROUP BY 1, 2)
SELECT f.tx, f.ty, CAST(f.z AS BIGINT) AS z, f.d8,
       CAST(coalesce(a.acc, 0) AS BIGINT) AS acc
FROM fd f LEFT JOIN acc a ON a.tx = f.tx AND a.ty = f.ty
"""


QUERIES["flow_accum"] = (q_flow_accum, SQL_FLOW_ACCUM)


def q_watershed(spark, sf_dir):
    """Watershed (drainage-basin) labeling: every DEM cell is tagged
    with the pit its D8 flow path terminates at — the segmentation
    that turns flow_dir into catchments. The flow graph is FUNCTIONAL
    (<= 1 outgoing edge), so this is the redirect_chains shape:
    pointer DOUBLING over (cell -> D8 target) edges, O(log max_path)
    shuffles instead of one per hop (operators/redirects.py) — the
    genuinely distributed path, no driver sweep. Cells pack into
    positive longs ((tx+1000)*10000 + ty+1000) so the doubling table
    is a plain long equi-join; isolated pits (no in-edges) label
    themselves. The oracle walks each cell to its terminal with a
    recursive CTE."""
    from pyproj_spark.operators.redirects import resolve_redirects
    fd = q_flow_dir(spark, sf_dir).select("tx", "ty", "z", "d8")
    off_x = F.create_map(*[F.lit(v) for c in _D8
                           for v in (c[2], c[0])])[F.col("d8")]
    off_y = F.create_map(*[F.lit(v) for c in _D8
                           for v in (c[2], c[1])])[F.col("d8")]

    def enc(tx, ty):
        return (tx + 1000) * 10000 + (ty + 1000)

    edges = (fd.filter(F.col("d8") > 0)
             .select(enc(F.col("tx"), F.col("ty")).alias("src"),
                     enc(F.col("tx") + off_x,
                         F.col("ty") + off_y).alias("dst")))
    res = resolve_redirects(edges, max_hops=1024)
    lab = res.select(F.col("url").alias("cid"),
                     F.col("target").alias("bid"))
    cells = fd.select("tx", "ty", "z",
                      enc(F.col("tx"), F.col("ty")).alias("cid"))
    out = (cells.join(F.broadcast(lab), "cid", "left")
           .withColumn("bid", F.coalesce("bid", F.col("cid"))))
    return out.select(
        "tx", "ty", "z",
        (F.floor(F.col("bid") / 10000) - 1000).cast("long").alias("btx"),
        (F.col("bid") % 10000 - 1000).cast("long").alias("bty"))


SQL_WATERSHED = f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy, count(*) AS z
  FROM pts GROUP BY 1, 2
),
offs(ox, oy, code, w) AS (
  VALUES (1,0,1,10), (1,-1,2,7), (0,-1,4,10), (-1,-1,8,7),
         (-1,0,16,10), (-1,1,32,7), (0,1,64,10), (1,1,128,7)
),
nbr AS (
  SELECT gx - ox AS tx, gy - oy AS ty, z AS zn, code, w
  FROM ras CROSS JOIN offs
),
scored AS (
  SELECT t.gx AS tx, t.gy AS ty, t.z AS zt,
         (t.z - n.zn) * n.w AS score, n.code
  FROM ras t LEFT JOIN nbr n ON t.gx = n.tx AND t.gy = n.ty
),
best AS (
  SELECT tx, ty, max(zt) AS z,
         max(score * 256 + (255 - code)) AS k
  FROM scored GROUP BY tx, ty
),
dec AS (
  SELECT tx, ty, z, ((k % 256) + 256) % 256 AS r,
         (k - (((k % 256) + 256) % 256)) / 256 AS score
  FROM best
),
fd AS (
  SELECT tx, ty, z,
         CAST(CASE WHEN score > 0 THEN 255 - r ELSE 0 END
              AS INTEGER) AS d8
  FROM dec
),
walk AS (
  SELECT tx, ty, tx AS cx, ty AS cy FROM fd
  UNION ALL
  SELECT w.tx, w.ty, f2.tx + o.ox, f2.ty + o.oy
  FROM walk w
  JOIN fd f2 ON f2.tx = w.cx AND f2.ty = w.cy AND f2.d8 > 0
  JOIN offs o ON o.code = f2.d8
),
term AS (
  SELECT w.tx, w.ty, w.cx AS btx, w.cy AS bty
  FROM walk w JOIN fd p ON p.tx = w.cx AND p.ty = w.cy AND p.d8 = 0
)
SELECT f.tx, f.ty, CAST(f.z AS BIGINT) AS z,
       t.btx, t.bty
FROM fd f JOIN term t ON t.tx = f.tx AND t.ty = f.ty
"""


QUERIES["watershed"] = (q_watershed, SQL_WATERSHED)


def q_flow_length(spark, sf_dir):
    """Flow-path length to outlet: each cell's D8 path distance to its
    pit in the 10/7 integer metric (cardinal/diagonal — the flow_dir
    convention, ~x10 cell widths). The hydrological 'time to outlet'
    surface. Distributed shape: pointer doubling WITH accumulated edge
    weight (operators/redirects.py::resolve_with_distance) — each
    round squares the horizon and adds the far half's distance, so a
    10^6-cell raster resolves in ~10 shuffles. Oracle: recursive walk
    summing the same integer weights."""
    from pyproj_spark.operators.redirects import resolve_with_distance
    fd = q_flow_dir(spark, sf_dir).select("tx", "ty", "z", "d8")
    off_x = F.create_map(*[F.lit(v) for c in _D8
                           for v in (c[2], c[0])])[F.col("d8")]
    off_y = F.create_map(*[F.lit(v) for c in _D8
                           for v in (c[2], c[1])])[F.col("d8")]
    stepw = F.when(F.col("d8").isin(1, 4, 16, 64), F.lit(10)) \
        .otherwise(F.lit(7))

    def enc(tx, ty):
        return (tx + 1000) * 10000 + (ty + 1000)

    edges = (fd.filter(F.col("d8") > 0)
             .select(enc(F.col("tx"), F.col("ty")).alias("src"),
                     enc(F.col("tx") + off_x,
                         F.col("ty") + off_y).alias("dst"),
                     stepw.alias("w")))
    res = resolve_with_distance(edges, max_hops=1024)
    lab = res.select(F.col("node").alias("cid"), "dist")
    cells = fd.select("tx", "ty", "z",
                      enc(F.col("tx"), F.col("ty")).alias("cid"))
    return (cells.join(F.broadcast(lab), "cid", "left")
            .select("tx", "ty", "z",
                    F.coalesce("dist", F.lit(0)).cast("long")
                    .alias("flow_len")))


def _flow_length_sql():
    # reuse the watershed CTE chain up to fd, then walk with weights
    head = SQL_WATERSHED.split("walk AS")[0]
    return head + """walk AS (
  SELECT tx, ty, tx AS cx, ty AS cy, CAST(0 AS BIGINT) AS d FROM fd
  UNION ALL
  SELECT w.tx, w.ty, f2.tx + o.ox, f2.ty + o.oy,
         w.d + (CASE WHEN f2.d8 IN (1, 4, 16, 64)
                     THEN 10 ELSE 7 END)
  FROM walk w
  JOIN fd f2 ON f2.tx = w.cx AND f2.ty = w.cy AND f2.d8 > 0
  JOIN offs o ON o.code = f2.d8
),
term AS (
  SELECT w.tx, w.ty, w.d
  FROM walk w JOIN fd p ON p.tx = w.cx AND p.ty = w.cy AND p.d8 = 0
)
SELECT f.tx, f.ty, CAST(f.z AS BIGINT) AS z,
       CAST(t.d AS BIGINT) AS flow_len
FROM fd f JOIN term t ON t.tx = f.tx AND t.ty = f.ty
"""


QUERIES["flow_length"] = (q_flow_length, _flow_length_sql())


def q_vw_filter(spark, sf_dir):
    """One-pass Visvalingam-Whyatt effective-area screen (Visvalingam
    & Whyatt 1993): drop every interior vertex whose triangle with its
    immediate neighbours has 2*area below threshold — the
    area-significance complement to Douglas-Peucker's offset metric
    (q_simplify). This is the bounded ONE-PASS screening variant
    (iterative VW re-evaluates areas after each removal — a sequential
    priority queue, the wrong shape for a cluster; the one-pass screen
    is the standard distributed pre-filter). Integer milli coords make
    2*area an exact long cross product; one key-partitioned window,
    no self-joins."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (ev.withColumn("seq", F.row_number().over(w))
           .filter(F.col("seq") <= 33)
           .select("user_id", F.col("seq").cast("long").alias("seq"),
                   (F.col("seq") * 1000).cast("long").alias("x"),
                   (F.col("event_id") * 7919 % 100000).cast("long")
                   .alias("y")))
    ws = Window.partitionBy("user_id").orderBy("seq")
    x0, y0 = F.lag("x").over(ws), F.lag("y").over(ws)
    x2, y2 = F.lead("x").over(ws), F.lead("y").over(ws)
    area2 = F.abs((F.col("x") - x0) * (y2 - y0)
                  - (x2 - x0) * (F.col("y") - y0))
    staged = pts.withColumn("eff2", area2)
    return (staged
            .filter(F.col("eff2").isNull()
                    | (F.col("eff2") >= 2000000))
            .select("user_id", "seq", "x", "y",
                    F.coalesce("eff2", F.lit(0)).cast("long")
                    .alias("eff2")))


SQL_VW = """
WITH pts AS (
  SELECT user_id, seq, seq * 1000 AS x,
         event_id * 7919 % 100000 AS y
  FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS seq
    FROM events
  ) WHERE seq <= 33
),
eff AS (
  SELECT user_id, seq, x, y,
         abs((x - lag(x) OVER w) * (lead(y) OVER w - lag(y) OVER w)
             - (lead(x) OVER w - lag(x) OVER w) * (y - lag(y) OVER w))
             AS eff2
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY seq)
)
SELECT user_id, CAST(seq AS BIGINT) AS seq,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(coalesce(eff2, 0) AS BIGINT) AS eff2
FROM eff WHERE eff2 IS NULL OR eff2 >= 2000000
"""

QUERIES["vw_filter"] = (q_vw_filter, SQL_VW)


def q_hillshade(spark, sf_dir):
    """Analytical hillshade (Horn 1981 gradient -> slope/aspect ->
    Lambertian illumination, the standard ESRI/GDAL formula with a
    NW sun at 45 deg altitude) over the point-density DEM. Reuses the
    dem_slope scatter-sum plan (exact integer dz/dx, dz/dy via
    8-neighbour weighted contributions + ONE hash agg — no shifted
    self-joins), then closed-form trig entirely in native Catalyst.
    Both engines evaluate the identical formula; outputs rounded to
    6 decimals so the libm-ulp tier is far from the hash boundary."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            if ox == 0 and oy == 0:
                continue
            wx = ox * (2 if oy == 0 else 1)
            wy = oy * (2 if ox == 0 else 1)
            offs.append(F.struct(F.lit(ox).alias("ox"),
                                 F.lit(oy).alias("oy"),
                                 F.lit(wx).alias("wx"),
                                 F.lit(wy).alias("wy")))
    sc = (ras.select("gx", "gy", "cnt",
                     F.explode(F.array(*offs)).alias("o"))
          .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                  (F.col("gy") - F.col("o.oy")).alias("ty"),
                  (F.col("cnt") * F.col("o.wx")).alias("cx"),
                  (F.col("cnt") * F.col("o.wy")).alias("cy")))
    grad = (sc.groupBy("tx", "ty")
            .agg(F.sum("cx").alias("sdx"), F.sum("cy").alias("sdy")))
    g = (ras.select(F.col("gx").alias("tx"), F.col("gy").alias("ty"))
         .join(grad, ["tx", "ty"], "left")
         .select("tx", "ty",
                 F.coalesce("sdx", F.lit(0)).cast("double").alias("dzdx"),
                 F.coalesce("sdy", F.lit(0)).cast("double").alias("dzdy")))
    # z-factor folded into Horn's 1/8 divisor; zenith 45deg, azimuth
    # 315deg (NW) measured like GDAL: az_rad = 2*pi - az + pi/2
    slope = F.atan(F.sqrt(F.col("dzdx") * F.col("dzdx")
                          + F.col("dzdy") * F.col("dzdy")) / 8.0)
    aspect = F.atan2(F.col("dzdy"), -F.col("dzdx"))
    import math
    azr = F.lit(2.0 * math.pi - math.radians(315.0) + math.pi / 2.0)
    zen = F.lit(math.radians(45.0))
    shade = 255.0 * (F.cos(zen) * F.cos(slope)
                     + F.sin(zen) * F.sin(slope) * F.cos(azr - aspect))
    return g.select(
        "tx", "ty",
        F.col("dzdx").cast("long").alias("dzdx"),
        F.col("dzdy").cast("long").alias("dzdy"),
        F.round(F.degrees(slope), 6).alias("slope_deg"),
        F.round(shade, 6).alias("shade"))


SQL_HILLSHADE = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
offs(ox, oy, wx, wy) AS (
  VALUES (-1,-1,-1,-1), (-1,0,-2,0), (-1,1,-1,1),
         (0,-1,0,-2),                (0,1,0,2),
         (1,-1,1,-1),  (1,0,2,0),   (1,1,1,1)
),
grad AS (
  SELECT gx - ox AS tx, gy - oy AS ty,
         sum(cnt * wx) AS sdx, sum(cnt * wy) AS sdy
  FROM ras CROSS JOIN offs GROUP BY 1, 2
),
g AS (
  SELECT r.gx AS tx, r.gy AS ty,
         CAST(coalesce(grad.sdx, 0) AS DOUBLE) AS dzdx,
         CAST(coalesce(grad.sdy, 0) AS DOUBLE) AS dzdy
  FROM ras r LEFT JOIN grad ON r.gx = grad.tx AND r.gy = grad.ty
),
trig AS (
  SELECT tx, ty, dzdx, dzdy,
         atan(sqrt(dzdx * dzdx + dzdy * dzdy) / 8.0) AS slope,
         atan2(dzdy, -dzdx) AS aspect
  FROM g
)
SELECT tx, ty, CAST(dzdx AS BIGINT) AS dzdx, CAST(dzdy AS BIGINT) AS dzdy,
       round(slope * 180.0 / pi(), 6) AS slope_deg,
       round(255.0 * (cos(pi() / 4) * cos(slope)
             + sin(pi() / 4) * sin(slope)
               * cos(2 * pi() - 315.0 * pi() / 180.0 + pi() / 2
                     - aspect)), 6) AS shade
FROM trig
"""

QUERIES["hillshade"] = (q_hillshade, SQL_HILLSHADE)


def q_viewshed(spark, sf_dir):
    """Viewshed / line-of-sight over the density DEM: from the densest
    cell (the observer, eye height +2), every occupied cell within
    Chebyshev radius 10 is tested against the max elevation angle of
    the cells sampled along the sightline (rounded-fraction stepping,
    one sample per Chebyshev ring). The blocked test is EXACT — the
    angle comparison (z_s-oz)/sqrt(ds2) >= (z_t-oz)/sqrt(dt2) is done
    by sign-split cross-multiplication of squared integers, never a
    float sqrt — so DuckDB gates it bit-for-bit. Plan shape: bounded
    fan-out (<= (2R+1)^2 targets x <= R-1 samples), one equi-join of
    samples against the raster, one hash agg per target; the observer
    row is a broadcast cross join. At 100 TB the raster is the
    aggregated density table (cells, not points) and R is fixed, so
    the whole viewshed is O(cells in the window)."""
    R = 10
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("z")))
    obs = (ras.orderBy(F.col("z").desc(), "gx", "gy").limit(1)
           .select(F.col("gx").alias("ox"), F.col("gy").alias("oy"),
                   (F.col("z") + 2).alias("oz")))
    t = (ras.crossJoin(F.broadcast(obs))
         .withColumn("dx", F.col("gx") - F.col("ox"))
         .withColumn("dy", F.col("gy") - F.col("oy"))
         .withColumn("n", F.greatest(F.abs("dx"), F.abs("dy")))
         .filter((F.col("n") >= 1) & (F.col("n") <= R)))
    # interior samples at rounded fractions k/n, k = 1..n-1
    s = (t.filter(F.col("n") >= 2)
         .select("gx", "gy", "z", "ox", "oy", "oz", "dx", "dy", "n",
                 F.explode(F.sequence(F.lit(1), F.col("n") - 1))
                 .alias("k"))
         .withColumn("sx", F.col("ox") + F.floor(
             (2.0 * F.col("k") * F.col("dx") + F.col("n"))
             / (2.0 * F.col("n"))).cast("long"))
         .withColumn("sy", F.col("oy") + F.floor(
             (2.0 * F.col("k") * F.col("dy") + F.col("n"))
             / (2.0 * F.col("n"))).cast("long")))
    zs = ras.select(F.col("gx").alias("sx"), F.col("gy").alias("sy"),
                    F.col("z").alias("zs"))
    s = (s.join(zs, ["sx", "sy"], "left")
         .withColumn("zs", F.coalesce("zs", F.lit(0)))
         .withColumn("ds2", (F.col("sx") - F.col("ox"))
                     * (F.col("sx") - F.col("ox"))
                     + (F.col("sy") - F.col("oy"))
                     * (F.col("sy") - F.col("oy")))
         .withColumn("dt2", F.col("dx") * F.col("dx")
                     + F.col("dy") * F.col("dy"))
         .withColumn("a", F.col("zs") - F.col("oz"))
         .withColumn("b", F.col("z") - F.col("oz")))
    blocked = (F.when((F.col("a") >= 0) & (F.col("b") < 0), F.lit(1))
               .when((F.col("a") < 0) & (F.col("b") >= 0), F.lit(0))
               .when((F.col("a") >= 0) & (F.col("b") >= 0),
                     (F.col("a") * F.col("a") * F.col("dt2")
                      >= F.col("b") * F.col("b") * F.col("ds2"))
                     .cast("int"))
               .otherwise((F.col("a") * F.col("a") * F.col("dt2")
                           <= F.col("b") * F.col("b") * F.col("ds2"))
                          .cast("int")))
    blk = (s.withColumn("blk", blocked)
           .groupBy("gx", "gy").agg(F.max("blk").alias("blocked")))
    return (t.join(blk, ["gx", "gy"], "left")
            .select("gx", "gy", "z", "n",
                    (F.coalesce(F.col("blocked"), F.lit(0)) == 0)
                    .cast("int").alias("visible")))


SQL_VIEWSHED = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS z
  FROM pts GROUP BY 1, 2
),
obs AS (
  SELECT gx AS ox, gy AS oy, z + 2 AS oz
  FROM ras ORDER BY z DESC, gx, gy LIMIT 1
),
t AS (
  SELECT gx, gy, z, ox, oy, oz, gx - ox AS dx, gy - oy AS dy,
         greatest(abs(gx - ox), abs(gy - oy)) AS n
  FROM ras CROSS JOIN obs
  WHERE greatest(abs(gx - ox), abs(gy - oy)) BETWEEN 1 AND 10
),
s AS (
  SELECT t.*, k,
         ox + CAST(floor((2.0 * k * dx + n) / (2.0 * n)) AS BIGINT)
           AS sx,
         oy + CAST(floor((2.0 * k * dy + n) / (2.0 * n)) AS BIGINT)
           AS sy
  FROM t, unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS u(k)
  WHERE n >= 2
),
j AS (
  SELECT s.gx, s.gy,
         coalesce(r.z, 0) - s.oz AS a, s.z - s.oz AS b,
         (s.sx - s.ox) * (s.sx - s.ox)
           + (s.sy - s.oy) * (s.sy - s.oy) AS ds2,
         s.dx * s.dx + s.dy * s.dy AS dt2
  FROM s LEFT JOIN ras r ON s.sx = r.gx AND s.sy = r.gy
),
blk AS (
  SELECT gx, gy, max(CASE
    WHEN a >= 0 AND b < 0 THEN 1
    WHEN a < 0 AND b >= 0 THEN 0
    WHEN a >= 0 AND b >= 0 THEN
      CASE WHEN a * a * dt2 >= b * b * ds2 THEN 1 ELSE 0 END
    ELSE CASE WHEN a * a * dt2 <= b * b * ds2 THEN 1 ELSE 0 END
  END) AS blocked
  FROM j GROUP BY 1, 2
)
SELECT t.gx, t.gy, t.z, t.n,
       CAST(CASE WHEN coalesce(blk.blocked, 0) = 0
            THEN 1 ELSE 0 END AS INTEGER) AS visible
FROM t LEFT JOIN blk ON t.gx = blk.gx AND t.gy = blk.gy
"""

QUERIES["viewshed"] = (q_viewshed, SQL_VIEWSHED)


def q_kmv_sketch(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k theta) cardinality sketch per
    event type, next to the exact count — the third deterministic
    cardinality estimator in the sketch family (HLL registers and
    linear counting are already gated). The sketch state is the k=64
    smallest md5-derived hash values per group: mergeable, fixed-size,
    and computed with one distinct + one bounded per-group top-k —
    the 100-TB shape for approximate COUNT(DISTINCT) when register
    precision must be tunable after the fact (theta sketches support
    set ops HLL cannot). Estimator: (k-1) * 2^32 / h_k, exact count
    below k. DuckDB replays hashing, ranking, and the estimator."""
    ev = _t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("long")
    dist = (ev.select("event_type", h.alias("h")).distinct())
    w = Window.partitionBy("event_type").orderBy("h")
    topk = (dist.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 64))
    est = (topk.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_seen"),
                F.max("h").alias("kth")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    kmv = F.when(F.col("n_seen") < 64, F.col("n_seen").cast("double")) \
        .otherwise(F.floor(63.0 * 4294967296.0 / F.col("kth"))
                   .cast("double"))
    return (est.join(exact, "event_type")
            .select("event_type", "n_exact", "n_seen", "kth",
                    kmv.alias("kmv_est")))


SQL_KMV_SKETCH = """
WITH dist AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
topk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM dist
),
est AS (
  SELECT event_type, count(*) AS n_seen, max(h) AS kth
  FROM topk WHERE rk <= 64 GROUP BY 1
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1
)
SELECT est.event_type, exact.n_exact, est.n_seen, est.kth,
       CASE WHEN est.n_seen < 64 THEN CAST(est.n_seen AS DOUBLE)
            ELSE floor(63.0 * 4294967296.0 / est.kth) END AS kmv_est
FROM est JOIN exact ON est.event_type = exact.event_type
"""

QUERIES["kmv_sketch"] = (q_kmv_sketch, SQL_KMV_SKETCH)


def q_bot_score(spark, sf_dir):
    """Bot / automated-traffic detection from access-log timing — the
    crawl-analytics classic: real users have bursty inter-arrival
    times, bots are metronomes. Per user (key-partitioned window, no
    global sort): exact integer micro-second gap sums Sg and Sg2 via
    lag, then the squared coefficient of variation cv2 =
    (k*Sg2 - Sg^2) / Sg^2 derived in doubles from those EXACT integer
    sums (never a float stddev whose aggregation order could drift),
    request rate from the span. Flag: >= 20 events and cv2 < 0.5.
    Everything replays in DuckDB value-for-value."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_id")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    # whole-second gaps: squared micro-second gaps would overflow
    # int64 at month spans (Spark wraps silently, DuckDB raises —
    # the q_hll_pyramid lesson); t_us < 2^53 so the double division
    # is exact and floor() agrees bit-for-bit across engines
    gap = F.floor((F.col("t_us") - F.lag("t_us").over(w)) / 1000000.0) \
        .cast("long")
    g = ev.withColumn("gap", gap).filter(F.col("gap").isNotNull())
    agg = (g.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("k"),
                F.sum("gap").alias("sg"),
                F.sum(F.col("gap") * F.col("gap")).alias("sg2")))
    # all post-sum arithmetic in doubles: products of the exact
    # integer sums exceed 2^53, but IEEE products of identical
    # doubles are identical in both engines
    kd = F.col("k").cast("double")
    sgd = F.col("sg").cast("double")
    sg2d = F.col("sg2").cast("double")
    cv2 = F.when(F.col("sg") > 0,
                 F.round((kd * sg2d - sgd * sgd) / (sgd * sgd), 6)) \
        .otherwise(F.lit(None).cast("double"))
    return (agg.select("user_id", (F.col("k") + 1).alias("n_events"),
                       "sg", "sg2", cv2.alias("cv2"))
            .withColumn("is_bot",
                        F.coalesce(((F.col("n_events") >= 20)
                                    & (F.col("cv2") < 0.5)).cast("int"),
                                   F.lit(0))))


SQL_BOT_SCORE = """
WITH g AS (
  SELECT user_id,
         CAST(floor((epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
           / 1000000.0) AS BIGINT) AS gap
  FROM events
),
agg AS (
  SELECT user_id, count(*) AS k,
         CAST(sum(gap) AS BIGINT) AS sg,
         CAST(sum(gap * gap) AS BIGINT) AS sg2
  FROM g WHERE gap IS NOT NULL GROUP BY 1
),
scored AS (
  SELECT user_id, k + 1 AS n_events, sg, sg2,
         CASE WHEN sg > 0 THEN
           round((CAST(k AS DOUBLE) * CAST(sg2 AS DOUBLE)
                  - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                 / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)), 6)
         END AS cv2
  FROM agg
)
SELECT user_id, n_events, sg, sg2, cv2,
       CAST(CASE WHEN n_events >= 20 AND cv2 < 0.5
            THEN 1 ELSE 0 END AS INTEGER) AS is_bot
FROM scored
"""

QUERIES["bot_score"] = (q_bot_score, SQL_BOT_SCORE)


def q_geom_valid(spark, sf_dir):
    """Geometry validity kernel (the ST_IsValid core): exact
    self-intersection and winding tests on polygons assembled from
    doc points, entirely in INTEGER milli-degree arithmetic — every
    orientation predicate is a BIGINT cross product with sign-split
    comparisons (never o1*o2, whose product overflows int64), so the
    DuckDB replay is bit-identical with no epsilon anywhere. Per
    polygon (<= 8 vertices, doc_id order — a deliberately wiggly mix
    of valid and bowtie shapes): non-adjacent edge pairs via array
    HOFs (bounded C(8,2), no join), strict proper-intersection
    counts, plus the exact shoelace 2*area and winding direction.
    Scale shape: one groupBy gid + per-row bounded HOFs; polygons
    with millions of vertices would swap the HOF for the cell-join
    sweep in operators/sweep.py."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 37).alias("gid"),
        (F.col("doc_id") * 7919 % 360000).alias("ix"),
        (F.col("doc_id") * 104729 % 170000).alias("iy"))
    w = Window.partitionBy("gid").orderBy("doc_id")
    verts = (d.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 8))
    poly = (verts.groupBy("gid")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("doc_id", "ix", "iy"))),
                lambda s: F.struct(s["ix"].alias("ix"),
                                   s["iy"].alias("iy"))).alias("vs"))
            .filter(F.size("vs") >= 3))
    vs = F.col("vs")
    n = F.size(vs)

    def vat(i):  # 1-based element_at on the vertex array
        return F.element_at(vs, (i + 1).cast("int"))

    def orient(a, b, c):
        return ((b["ix"] - a["ix"]) * (c["iy"] - a["iy"])
                - (b["iy"] - a["iy"]) * (c["ix"] - a["ix"]))

    def opp(o1, o2):  # strict opposite signs without multiplying
        return ((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0))

    def pair_hits(i):
        # edges j in [i+2, n-1], excluding (0, n-1) which are adjacent
        jmax = F.when(i == 0, n - 2).otherwise(n - 1)
        return F.size(F.filter(
            F.sequence(i + 2, jmax),
            lambda j: opp(orient(vat(i), vat((i + 1) % n), vat(j)),
                          orient(vat(i), vat((i + 1) % n),
                                 vat((j + 1) % n)))
            & opp(orient(vat(j), vat((j + 1) % n), vat(i)),
                  orient(vat(j), vat((j + 1) % n), vat((i + 1) % n)))))

    selfx = F.aggregate(
        F.sequence(F.lit(0), n - 3),
        F.lit(0),
        lambda acc, i: acc + F.when(i + 2 <= F.when(i == 0, n - 2)
                                    .otherwise(n - 1), pair_hits(i))
        .otherwise(F.lit(0)))
    area2 = F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc + (vat(i)["ix"] * vat((i + 1) % n)["iy"]
                              - vat((i + 1) % n)["ix"] * vat(i)["iy"]))
    return poly.select(
        "gid", n.alias("nv"), selfx.alias("n_selfx"),
        (selfx == 0).cast("int").alias("is_valid"),
        area2.alias("area2"),
        F.when(area2 > 0, F.lit("ccw")).when(area2 < 0, F.lit("cw"))
        .otherwise(F.lit("degenerate")).alias("winding"))


SQL_GEOM_VALID = """
WITH verts AS (
  SELECT gid, rn, ix, iy,
         count(*) OVER (PARTITION BY gid) AS n
  FROM (
    SELECT doc_id % 37 AS gid,
           doc_id * 7919 % 360000 AS ix,
           doc_id * 104729 % 170000 AS iy,
           row_number() OVER (PARTITION BY doc_id % 37
                              ORDER BY doc_id) AS rn
    FROM documents)
  WHERE rn <= 8
),
poly AS (SELECT gid, least(max(n), 8) AS n FROM verts GROUP BY gid
         HAVING least(max(n), 8) >= 3),
edges AS (
  SELECT a.gid, a.rn - 1 AS i, a.ix AS x1, a.iy AS y1,
         b.ix AS x2, b.iy AS y2
  FROM verts a
  JOIN poly p ON p.gid = a.gid
  JOIN verts b ON b.gid = a.gid AND b.rn = (a.rn % p.n) + 1
  WHERE a.rn <= p.n
),
pairs AS (
  SELECT e1.gid,
         (e1.x2 - e1.x1) * (e2.y1 - e1.y1)
           - (e1.y2 - e1.y1) * (e2.x1 - e1.x1) AS o1,
         (e1.x2 - e1.x1) * (e2.y2 - e1.y1)
           - (e1.y2 - e1.y1) * (e2.x2 - e1.x1) AS o2,
         (e2.x2 - e2.x1) * (e1.y1 - e2.y1)
           - (e2.y2 - e2.y1) * (e1.x1 - e2.x1) AS o3,
         (e2.x2 - e2.x1) * (e1.y2 - e2.y1)
           - (e2.y2 - e2.y1) * (e1.x2 - e2.x1) AS o4
  FROM edges e1
  JOIN edges e2 ON e1.gid = e2.gid AND e2.i > e1.i + 1
  JOIN poly p ON p.gid = e1.gid
  WHERE NOT (e1.i = 0 AND e2.i = p.n - 1)
),
hits AS (
  SELECT gid, count(*) FILTER (WHERE
    ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0)) AND
    ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))) AS n_selfx
  FROM pairs GROUP BY gid
),
sh AS (
  SELECT e.gid,
         CAST(sum(x1 * y2 - x2 * y1) AS BIGINT) AS area2
  FROM edges e GROUP BY e.gid
)
SELECT p.gid, CAST(p.n AS INTEGER) AS nv,
       CAST(coalesce(h.n_selfx, 0) AS INTEGER) AS n_selfx,
       CAST(CASE WHEN coalesce(h.n_selfx, 0) = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS is_valid,
       sh.area2,
       CASE WHEN sh.area2 > 0 THEN 'ccw'
            WHEN sh.area2 < 0 THEN 'cw'
            ELSE 'degenerate' END AS winding
FROM poly p LEFT JOIN hits h ON h.gid = p.gid
JOIN sh ON sh.gid = p.gid
"""

QUERIES["geom_valid"] = (q_geom_valid, SQL_GEOM_VALID)


def q_concurrency(spark, sf_dir):
    """Peak-concurrency sweep (interval max-overlap): sessions are
    rebuilt from events with the engine's 30-minute-gap rule, then
    each session contributes a +1 boundary at its start and a -1 at
    its end and a running sum over boundaries — ordered WITHIN each
    event-type partition, never globally — yields concurrent-session
    counts; one agg takes the peak and its first time. This is the
    load-curve primitive behind capacity planning on access logs.
    Integer boundary sums replay exactly in DuckDB (ties broken by
    delta so ends close before starts open at the same instant)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"))
    w = Window.partitionBy("event_type", "user_id").orderBy("t_us")
    gap = F.col("t_us") - F.lag("t_us").over(w)
    sess = (ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0))
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("event_type", "user_id", "sess_id")
        .agg(F.min("t_us").alias("t0"), F.max("t_us").alias("t1")))
    bounds = (sess.select("event_type", F.col("t0").alias("t"),
                          F.lit(1).alias("delta"))
              .unionAll(sess.select("event_type",
                                    (F.col("t1") + 1).alias("t"),
                                    F.lit(-1).alias("delta"))))
    ws = Window.partitionBy("event_type").orderBy("t", "delta")
    run = bounds.withColumn(
        "load", F.sum("delta").over(
            ws.rowsBetween(Window.unboundedPreceding, 0)))
    run = run.withColumn(
        "wpeak", F.max("load").over(Window.partitionBy("event_type")))
    return (run.groupBy("event_type")
            .agg(F.max("load").alias("peak"),
                 F.min(F.when(F.col("load") == F.col("wpeak"),
                              F.col("t"))).alias("peak_t_us"),
                 F.count(F.lit(1)).alias("n_bounds")))


SQL_CONCURRENCY = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
),
gapped AS (
  SELECT *, t_us - lag(t_us) OVER (PARTITION BY event_type, user_id
                                   ORDER BY t_us) AS gap
  FROM ev
),
marked AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0
            END AS new_sess
  FROM gapped
),
sess AS (
  SELECT event_type, user_id,
         sum(new_sess) OVER (PARTITION BY event_type, user_id
                             ORDER BY t_us ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS sess_id,
         t_us
  FROM marked
),
spans AS (
  SELECT event_type, user_id, sess_id,
         min(t_us) AS t0, max(t_us) AS t1
  FROM sess GROUP BY 1, 2, 3
),
bounds AS (
  SELECT event_type, t0 AS t, 1 AS delta FROM spans
  UNION ALL
  SELECT event_type, t1 + 1 AS t, -1 AS delta FROM spans
),
run AS (
  SELECT event_type, t,
         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS load
  FROM bounds
),
peak AS (
  SELECT event_type, max(load) AS peak, count(*) AS n_bounds
  FROM run GROUP BY 1
)
SELECT p.event_type, CAST(p.peak AS BIGINT) AS peak,
       min(r.t) FILTER (WHERE r.load = p.peak) AS peak_t_us,
       p.n_bounds
FROM peak p JOIN run r ON r.event_type = p.event_type
GROUP BY 1, 2, 4
"""

QUERIES["concurrency"] = (q_concurrency, SQL_CONCURRENCY)


def _polyline_enc(sexpr: str, chr_fn: str, shr) -> str:
    """Google Encoded Polyline chunk emitter for a non-negative
    zigzag value expression: 5-bit little-endian groups, +63, 0x20
    continuation — unrolled to 6 chunks (covers |delta| < 2^29,
    far above the +-180e5 coordinate range). `shr(expr, bits)` is
    the dialect's right shift, `chr_fn` its int->char function."""
    parts = []
    for i in range(6):
        cur = shr(sexpr, 5 * i)
        nxt = shr(sexpr, 5 * (i + 1))
        ch = chr_fn % (f"63 + (({cur}) & 31) + "
                       f"(CASE WHEN ({nxt}) > 0 THEN 32 ELSE 0 END)")
        if i == 0:
            parts.append(ch)
        else:
            parts.append(f"CASE WHEN ({cur}) > 0 THEN {ch} "
                         f"ELSE '' END")
    return "concat(" + ", ".join(parts) + ")"


def q_polyline_encode(spark, sf_dir):
    """Google Encoded Polyline sink (the interchange format of every
    mapping API): per-user tracks (first 10 fixes by time) delta-
    encoded, zigzag-mapped and emitted as 5-bit/char base-63 strings
    — pure native string/bit expressions, no Python. Coordinates are
    exact INTEGER e5 units derived from event ids, so the encoder's
    byte output is engine-proof and DuckDB replays it char-for-char
    with its own bit ops. Plan: one key-partitioned window for the
    deltas + one ordered string agg per user; at fleet scale this is
    the standard trajectory EXPORT stage (polylines feed the tile
    servers the raster ops here consume)."""
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("t_us"),
                  ((F.col("event_id") * 7919 % 360000 - 180000) * 100)
                  .alias("lon5"),
                  ((F.col("event_id") * 104729 % 170000 - 85000) * 100)
                  .alias("lat5")))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    pts = (ev.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= 10)
           .withColumn("dlat", F.col("lat5")
                       - F.coalesce(F.lag("lat5").over(w), F.lit(0)))
           .withColumn("dlon", F.col("lon5")
                       - F.coalesce(F.lag("lon5").over(w), F.lit(0))))

    def spark_shr(e, b):
        return f"shiftright({e}, {b})" if b else f"({e})"

    zz = ("(CASE WHEN {d} >= 0 THEN {d} * 2 "
          "ELSE -{d} * 2 - 1 END)")
    enc_lat = _polyline_enc(zz.format(d="dlat"), "char(%s)", spark_shr)
    enc_lon = _polyline_enc(zz.format(d="dlon"), "char(%s)", spark_shr)
    chunk = pts.withColumn(
        "chunk", F.expr(f"concat({enc_lat}, {enc_lon})"))
    return (chunk.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.array_join(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("rn", "chunk"))),
                     lambda s: s["chunk"]), "").alias("polyline")))


def _polyline_sql():
    def duck_shr(e, b):
        return f"(({e}) >> {b})" if b else f"({e})"

    zz = "(CASE WHEN {d} >= 0 THEN {d} * 2 ELSE -{d} * 2 - 1 END)"
    enc_lat = _polyline_enc(zz.format(d="dlat"),
                            "chr(CAST(%s AS INTEGER))", duck_shr)
    enc_lon = _polyline_enc(zz.format(d="dlon"),
                            "chr(CAST(%s AS INTEGER))", duck_shr)
    return f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         (event_id * 7919 % 360000 - 180000) * 100 AS lon5,
         (event_id * 104729 % 170000 - 85000) * 100 AS lat5
  FROM events
),
pts AS (
  SELECT *, row_number() OVER w AS rn,
         lat5 - coalesce(lag(lat5) OVER w, 0) AS dlat,
         lon5 - coalesce(lag(lon5) OVER w, 0) AS dlon
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
chunks AS (
  SELECT user_id, rn, {enc_lat} || {enc_lon} AS chunk
  FROM pts WHERE rn <= 10
)
SELECT user_id, count(*) AS n_points,
       string_agg(chunk, '' ORDER BY rn) AS polyline
FROM chunks GROUP BY user_id
"""


QUERIES["polyline_encode"] = (q_polyline_encode, _polyline_sql())


def q_haar_raster(spark, sf_dir):
    """One-level 2-D Haar wavelet transform of the density raster —
    the compression/LOD primitive under raster pyramids (JPEG2000's
    core step): per 2x2 block the LL/HL/LH/HH coefficients as EXACT
    integer signed sums (sign = 1-2*(parity)), computed with ONE
    hash aggregation over sign-annotated cells — the same
    scatter-gather shape as dem_slope, no shifted self-joins, and
    missing cells contribute implicit zeros. detail_energy ranks
    blocks by high-frequency content (where the raster is NOT smooth
    — the cells a lossy tile encoder must keep). DuckDB replays the
    signed sums value-for-value."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(
        (F.floor(F.col("lon") / 6) + 30).cast("long").alias("gx"),
        (F.floor(F.col("lat") / 6) + 15).cast("long").alias("gy"))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("z")))
    sx = 1 - 2 * (F.col("gx") % 2)
    sy = 1 - 2 * (F.col("gy") % 2)
    blk = (ras.select(
        F.floor(F.col("gx") / 2).cast("long").alias("bx"),
        F.floor(F.col("gy") / 2).cast("long").alias("by"),
        F.col("z"),
        (F.col("z") * sx).alias("zx"),
        (F.col("z") * sy).alias("zy"),
        (F.col("z") * sx * sy).alias("zxy"))
        .groupBy("bx", "by")
        .agg(F.sum("z").alias("ll"), F.sum("zx").alias("hl"),
             F.sum("zy").alias("lh"), F.sum("zxy").alias("hh")))
    energy = (F.col("hl") * F.col("hl") + F.col("lh") * F.col("lh")
              + F.col("hh") * F.col("hh"))
    return blk.select("bx", "by", "ll", "hl", "lh", "hh",
                      energy.alias("detail_energy"))


SQL_HAAR_RASTER = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) + 30 AS BIGINT) AS gx,
         CAST(floor(lat / 6) + 15 AS BIGINT) AS gy,
         count(*) AS z
  FROM pts GROUP BY 1, 2
),
blk AS (
  SELECT CAST(floor(gx / 2) AS BIGINT) AS bx,
         CAST(floor(gy / 2) AS BIGINT) AS by,
         CAST(sum(z) AS BIGINT) AS ll,
         CAST(sum(z * (1 - 2 * (gx % 2))) AS BIGINT) AS hl,
         CAST(sum(z * (1 - 2 * (gy % 2))) AS BIGINT) AS lh,
         CAST(sum(z * (1 - 2 * (gx % 2)) * (1 - 2 * (gy % 2)))
              AS BIGINT) AS hh
  FROM ras GROUP BY 1, 2
)
SELECT bx, by, ll, hl, lh, hh,
       hl * hl + lh * lh + hh * hh AS detail_energy
FROM blk
"""

QUERIES["haar_raster"] = (q_haar_raster, SQL_HAAR_RASTER)


def q_gravity_flows(spark, sf_dir):
    """Gravity spatial-interaction model (Zipf 1946, the workhorse of
    trip-distribution modeling): observed origin-destination flows
    between the top-12 density cells are compared against the gravity
    expectation G * m_i * m_j / d2_ij, with G calibrated in-plan so
    total expected equals total observed flow. Flows come from
    consecutive user fixes (one key-partitioned lag window), the top
    cells attach by BROADCAST equi-joins, and the calibration is a
    1-row cross join — the 100-TB shape: no collect, no global sort,
    masses/distances in exact integers so both engines derive the
    identical doubles. Residual > 1 flags corridors the gravity
    model under-predicts (real interaction structure)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.floor(((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0)
                / 30).cast("long").alias("cx"),
        F.floor(((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0)
                / 30).cast("long").alias("cy"))
    top = (ev.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("m"))
           .orderBy(F.col("m").desc(), "cx", "cy").limit(12))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    mov = (ev.withColumn("px", F.lag("cx").over(w))
           .withColumn("py", F.lag("cy").over(w))
           .filter(F.col("px").isNotNull()
                   & ((F.col("px") != F.col("cx"))
                      | (F.col("py") != F.col("cy")))))
    t1 = top.select(F.col("cx").alias("px"), F.col("cy").alias("py"),
                    F.col("m").alias("m1"))
    t2 = top.select(F.col("cx").alias("cx"), F.col("cy").alias("cy"),
                    F.col("m").alias("m2"))
    obs = (mov.join(F.broadcast(t1), ["px", "py"])
           .join(F.broadcast(t2), ["cx", "cy"])
           .groupBy("px", "py", "cx", "cy", "m1", "m2")
           .agg(F.count(F.lit(1)).alias("flow")))
    d2 = ((F.col("cx") - F.col("px")) * (F.col("cx") - F.col("px"))
          + (F.col("cy") - F.col("py")) * (F.col("cy") - F.col("py")))
    # integer-unit weights (round(w*1e9) BIGINT) so the calibration
    # sum is aggregation-order-independent — the pagerank discipline
    obs = obs.withColumn(
        "wgt_u", F.round((F.col("m1") * F.col("m2")).cast("double")
                         / d2.cast("double") * 1e9, 0).cast("long"))
    tot = obs.agg(F.sum("flow").alias("sum_t"),
                  F.sum("wgt_u").alias("sum_w_u"))
    out = obs.crossJoin(F.broadcast(tot))
    expected = (F.col("wgt_u").cast("double")
                * F.col("sum_t").cast("double")
                / F.col("sum_w_u").cast("double"))
    return out.select(
        F.col("px").alias("ox"), F.col("py").alias("oy"),
        F.col("cx").alias("dx"), F.col("cy").alias("dy"),
        "flow", F.round(expected, 6).alias("expected"),
        F.round(F.col("flow").cast("double") / expected, 6)
        .alias("residual"))


SQL_GRAVITY = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CAST(floor(((event_id * 7919 % 360000) / 1000.0 - 180.0)
                    / 30) AS BIGINT) AS cx,
         CAST(floor(((event_id * 104729 % 170000) / 1000.0 - 85.0)
                    / 30) AS BIGINT) AS cy
  FROM events
),
top AS (
  SELECT cx, cy, count(*) AS m FROM ev GROUP BY 1, 2
  ORDER BY m DESC, cx, cy LIMIT 12
),
mov AS (
  SELECT user_id, cx, cy,
         lag(cx) OVER w AS px, lag(cy) OVER w AS py
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
obs AS (
  SELECT m.px, m.py, m.cx, m.cy, t1.m AS m1, t2.m AS m2,
         count(*) AS flow
  FROM mov m
  JOIN top t1 ON t1.cx = m.px AND t1.cy = m.py
  JOIN top t2 ON t2.cx = m.cx AND t2.cy = m.cy
  WHERE m.px IS NOT NULL AND (m.px <> m.cx OR m.py <> m.cy)
  GROUP BY 1, 2, 3, 4, 5, 6
),
wgts AS (
  SELECT *, CAST(round(CAST(m1 * m2 AS DOUBLE)
            / CAST((cx - px) * (cx - px) + (cy - py) * (cy - py)
                   AS DOUBLE) * 1e9, 0) AS BIGINT) AS wgt_u
  FROM obs
),
tot AS (SELECT CAST(sum(flow) AS BIGINT) AS sum_t,
               CAST(sum(wgt_u) AS BIGINT) AS sum_w_u
        FROM wgts)
SELECT px AS ox, py AS oy, cx AS dx, cy AS dy, flow,
       round(CAST(wgt_u AS DOUBLE) * CAST(sum_t AS DOUBLE)
             / CAST(sum_w_u AS DOUBLE), 6) AS expected,
       round(CAST(flow AS DOUBLE)
             / (CAST(wgt_u AS DOUBLE) * CAST(sum_t AS DOUBLE)
                / CAST(sum_w_u AS DOUBLE)), 6) AS residual
FROM wgts CROSS JOIN tot
"""

QUERIES["gravity_flows"] = (q_gravity_flows, SQL_GRAVITY)


def q_quadrat_csr(spark, sf_dir):
    """Quadrat-count test of complete spatial randomness (the classic
    first question of point-pattern analysis, Greig-Smith 1952): doc
    points binned into the fixed 36x17 grid of 10-degree quadrats;
    the chi-square statistic against the CSR null reduces to
    Q * sum(n_i^2) / N - N, which needs only TWO exact integers (N and
    sum of squared quadrat counts) — empty quadrats are accounted for
    algebraically, never materialized. One hash aggregation, one
    1-row reduction: the 100-TB shape (no quadrat table join, no
    densification). VMR > 1 means clustered, < 1 means dispersed."""
    pts = _doc_points(spark, sf_dir)
    q = (pts.select(F.floor((F.col("lon") + 180.0) / 10).alias("qx"),
                    F.floor((F.col("lat") + 85.0) / 10).alias("qy"))
         .groupBy("qx", "qy").agg(F.count(F.lit(1)).alias("n")))
    nq = 36 * 17
    agg = q.agg(F.sum("n").alias("n_points"),
                F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
                F.count(F.lit(1)).alias("occupied"))
    npts = F.col("n_points").cast("double")
    chi2 = F.lit(float(nq)) * F.col("sum_sq").cast("double") / npts - npts
    # VMR from the same two integers: var = (sum_sq/Q - mean^2) with
    # the EMPTY quadrats in the denominator, mean = N/Q
    mean = npts / F.lit(float(nq))
    vmr = (F.col("sum_sq").cast("double") / F.lit(float(nq))
           - mean * mean) / mean
    return agg.select(
        "n_points", F.lit(nq).cast("long").alias("n_quadrats"),
        "occupied", "sum_sq",
        F.round(chi2, 6).alias("chi2"),
        F.round(vmr, 6).alias("vmr"))


SQL_QUADRAT = f"""
WITH pts AS ({_PTS_SQL}),
q AS (
  SELECT CAST(floor((lon + 180.0) / 10) AS BIGINT) AS qx,
         CAST(floor((lat + 85.0) / 10) AS BIGINT) AS qy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
)
SELECT CAST(sum(n) AS BIGINT) AS n_points,
       CAST(612 AS BIGINT) AS n_quadrats,
       count(*) AS occupied,
       CAST(sum(n * n) AS BIGINT) AS sum_sq,
       round(612.0 * CAST(sum(n * n) AS DOUBLE)
             / CAST(sum(n) AS DOUBLE) - CAST(sum(n) AS DOUBLE), 6)
           AS chi2,
       round((CAST(sum(n * n) AS DOUBLE) / 612.0
              - (CAST(sum(n) AS DOUBLE) / 612.0)
                * (CAST(sum(n) AS DOUBLE) / 612.0))
             / (CAST(sum(n) AS DOUBLE) / 612.0), 6) AS vmr
FROM q
"""

QUERIES["quadrat_csr"] = (q_quadrat_csr, SQL_QUADRAT)


def q_solar_position(spark, sf_dir):
    """Solar geometry per observation (the NOAA/Spencer 1971 Fourier
    forms every remote-sensing pipeline uses to stamp sun angles onto
    imagery): each doc point gets a deterministic 2026 UTC instant
    (day = doc_id % 365, second-of-day = doc_id * 37 % 86400); the
    fractional-year angle drives declination and the equation of time,
    the longitude-corrected true solar time gives the hour angle, and
    cos(zenith) = sin phi sin delta + cos phi cos delta cos H. The
    output keeps COS zenith (never acos — its derivative explodes at
    |x| -> 1 and would amplify cross-engine trig ulps past round-6);
    the daylight flag derives from the ROUNDED value so both engines
    decide from the identical number. Pure per-row Catalyst trig:
    embarrassingly parallel, zero exchanges before the scan-level
    projection."""
    pts = _doc_points(spark, sf_dir)
    doy = (F.col("doc_id") % 365).cast("double")
    sod = (F.col("doc_id") * 37 % 86400).cast("double")
    g = (F.lit(2.0 * math.pi / 365.0)
         * (doy + (sod / 3600.0 - 12.0) / 24.0))
    decl = (F.lit(0.006918)
            - F.lit(0.399912) * F.cos(g) + F.lit(0.070257) * F.sin(g)
            - F.lit(0.006758) * F.cos(2 * g)
            + F.lit(0.000907) * F.sin(2 * g)
            - F.lit(0.002697) * F.cos(3 * g)
            + F.lit(0.00148) * F.sin(3 * g))
    eqt = F.lit(229.18) * (F.lit(0.000075)
                           + F.lit(0.001868) * F.cos(g)
                           - F.lit(0.032077) * F.sin(g)
                           - F.lit(0.014615) * F.cos(2 * g)
                           - F.lit(0.040849) * F.sin(2 * g))
    tst = sod / 60.0 + eqt + 4.0 * F.col("lon")
    ha = F.radians(tst / 4.0 - 180.0)
    phi = F.radians(F.col("lat"))
    cosz = (F.sin(phi) * F.sin(decl)
            + F.cos(phi) * F.cos(decl) * F.cos(ha))
    cosz_r = F.round(cosz, 6)
    return pts.select(
        "doc_id",
        F.round(F.degrees(decl), 6).alias("decl_deg"),
        F.round(eqt, 6).alias("eqtime_min"),
        cosz_r.alias("cos_zenith"),
        (cosz_r > 0).alias("daylight"))


SQL_SOLAR = f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT doc_id, lon, lat,
         2.0 * pi() / 365.0
           * (CAST(doc_id % 365 AS DOUBLE)
              + (CAST(doc_id * 37 % 86400 AS DOUBLE) / 3600.0 - 12.0)
                / 24.0) AS g,
         CAST(doc_id * 37 % 86400 AS DOUBLE) AS sod
  FROM pts
),
s AS (
  SELECT doc_id, lon, lat, sod,
         0.006918 - 0.399912 * cos(g) + 0.070257 * sin(g)
           - 0.006758 * cos(2 * g) + 0.000907 * sin(2 * g)
           - 0.002697 * cos(3 * g) + 0.00148 * sin(3 * g) AS decl,
         229.18 * (0.000075 + 0.001868 * cos(g) - 0.032077 * sin(g)
                   - 0.014615 * cos(2 * g) - 0.040849 * sin(2 * g))
             AS eqt
  FROM t
),
h AS (
  SELECT doc_id, decl, eqt,
         radians((sod / 60.0 + eqt + 4.0 * lon) / 4.0 - 180.0) AS ha,
         radians(lat) AS phi
  FROM s
)
SELECT doc_id, round(degrees(decl), 6) AS decl_deg,
       round(eqt, 6) AS eqtime_min,
       round(sin(phi) * sin(decl) + cos(phi) * cos(decl) * cos(ha), 6)
           AS cos_zenith,
       round(sin(phi) * sin(decl) + cos(phi) * cos(decl) * cos(ha), 6)
           > 0 AS daylight
FROM h
"""

QUERIES["solar_position"] = (q_solar_position, SQL_SOLAR)


def q_knox_test(spark, sf_dir):
    """Knox space-time interaction statistic (Knox 1964, the classic
    epidemiology test: do events cluster in space AND time jointly?):
    close pairs = event pairs within 2 grid degrees AND within a
    3-day lag, counted per integer day-lag. Positions are md5-derived
    (the event_id linear-congruential lattice has NO close pairs at
    gate scale — a measured dead gate, not a guess). Scale shape:
    each left event scatters to its 3x3 cell neighborhood (cell size
    = the 3-degree radius) and equi-joins the right side on the
    single true cell — every qualifying pair is found EXACTLY once
    (the right cell is unique), so no post-join dedup; fan-out is a
    constant 9x regardless of corpus size. The DuckDB oracle takes
    the opposite plan on purpose — a non-equi IEJoin on the time
    axis — so the two engines certify each other across plan
    families. Events deterministically thinned 1-in-7 to keep the
    oracle's O(n * lag-window) bounded at gate scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    hx = F.conv(F.substring(
        F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10) \
        .cast("long")
    hy = F.conv(F.substring(
        F.md5(F.concat(F.lit("y"), F.col("event_id").cast("string"))),
        1, 8), 16, 10).cast("long")
    pt = ev.select(
        "event_id",
        F.floor(F.unix_timestamp("ts") / 86400).alias("day"),
        ((hx % 360000) / 1000.0 - 180.0).alias("x"),
        ((hy % 170000) / 1000.0 - 85.0).alias("y"))
    pt = pt.withColumn("cx", F.floor((F.col("x") + 180.0) / 3)
                       .cast("long")) \
           .withColumn("cy", F.floor((F.col("y") + 85.0) / 3)
                       .cast("long"))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in range(-1, 2) for dy in range(-1, 2)])
    a = (pt.select("event_id", "day", "x", "y",
                   F.explode(d9).alias("d"),
                   F.col("cx"), F.col("cy"))
         .select(F.col("event_id").alias("ia"), F.col("day").alias("da"),
                 F.col("x").alias("xa"), F.col("y").alias("ya"),
                 (F.col("cx") + F.col("d.dx")).alias("jcx"),
                 (F.col("cy") + F.col("d.dy")).alias("jcy")))
    b = pt.select(F.col("event_id").alias("ib"), F.col("day").alias("db"),
                  F.col("x").alias("xb"), F.col("y").alias("yb"),
                  F.col("cx").alias("jcx"), F.col("cy").alias("jcy"))
    dx = F.col("xa") - F.col("xb")
    dy_ = F.col("ya") - F.col("yb")
    pairs = (a.join(b, ["jcx", "jcy"])
             .filter((F.col("ia") < F.col("ib"))
                     & (dx * dx + dy_ * dy_ <= F.lit(9.0))
                     & (F.abs(F.col("da") - F.col("db")) <= 3)))
    return (pairs.groupBy(F.abs(F.col("da") - F.col("db")).alias("lag"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("lag"))


SQL_KNOX = """
WITH pt AS (
  SELECT event_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 360000) / 1000.0 - 180.0 AS x,
         (CAST(('0x' || substr(md5('y' || CAST(event_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 170000) / 1000.0
             - 85.0 AS y
  FROM events WHERE event_id % 7 = 0
)
SELECT abs(a.day - b.day) AS lag, count(*) AS n_pairs
FROM pt a JOIN pt b
  ON a.event_id < b.event_id
 AND b.day BETWEEN a.day - 3 AND a.day + 3
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9.0
GROUP BY 1 ORDER BY 1
"""

QUERIES["knox_test"] = (q_knox_test, SQL_KNOX)


def q_skyline(spark, sf_dir):
    """Skyline (Pareto-dominance preference) query — Borzsony/
    Kossmann/Stocker 2001, the classic "best hotels" operator no
    plain ORDER BY can express: per language, keep documents not
    dominated on (n_chars, freshness) — dominated means another doc
    is >= on both and > on one. Scale shape: ONE sort per group and
    two integer window maxes replace the quadratic dominance
    self-join — dominance splits exactly into (a) strictly-longer
    docs with >= freshness (a RANGE frame ending 1 BEFORE the current
    n_chars) and (b) equal-length docs with > freshness (the
    same-key frame minus self). The DuckDB oracle runs the
    textbook NOT EXISTS anti-join instead, so the O(n log n) window
    plan is certified against the O(n^2) definition."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("len"),
        ((F.col("doc_id") * 7919 + 13) % 1000).alias("fresh"))
    strictly_longer = (Window.partitionBy("lang")
                       .orderBy(F.col("len"))
                       .rangeBetween(1, Window.unboundedFollowing))
    same_len = (Window.partitionBy("lang", "len")
                .orderBy(F.col("fresh"))
                .rangeBetween(1, Window.unboundedFollowing))
    d = (d.withColumn("max_f_longer",
                      F.max("fresh").over(strictly_longer))
         .withColumn("max_f_same",
                     F.max("fresh").over(same_len)))
    dominated = ((F.col("max_f_longer") >= F.col("fresh"))
                 | F.col("max_f_same").isNotNull())
    return (d.filter(~F.coalesce(dominated, F.lit(False)))
            .select("lang", "doc_id", "len", "fresh"))


SQL_SKYLINE = """
WITH d AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS len,
         (doc_id * 7919 + 13) % 1000 AS fresh
  FROM documents
)
SELECT lang, doc_id, len, fresh
FROM d a
WHERE NOT EXISTS (
  SELECT 1 FROM d b
  WHERE b.lang = a.lang
    AND b.len >= a.len AND b.fresh >= a.fresh
    AND (b.len > a.len OR b.fresh > a.fresh)
    AND b.doc_id <> a.doc_id
)
-- two docs with IDENTICAL (len, fresh) are mutually non-dominating
-- by the standard definition; the b.doc_id <> a.doc_id guard plus
-- the strict-on-one clause keeps exact ties in the skyline, matching
-- the window plan (both frames exclude the tie row).
"""

QUERIES["skyline"] = (q_skyline, SQL_SKYLINE)


def q_cell_mad(spark, sf_dir):
    """Robust per-cell outlier detection: median + MAD (the
    estimator survey robust-statistics práctica always lands on —
    mean/stddev break down under the very outliers being hunted).
    Both medians are LOWER medians picked by row_number at position
    (n+1)/2 — an exact integer selection both engines replay
    identically, never an interpolated percentile (engines disagree
    on interpolation ulps). Outlier rule: |v - med| > 3 * MAD with
    MAD > 0 (the degenerate all-equal cell flags nothing). Scale
    shape: two key-partitioned sorts per cell, no self-join."""
    pts = _doc_points(spark, sf_dir)
    v = (F.col("doc_id") * 331 % 1000
         + F.when(F.col("doc_id") % 43 == 0, 5000).otherwise(0))
    t = pts.select(
        F.floor((F.col("lon") + 180.0) / 30).alias("cx"),
        F.floor((F.col("lat") + 85.0) / 30).alias("cy"),
        "doc_id", v.alias("v"))
    w = Window.partitionBy("cx", "cy").orderBy("v", "doc_id")
    cnt = Window.partitionBy("cx", "cy")
    med = (t.withColumn("rn", F.row_number().over(w))
           .withColumn("n", F.count(F.lit(1)).over(cnt))
           .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("cx", "cy", F.col("v").alias("med")))
    dev = (t.join(med, ["cx", "cy"])
           .withColumn("ad", F.abs(F.col("v") - F.col("med"))))
    w2 = Window.partitionBy("cx", "cy").orderBy("ad", "doc_id")
    mad = (dev.withColumn("rn", F.row_number().over(w2))
           .withColumn("n", F.count(F.lit(1)).over(cnt))
           .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("cx", "cy", F.col("ad").alias("mad")))
    out = (dev.join(mad, ["cx", "cy"])
           .filter((F.col("mad") > 0)
                   & (F.col("ad") > 3 * F.col("mad"))))
    return (out.groupBy("cx", "cy", "med", "mad")
            .agg(F.count(F.lit(1)).alias("n_outliers"),
                 F.sum("v").alias("sum_outlier_v")))


SQL_CELL_MAD = f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT CAST(floor((lon + 180.0) / 30) AS BIGINT) AS cx,
         CAST(floor((lat + 85.0) / 30) AS BIGINT) AS cy,
         doc_id,
         doc_id * 331 % 1000
           + CASE WHEN doc_id % 43 = 0 THEN 5000 ELSE 0 END AS v
  FROM pts
),
med AS (
  SELECT cx, cy, v AS med FROM (
    SELECT cx, cy, v,
           row_number() OVER (PARTITION BY cx, cy
                              ORDER BY v, doc_id) AS rn,
           count(*) OVER (PARTITION BY cx, cy) AS n
    FROM t)
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
),
dev AS (
  SELECT t.cx, t.cy, t.doc_id, t.v, med.med,
         abs(t.v - med.med) AS ad
  FROM t JOIN med ON med.cx = t.cx AND med.cy = t.cy
),
mad AS (
  SELECT cx, cy, ad AS mad FROM (
    SELECT cx, cy, ad,
           row_number() OVER (PARTITION BY cx, cy
                              ORDER BY ad, doc_id) AS rn,
           count(*) OVER (PARTITION BY cx, cy) AS n
    FROM dev)
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
)
SELECT dev.cx, dev.cy, dev.med, mad.mad,
       count(*) AS n_outliers,
       CAST(sum(dev.v) AS BIGINT) AS sum_outlier_v
FROM dev JOIN mad ON mad.cx = dev.cx AND mad.cy = dev.cy
WHERE mad.mad > 0 AND dev.ad > 3 * mad.mad
GROUP BY 1, 2, 3, 4
"""

QUERIES["cell_mad"] = (q_cell_mad, SQL_CELL_MAD)


def q_cost_distance(spark, sf_dir):
    """Weighted cost-distance raster (the least-cost-surface half of
    least-cost-path corridor analysis): accumulated traversal cost
    from three fixed seed cells across a 32x32 cost surface built
    from the doc-density raster (cost = 1 + capped count, an exact
    integer), by k=8 Bellman-Ford rounds of 4-neighbor scatter-min
    with step cost = cost(src) + cost(dst) (twice the standard
    average-cost step — a constant factor that keeps every
    accumulated cost integer). k fixed means both engines compute
    the IDENTICAL k-hop relaxation whether or not it has converged —
    determinism by construction, the dist_transform discipline.
    Scale shape: the DENSITY aggregation is the corpus-scale stage
    and stays distributed; the relaxation runs on the collected
    raster (raster-sized, not corpus-sized — the kcore/redirects
    driver-cutover pattern; a tiled raster would relax per-tile with
    halo exchange, same algebra)."""
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 32)
                 .cast("long"), F.lit(31))
    gy = F.least(F.floor((F.col("lat") + 85.0) / 170.0 * 32)
                 .cast("long"), F.lit(31))
    dens = (pts.select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n")))
    cmap = {(int(r.gx), int(r.gy)): 1 + min(int(r.n), 20)
            for r in dens.collect()}
    cost = {(x, y): cmap.get((x, y), 1)
            for x in range(32) for y in range(32)}
    dist = {(4, 4): 0, (27, 20): 0, (16, 8): 0}
    for _ in range(8):
        nxt = dict(dist)
        for (x, y), dd in dist.items():
            for ox, oy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                nx, ny = x + ox, y + oy
                if 0 <= nx <= 31 and 0 <= ny <= 31:
                    cand = dd + cost[(x, y)] + cost[(nx, ny)]
                    if cand < nxt.get((nx, ny), cand + 1):
                        nxt[(nx, ny)] = cand
        dist = nxt
    rows = [(x, y, dd) for (x, y), dd in sorted(dist.items())]
    return spark.createDataFrame(rows, "gx long, gy long, d long")


def _cost_distance_sql():
    it = """
r{o} AS MATERIALIZED (
  SELECT gx, gy, min(d) AS d FROM (
    SELECT gx, gy, d FROM r{i}
    UNION ALL
    SELECT r.gx + t.ox AS gx, r.gy + t.oy AS gy,
           r.d + cs.c + cd.c AS d
    FROM r{i} r
    JOIN cost cs ON cs.gx = r.gx AND cs.gy = r.gy
    CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) t(ox, oy)
    JOIN cost cd ON cd.gx = r.gx + t.ox AND cd.gy = r.gy + t.oy
    WHERE r.gx + t.ox BETWEEN 0 AND 31
      AND r.gy + t.oy BETWEEN 0 AND 31) q
  GROUP BY 1, 2
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(8))
    return f"""
WITH pts AS ({_PTS_SQL}),
dens AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 32) AS BIGINT), 31)
             AS gx,
         least(CAST(floor((lat + 85.0) / 170.0 * 32) AS BIGINT), 31)
             AS gy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
lattice AS (
  SELECT x.gx, y.gy
  FROM (SELECT unnest(range(32)) AS gx) x,
       (SELECT unnest(range(32)) AS gy) y
),
cost AS MATERIALIZED (
  SELECT l.gx, l.gy,
         1 + least(coalesce(d.n, 0), 20) AS c
  FROM lattice l LEFT JOIN dens d ON d.gx = l.gx AND d.gy = l.gy
),
r0 AS MATERIALIZED (
  SELECT * FROM (VALUES (CAST(4 AS BIGINT), CAST(4 AS BIGINT),
                         CAST(0 AS BIGINT)),
                        (27, 20, 0), (16, 8, 0)) s(gx, gy, d)
),
{its}
SELECT gx, gy, d FROM r8
"""


QUERIES["cost_distance"] = (q_cost_distance, _cost_distance_sql())


def q_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality on the 97-host link graph by MIN-PLUS
    POINTER DOUBLING: three rounds of d(u,v) = min over m of
    d(u,m) + d(m,v) cover every shortest path up to 8 hops in
    O(log diameter) self-joins — the APSP analogue of the
    redirect-chain doubling (operators/redirects.py), and the reason
    this works at graph scale where hop-by-hop BFS pays diameter
    rounds. Centrality = sum of floor(1e6 / d) over reachable
    non-self targets — exact integers, no float accumulation. The
    oracle replays the identical three doublings."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 97).alias("u"),
                      ((k * 13 + 5) % 97).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    nodes = (edges.select(F.col("u").alias("n"))
             .unionByName(edges.select(F.col("v").alias("n")))
             .distinct())
    dist = (edges.select("u", "v", F.lit(1).cast("long").alias("d"))
            .unionByName(nodes.select(F.col("n").alias("u"),
                                      F.col("n").alias("v"),
                                      F.lit(0).cast("long").alias("d"))))
    for _ in range(3):
        comp = (dist.alias("a")
                .join(dist.alias("b"), F.col("a.v") == F.col("b.u"))
                .select(F.col("a.u").alias("u"),
                        F.col("b.v").alias("v"),
                        (F.col("a.d") + F.col("b.d")).alias("d")))
        dist = (dist.unionByName(comp)
                .groupBy("u", "v").agg(F.min("d").alias("d"))
                .localCheckpoint(eager=False))
    return (dist.filter(F.col("u") != F.col("v"))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("n_reach"),
                 F.sum(F.floor(1000000 / F.col("d")).cast("long"))
                 .alias("harmonic_u")))


def _harmonic_sql():
    it = """
d{o} AS MATERIALIZED (
  SELECT u, v, min(d) AS d FROM (
    SELECT u, v, d FROM d{i}
    UNION ALL
    SELECT a.u, b.v, a.d + b.d AS d
    FROM d{i} a JOIN d{i} b ON a.v = b.u) q
  GROUP BY 1, 2
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH edges AS (
  SELECT DISTINCT doc_id % 97 AS u, (doc_id * 13 + 5) % 97 AS v
  FROM documents
  WHERE doc_id % 97 <> (doc_id * 13 + 5) % 97
),
nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
d0 AS MATERIALIZED (
  SELECT u, v, CAST(1 AS BIGINT) AS d FROM edges
  UNION ALL
  SELECT n, n, CAST(0 AS BIGINT) FROM nodes
),
{its}
SELECT u, count(*) AS n_reach,
       CAST(sum(CAST(floor(1000000 / d) AS BIGINT)) AS BIGINT)
           AS harmonic_u
FROM d3 WHERE u <> v GROUP BY u
"""


QUERIES["harmonic_centrality"] = (q_harmonic_centrality,
                                  _harmonic_sql())


def q_idw_loocv(spark, sf_dir):
    """Leave-one-out cross-validation of inverse-distance-weighted
    interpolation (the standard honesty check before trusting any
    interpolated surface — predict each SAMPLE from its neighbors and
    measure the error, Isaaks & Srivastava ch. 15): every md5-placed
    doc point is predicted from the OTHER points within 3 degrees via
    integer-unit IDW weights (round(1e9 / (d2 + 0.01)) — the
    idw_raster discipline, so weight sums are aggregation-order-
    independent), and absolute errors roll up per 15-degree cell.
    Scale shape: candidate neighbors come from a 3x3 scatter of
    3-degree cells + one equi-join (each ordered neighbor pair seen
    exactly once since the right cell is unique) — never a points
    self-join."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    hx = F.conv(F.substring(F.md5(i), 1, 8), 16, 10).cast("long")
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("y"), i)), 1, 8),
                16, 10).cast("long")
    hv = F.conv(F.substring(F.md5(F.concat(F.lit("v"), i)), 1, 8),
                16, 10).cast("long")
    pt = d.select(
        F.col("doc_id"),
        ((hx % 360000) / 1000.0 - 180.0).alias("x"),
        ((hy % 170000) / 1000.0 - 85.0).alias("y"),
        (hv % 1000).alias("v"))
    pt = pt.withColumn("cx", F.floor((F.col("x") + 180.0) / 3)
                       .cast("long")) \
           .withColumn("cy", F.floor((F.col("y") + 85.0) / 3)
                       .cast("long"))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in range(-1, 2) for dy in range(-1, 2)])
    a = (pt.select("doc_id", "x", "y", "v", "cx", "cy",
                   F.explode(d9).alias("k"))
         .select(F.col("doc_id").alias("ia"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"), F.col("v").alias("va"),
                 (F.col("cx") + F.col("k.dx")).alias("jcx"),
                 (F.col("cy") + F.col("k.dy")).alias("jcy")))
    b = pt.select(F.col("doc_id").alias("ib"), F.col("x").alias("xb"),
                  F.col("y").alias("yb"), F.col("v").alias("vb"),
                  F.col("cx").alias("jcx"), F.col("cy").alias("jcy"))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    nb = (a.join(b, ["jcx", "jcy"])
          .filter((F.col("ia") != F.col("ib")) & (d2 <= F.lit(9.0)))
          .withColumn("w", F.round(F.lit(1e9) / (d2 + F.lit(0.01)), 0)
                      .cast("long")))
    pred = (nb.groupBy("ia", "xa", "ya", "va")
            .agg(F.sum("w").alias("sw"),
                 F.sum(F.col("w") * F.col("vb")).alias("swv")))
    # integer-micro absolute error BEFORE the rollup: double sums are
    # aggregation-order-dependent, exact-long sums are not
    err = pred.select(
        "ia", "xa", "ya",
        F.round(F.abs(F.col("va").cast("double")
                      - F.col("swv").cast("double")
                      / F.col("sw").cast("double")) * 1e6, 0)
        .cast("long").alias("ae_u"))
    return (err.select(F.floor((F.col("xa") + 180.0) / 15).alias("rx"),
                       F.floor((F.col("ya") + 85.0) / 15).alias("ry"),
                       "ae_u")
            .groupBy("rx", "ry")
            .agg(F.count(F.lit(1)).alias("n_validated"),
                 F.round(F.sum("ae_u").cast("double") / 1e6
                         / F.count(F.lit(1)), 6).alias("mae")))


SQL_IDW_LOOCV = """
WITH pt AS (
  SELECT doc_id,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 360000) / 1000.0 - 180.0 AS x,
         (CAST(('0x' || substr(md5('y' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 170000) / 1000.0
             - 85.0 AS y,
         CAST(('0x' || substr(md5('v' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 1000 AS v
  FROM documents
),
nb AS (
  SELECT a.doc_id AS ia, a.x AS xa, a.y AS ya, a.v AS va,
         CAST(round(1e9 / ((a.x - b.x) * (a.x - b.x)
                           + (a.y - b.y) * (a.y - b.y) + 0.01), 0)
              AS BIGINT) AS w,
         b.v AS vb
  FROM pt a JOIN pt b
    ON a.doc_id <> b.doc_id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9.0
),
pred AS (
  SELECT ia, xa, ya, va,
         CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(w * vb) AS BIGINT) AS swv
  FROM nb GROUP BY 1, 2, 3, 4
)
SELECT CAST(floor((xa + 180.0) / 15) AS BIGINT) AS rx,
       CAST(floor((ya + 85.0) / 15) AS BIGINT) AS ry,
       count(*) AS n_validated,
       round(CAST(sum(CAST(round(abs(CAST(va AS DOUBLE)
                 - CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)) * 1e6, 0)
                 AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS mae
FROM pred GROUP BY 1, 2
"""

QUERIES["idw_loocv"] = (q_idw_loocv, SQL_IDW_LOOCV)


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the host link graph (Newman 2002):
    Pearson correlation between the total degrees at the two ends of
    every edge — positive means hubs link hubs (social-network
    shape), negative means hubs link leaves (the web's actual shape,
    and what a crawler's frontier balancer needs to know). Every
    moment is an exact integer sum over edges; ONE final formula
    divides them, so the statistic hashes after a single round. Scale
    shape: two broadcast degree lookups + one hash agg — no pair
    enumeration anywhere. The fixture routes 1-in-5 edges to seven
    hub hosts (a degree-REGULAR graph has zero degree variance and an
    undefined coefficient — the naive LCG fixture was exactly
    that)."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    hub_v = F.when(k % 5 == 0, k % 7).otherwise((k * 23 + 7) % 89)
    edges = (d.select((k % 89).alias("u"), hub_v.alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    deg = (edges.select(F.col("u").alias("n"))
           .unionByName(edges.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    e = (edges
         .join(F.broadcast(deg.select(F.col("n").alias("u"),
                                      F.col("deg").alias("x"))), "u")
         .join(F.broadcast(deg.select(F.col("n").alias("v"),
                                      F.col("deg").alias("y"))), "v"))
    agg = e.agg(F.count(F.lit(1)).alias("m"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"))
    md = F.col("m").cast("double")
    num = md * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((md * F.col("sxx") - F.col("sx") * F.col("sx"))
                 * (md * F.col("syy") - F.col("sy") * F.col("sy")))
    return agg.select("m", "sx", "sy", "sxy",
                      F.round(num / den, 6).alias("assortativity"))


SQL_ASSORTATIVITY = """
WITH edges AS (
  SELECT DISTINCT doc_id % 89 AS u,
         CASE WHEN doc_id % 5 = 0 THEN doc_id % 7
              ELSE (doc_id * 23 + 7) % 89 END AS v
  FROM documents
  WHERE doc_id % 89 <> CASE WHEN doc_id % 5 = 0 THEN doc_id % 7
                            ELSE (doc_id * 23 + 7) % 89 END
),
deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY 1
),
e AS (
  SELECT dx.deg AS x, dy.deg AS y
  FROM edges
  JOIN deg dx ON dx.n = edges.u
  JOIN deg dy ON dy.n = edges.v
),
agg AS (
  SELECT count(*) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM e
)
SELECT m, sx, sy, sxy,
       round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(m AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx)
                    * (CAST(m AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6)
           AS assortativity
FROM agg
"""

QUERIES["assortativity"] = (q_assortativity, SQL_ASSORTATIVITY)


def q_ndcg_eval(spark, sf_dir):
    """nDCG@10 ranking evaluation (Jarvelin & Kekalainen 2002 — the
    metric every retrieval stack reports next to the ROC-AUC already
    gated as quality_auc): 20 synthetic queries rank candidate docs
    by a deterministic score; graded relevance 0-3; DCG terms
    gain / log2(rank+1) are quantized to integer nanos PER ROW before
    the per-query sum (a 10-term double sum is aggregation-order-
    dependent; a 10-term long sum is not), and the ideal ordering
    re-ranks by relevance with the same quantization — so
    nDCG = dcg_u / idcg_u divides two exact integers. Scale shape:
    two key-partitioned top-10 windows, one agg."""
    d = _t(spark, sf_dir, "documents")
    cand = (d.select("doc_id",
                     F.explode(F.array(*[F.lit(q) for q in range(20)]))
                     .alias("qid"))
            .filter((F.col("doc_id") + F.col("qid")) % 7 < 2)
            .select("qid", "doc_id",
                    ((F.col("doc_id") * 31 + F.col("qid") * 17) % 1000)
                    .alias("score"),
                    ((F.col("doc_id") * 13 + F.col("qid")) % 4)
                    .alias("rel")))
    wr = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    wi = Window.partitionBy("qid").orderBy(F.desc("rel"), "doc_id")
    gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - 1.0
    ranked = (cand.withColumn("rnk", F.row_number().over(wr))
              .filter(F.col("rnk") <= 10)
              .withColumn("t", F.round(
                  gain / F.log2(F.col("rnk").cast("double") + 1.0)
                  * 1e9, 0).cast("long")))
    ideal = (cand.withColumn("rnk", F.row_number().over(wi))
             .filter(F.col("rnk") <= 10)
             .withColumn("t", F.round(
                 gain / F.log2(F.col("rnk").cast("double") + 1.0)
                 * 1e9, 0).cast("long")))
    dcg = ranked.groupBy("qid").agg(F.sum("t").alias("dcg_u"))
    idcg = ideal.groupBy("qid").agg(F.sum("t").alias("idcg_u"))
    return (dcg.join(idcg, "qid")
            .select("qid", "dcg_u", "idcg_u",
                    F.round(F.col("dcg_u").cast("double")
                            / F.col("idcg_u").cast("double"), 6)
                    .alias("ndcg10"))
            .orderBy("qid"))


SQL_NDCG = """
WITH cand AS (
  SELECT q.qid, d.doc_id,
         (d.doc_id * 31 + q.qid * 17) % 1000 AS score,
         (d.doc_id * 13 + q.qid) % 4 AS rel
  FROM documents d
  CROSS JOIN (SELECT unnest(range(20)) AS qid) q
  WHERE (d.doc_id + q.qid) % 7 < 2
),
ranked AS (
  SELECT qid, rel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id) AS rnk
  FROM cand
),
ideal AS (
  SELECT qid, rel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rel DESC, doc_id) AS rnk
  FROM cand
),
dcg AS (
  SELECT qid, CAST(sum(CAST(round((pow(2.0, rel) - 1.0)
              / log2(CAST(rnk AS DOUBLE) + 1.0) * 1e9, 0) AS BIGINT))
              AS BIGINT) AS dcg_u
  FROM ranked WHERE rnk <= 10 GROUP BY 1
),
idcg AS (
  SELECT qid, CAST(sum(CAST(round((pow(2.0, rel) - 1.0)
              / log2(CAST(rnk AS DOUBLE) + 1.0) * 1e9, 0) AS BIGINT))
              AS BIGINT) AS idcg_u
  FROM ideal WHERE rnk <= 10 GROUP BY 1
)
SELECT dcg.qid, dcg_u, idcg_u,
       round(CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE), 6)
           AS ndcg10
FROM dcg JOIN idcg ON idcg.qid = dcg.qid
ORDER BY dcg.qid
"""

QUERIES["ndcg_eval"] = (q_ndcg_eval, SQL_NDCG)


def q_pca_power(spark, sf_dir):
    """Top principal direction of the embedding matrix by THREE power
    iterations on X'X — in EXACT INTEGER algebra end to end:
    embedding components quantize once to milli-units, the iterate to
    micro-units, so the per-row dot product, the per-position
    accumulation, and the max-|component| normalizer are all
    order-independent long sums (a float PCA cannot be value-hash
    gated; this one can, because both engines execute the identical
    integer recurrence). Per pass: one broadcast-literal iterate, one
    vec-keyed agg, one pos-keyed agg, a 64-row collect — the Lloyd's
    k-means shape (operators/kmeans.py). At corpus scale the 1e3/1e6
    quantization budget bounds |w| well inside int64 up to ~1e9 rows
    per the docstring bound; rescale per round past that. Uncentered
    (top right-singular vector of raw X), as documented."""
    e = (_t(spark, sf_dir, "embeddings")
         .select("vec_id", F.posexplode("embedding")
                 .alias("pos", "val"))
         .select("vec_id", "pos",
                 F.round(F.col("val").cast("double") * 1e3, 0)
                 .cast("long").alias("val_u"))
         .cache())
    v_u = [125000] * 64  # 0.125 = 1/sqrt(64), exact in micro-units
    for _ in range(3):
        v_lit = F.array(*[F.lit(int(x)) for x in v_u])
        dots = (e.withColumn(
            "c", F.col("val_u")
            * F.element_at(v_lit, F.col("pos").cast("int") + 1))
            .groupBy("vec_id").agg(F.sum("c").alias("dot_u")))
        w = (e.join(dots, "vec_id")
             .groupBy("pos")
             .agg(F.sum(F.col("val_u") * F.col("dot_u")).alias("w")))
        rows = {int(r.pos): int(r.w) for r in w.collect()}
        wv = [rows.get(p, 0) for p in range(64)]
        m = max(abs(x) for x in wv) or 1
        # half-away-from-zero like both engines' round(); Python's
        # built-in round is banker's and would diverge on exact .5
        v_u = [int(math.copysign(
            math.floor(abs(float(x) / float(m) * 1e6) + 0.5), x))
            for x in wv]
    e.unpersist()
    out = [(p, v_u[p]) for p in range(64)]
    return spark.createDataFrame(out, "pos long, loading_micro long")


def _pca_power_sql():
    it = """
d{o} AS MATERIALIZED (
  SELECT vec_id, CAST(sum(val_u * v.v_u) AS BIGINT) AS dot_u
  FROM e JOIN v{i} v ON v.pos = e.pos GROUP BY 1
),
w{o} AS MATERIALIZED (
  SELECT e.pos, CAST(sum(e.val_u * d.dot_u) AS BIGINT) AS w
  FROM e JOIN d{o} d ON d.vec_id = e.vec_id GROUP BY 1
),
m{o} AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w{o}),
v{o} AS MATERIALIZED (
  SELECT pos, CAST(round(CAST(w AS DOUBLE)
                         / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS v_u
  FROM w{o} CROSS JOIN m{o}
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, g.i - 1 AS pos,
         CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1e3, 0)
              AS BIGINT) AS val_u
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) g
),
v0 AS MATERIALIZED (
  SELECT unnest(range(64)) AS pos, CAST(125000 AS BIGINT) AS v_u
),
{its}
SELECT pos, v_u AS loading_micro FROM v3 ORDER BY pos
"""


QUERIES["pca_power"] = (q_pca_power, _pca_power_sql())


def q_local_moran(spark, sf_dir):
    """Local Moran's I / LISA (Anselin 1995) — the per-cell
    decomposition that says WHICH cells drive the global Moran's I
    already gated as `moran`, completing the ESDA family (global
    Moran, Geary's C, Getis-Ord Gi*, Ripley's K): rook-neighbor
    binary weights on the full 36x17 quadrat lattice. Everything is
    exact-integer until one final division: deviations live in
    612ths (Z_i = 612*x_i - N, an integer), the spatial lag is a sum
    of four neighbor Z's, and I_i = 612 * Z_i * lag_i / sum(Z_k^2).
    Scale shape: density agg + 4-offset scatter equi-join on the
    lattice — empty cells carry Z = -N and must participate (they
    are where high-low outliers live), generated from a range cross,
    never densified from data."""
    pts = _doc_points(spark, sf_dir)
    q = (pts.select(F.floor((F.col("lon") + 180.0) / 10).alias("qx"),
                    F.floor((F.col("lat") + 85.0) / 10).alias("qy"))
         .groupBy("qx", "qy").agg(F.count(F.lit(1)).alias("x")))
    xs = spark.range(36).select(F.col("id").alias("qx"))
    ys = spark.range(17).select(F.col("id").alias("qy"))
    lat_ = xs.crossJoin(ys)
    cells = (lat_.join(q, ["qx", "qy"], "left")
             .select("qx", "qy",
                     F.coalesce(F.col("x"), F.lit(0)).alias("x")))
    tot = cells.agg(F.sum("x").alias("n_tot"))
    # Z_i needs N, so attach the 1-row total by broadcast; m2 sum of
    # Z^2 = sum((612 x - N)^2) computed after the attach
    z = (cells.crossJoin(F.broadcast(
        tot.select("n_tot")))
        .select("qx", "qy",
                (F.lit(612) * F.col("x") - F.col("n_tot")).alias("z")))
    m2 = z.agg(F.sum(F.col("z") * F.col("z")).alias("m2"))
    offs = F.array(F.struct(F.lit(1).alias("ox"), F.lit(0).alias("oy")),
                   F.struct(F.lit(-1).alias("ox"), F.lit(0).alias("oy")),
                   F.struct(F.lit(0).alias("ox"), F.lit(1).alias("oy")),
                   F.struct(F.lit(0).alias("ox"), F.lit(-1).alias("oy")))
    scat = (z.select("qx", "qy", "z", F.explode(offs).alias("k"))
            .select((F.col("qx") + F.col("k.ox")).alias("qx"),
                    (F.col("qy") + F.col("k.oy")).alias("qy"),
                    F.col("z").alias("zn"))
            .filter((F.col("qx") >= 0) & (F.col("qx") <= 35)
                    & (F.col("qy") >= 0) & (F.col("qy") <= 16)))
    lag = scat.groupBy("qx", "qy").agg(F.sum("zn").alias("lag"))
    out = (z.join(lag, ["qx", "qy"])
           .crossJoin(F.broadcast(m2)))
    li = (F.lit(612.0) * (F.col("z") * F.col("lag")).cast("double")
          / F.col("m2").cast("double"))
    return out.select("qx", "qy", "z", "lag",
                      F.round(li, 6).alias("local_i"))


SQL_LOCAL_MORAN = f"""
WITH pts AS ({_PTS_SQL}),
q AS (
  SELECT CAST(floor((lon + 180.0) / 10) AS BIGINT) AS qx,
         CAST(floor((lat + 85.0) / 10) AS BIGINT) AS qy,
         count(*) AS x
  FROM pts GROUP BY 1, 2
),
lat_ AS (
  SELECT a.qx, b.qy
  FROM (SELECT unnest(range(36)) AS qx) a,
       (SELECT unnest(range(17)) AS qy) b
),
cells AS MATERIALIZED (
  SELECT l.qx, l.qy, coalesce(q.x, 0) AS x
  FROM lat_ l LEFT JOIN q ON q.qx = l.qx AND q.qy = l.qy
),
tot AS (SELECT CAST(sum(x) AS BIGINT) AS n_tot FROM cells),
z AS MATERIALIZED (
  SELECT qx, qy, 612 * x - n_tot AS z FROM cells CROSS JOIN tot
),
m2 AS (SELECT CAST(sum(z * z) AS BIGINT) AS m2 FROM z),
lag AS (
  SELECT z.qx + t.ox AS qx, z.qy + t.oy AS qy,
         CAST(sum(z.z) AS BIGINT) AS lag
  FROM z CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) t(ox, oy)
  WHERE z.qx + t.ox BETWEEN 0 AND 35
    AND z.qy + t.oy BETWEEN 0 AND 16
  GROUP BY 1, 2
)
SELECT z.qx, z.qy, z.z, lag.lag,
       round(612.0 * CAST(z.z * lag.lag AS DOUBLE)
             / CAST(m2 AS DOUBLE), 6) AS local_i
FROM z JOIN lag ON lag.qx = z.qx AND lag.qy = z.qy
CROSS JOIN m2
"""

QUERIES["local_moran"] = (q_local_moran, SQL_LOCAL_MORAN)


def q_quadkey_compact(spark, sf_dir):
    """Compacted quadkey cover (H3 compact / S2 CellUnion normalize,
    in the Bing key space where parent == string prefix): the set of
    occupied z=8 quadkeys is reduced bottom-up — any 4 siblings all
    present collapse into their parent, three rounds, yielding the
    minimal prefix-free cover of the occupancy set. Pure string/set
    algebra on exact keys (groupBy prefix + count(DISTINCT last
    digit) == 4), each round one hash agg + one anti-join of
    collapsed children — no geometry, no floats anywhere. This is
    the op that turns a 10^9-tile occupancy list into the compact
    region index a tile server actually loads."""
    from pyproj_spark.functions.tiles import quadkey, tile_xy_from_lonlat
    from pyproj_spark.rows import map_rows
    pts = _doc_points(spark, sf_dir)
    tx, ty = tile_xy_from_lonlat(F.col("lon"), F.col("lat"), 8)
    cur = (pts.select(tx.alias("tx"), ty.alias("ty"))
           .select(quadkey(F.col("tx"), F.col("ty"), 8).alias("qk"))
           .distinct())

    # r6 plan shape: the three sibling-collapse rounds only ever merge
    # keys INSIDE their round-3 ancestor (a z=8 key's length-5 prefix),
    # so the whole bottom-up compaction runs as ONE hash-agg on the
    # 5-char prefix + a per-group set fold — 1 shuffle instead of the
    # old 3 rounds x (agg + anti-join) chain (~12 tiny stages whose
    # fixed overhead dominated at any scale where the occupied-tile
    # set is small relative to the cluster; at 10^9 tiles the single
    # agg also shuffles each key once instead of three times). The
    # per-level collapse below replays the round semantics exactly:
    # round r collapses length-(9-r) sibling quads iff all 4 are
    # present; re-attempted collapses of leftover lengths are no-ops
    # because rounds only remove length-L keys and add length-(L-1)
    # keys, never new length-L siblings.
    def _compact(keys):
        keys = set(keys)
        for lv in (8, 7, 6):
            for p in {k[:-1] for k in keys if len(k) == lv}:
                ch = {p + d for d in "0123"}
                if ch <= keys:
                    keys -= ch
                    keys.add(p)
        return [(k,) for k in sorted(keys)]

    comp = map_rows(cur.groupBy(F.substring("qk", 1, 5).alias("p5"))
                    .agg(F.collect_set("qk").alias("ks")),
                    ["ks"], "qk string", _compact)
    return comp.select("qk", F.length("qk").alias("level")) \
        .orderBy("qk")


def _quadkey_compact_sql() -> str:
    digit = ("substr('0123', 1 + CAST(((ty >> {s}) & 1) * 2"
             " + ((tx >> {s}) & 1) AS INT), 1)")
    qk = " || ".join(digit.format(s=8 - 1 - i) for i in range(8))
    it = """
full{o} AS MATERIALIZED (
  SELECT substr(qk, 1, length(qk) - 1) AS parent
  FROM c{i} GROUP BY 1
  HAVING count(DISTINCT substr(qk, length(qk), 1)) = 4
),
c{o} AS MATERIALIZED (
  SELECT qk FROM c{i}
  WHERE substr(qk, 1, length(qk) - 1) NOT IN
        (SELECT parent FROM full{o})
  UNION ALL
  SELECT parent AS qk FROM full{o}
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(3))
    return f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT least(greatest(CAST(floor((lon + 180.0) / 360.0 * 256)
                         AS BIGINT), 0), 255) AS tx,
         least(greatest(CAST(floor((1.0 - ln(tan(pi()/4 +
               radians(least(greatest(lat, -85.05112877980659),
                             85.05112877980659)) / 2)) / pi()) / 2.0
               * 256) AS BIGINT), 0), 255) AS ty
  FROM pts
),
c0 AS MATERIALIZED (SELECT DISTINCT {qk} AS qk FROM t),
{its}
SELECT qk, length(qk) AS level FROM c3 ORDER BY qk
"""


QUERIES["quadkey_compact"] = (q_quadkey_compact, _quadkey_compact_sql())


def q_ks_interarrival(spark, sf_dir):
    """Kolmogorov-Smirnov goodness-of-fit of event inter-arrivals
    against the exponential MLE (Massey 1951) per event type — "is
    this stream Poisson or bursty", the third classical test in the
    suite after the chi-square quadrat CSR and the Mann-Kendall
    trend. D = max over order statistics of max(i/n - F(x_i),
    F(x_i) - (i-1)/n). The CDF value per row quantizes to micro-units
    BEFORE the max (F_u = round(F * 1e6)), so the max compares exact
    integers scaled by n: D_num = max(i * 1e6 - n * F_u,
    n * F_u - (i-1) * 1e6) and D = D_num / (n * 1e6) — the only
    libm call (exp) is per-row and survives round-6 by the same ulp
    budget every trig gate here uses. Scale shape: one lag window +
    one rank window per type, one agg. Inter-arrivals are exact
    MICROSECOND longs (epoch_us both sides — the timestamps carry
    sub-second parts, and second-floor vs round diverges)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros(F.col("ts").cast("timestamp")))
    wt = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    dt = (ev.withColumn("prev", F.lag("t_us").over(wt))
          .filter(F.col("prev").isNotNull())
          .select("event_type",
                  (F.col("t_us") - F.col("prev")).alias("dt")))
    per = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy("dt")
    d = (dt.withColumn("n", F.count(F.lit(1)).over(per))
         .withColumn("sum_dt", F.sum("dt").over(per))
         .withColumn("i", F.row_number().over(wr)))
    lam = F.col("n").cast("double") / F.col("sum_dt").cast("double")
    f_u = F.round((1.0 - F.exp(-lam * F.col("dt").cast("double")))
                  * 1e6, 0).cast("long")
    i_l = F.col("i").cast("long")
    n_l = F.col("n").cast("long")
    d = d.withColumn(
        "d_num", F.greatest(
            i_l * F.lit(1000000).cast("long") - n_l * f_u,
            n_l * f_u - (i_l - 1) * F.lit(1000000).cast("long")))
    return (d.groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.max("sum_dt").alias("sum_dt"),
                 F.max("d_num").alias("d_num"))
            .select("event_type", "n", "sum_dt",
                    F.round(F.col("d_num").cast("double")
                            / (F.col("n").cast("double") * 1e6), 6)
                    .alias("ks_d")))


SQL_KS = """
WITH dt AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts),
               event_id)
),
d AS (
  SELECT event_type, dt,
         count(*) OVER p AS n,
         CAST(sum(dt) OVER p AS BIGINT) AS sum_dt,
         row_number() OVER (PARTITION BY event_type ORDER BY dt) AS i
  FROM dt WHERE dt IS NOT NULL
  WINDOW p AS (PARTITION BY event_type)
),
f AS (
  SELECT event_type, n, sum_dt, i,
         CAST(round((1.0 - exp(-(CAST(n AS DOUBLE)
                                 / CAST(sum_dt AS DOUBLE))
                               * CAST(dt AS DOUBLE))) * 1e6, 0)
              AS BIGINT) AS f_u
  FROM d
)
SELECT event_type, max(n) AS n, max(sum_dt) AS sum_dt,
       round(CAST(max(greatest(i * 1000000 - n * f_u,
                               n * f_u - (i - 1) * 1000000))
                  AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 1e6), 6)
           AS ks_d
FROM f GROUP BY event_type
"""

QUERIES["ks_interarrival"] = (q_ks_interarrival, SQL_KS)


def q_geo_median(spark, sf_dir):
    """Geometric median (1-median facility location) of the md5-
    placed doc points by FIVE Weiszfeld iterations (Weiszfeld 1937)
    — "where to put the depot", the robust companion to the mean
    center already gated in cell_moments. Exactness scheme: points
    and the iterate live in integer MILLI-degrees; per pass each
    point's weight is round(1e6 / max(dist, 0.01)) (sqrt is IEEE-
    correctly-rounded, so identical cross-engine; the floor bounds
    the weight so w * x stays well inside int64 at both gate SFs —
    rescale per decade of corpus growth), weighted sums are exact
    longs, and the next iterate re-quantizes — the kmeans rounded-
    pass discipline, so five passes replay bit-identically in SQL.
    Scale shape per pass: one broadcast literal center + one 1-row
    agg."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    hx = F.conv(F.substring(F.md5(i), 1, 8), 16, 10).cast("long")
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("y"), i)), 1, 8),
                16, 10).cast("long")
    pt = d.select((hx % 360000 - 180000).alias("x_m"),
                  (hy % 170000 - 85000).alias("y_m")) \
        .localCheckpoint(eager=False)
    c = pt.agg(F.floor(F.sum("x_m") / F.count(F.lit(1)))
               .cast("long").alias("cx"),
               F.floor(F.sum("y_m") / F.count(F.lit(1)))
               .cast("long").alias("cy")).collect()[0]
    cx, cy = int(c.cx), int(c.cy)
    for _ in range(5):
        dx = (F.col("x_m") - F.lit(cx)).cast("double") / 1e3
        dy = (F.col("y_m") - F.lit(cy)).cast("double") / 1e3
        dist = F.sqrt(dx * dx + dy * dy)
        w = F.round(F.lit(1e6) / F.greatest(dist, F.lit(1e-2)), 0) \
            .cast("long")
        agg = pt.agg(F.sum(w).alias("sw"),
                     F.sum(w * F.col("x_m")).alias("swx"),
                     F.sum(w * F.col("y_m")).alias("swy")).collect()[0]
        cx = int(math.floor(float(agg.swx) / float(agg.sw) + 0.5))
        cy = int(math.floor(float(agg.swy) / float(agg.sw) + 0.5))
    dxf = (F.col("x_m") - F.lit(cx)).cast("double") / 1e3
    dyf = (F.col("y_m") - F.lit(cy)).cast("double") / 1e3
    res = pt.agg(F.sum(F.round(F.sqrt(dxf * dxf + dyf * dyf) * 1e6, 0)
                       .cast("long")).alias("total_dist_u"))
    return res.select(F.lit(cx).alias("med_x_milli"),
                      F.lit(cy).alias("med_y_milli"),
                      "total_dist_u")


def _geo_median_sql():
    it = """
c{o} AS MATERIALIZED (
  SELECT CAST(floor(CAST(sum(w * x_m) AS DOUBLE)
                    / CAST(sum(w) AS DOUBLE) + 0.5) AS BIGINT) AS cx,
         CAST(floor(CAST(sum(w * y_m) AS DOUBLE)
                    / CAST(sum(w) AS DOUBLE) + 0.5) AS BIGINT) AS cy
  FROM (
    SELECT x_m, y_m,
           CAST(round(1e6 / greatest(sqrt(
                pow(CAST(x_m - c.cx AS DOUBLE) / 1e3, 2)
                + pow(CAST(y_m - c.cy AS DOUBLE) / 1e3, 2)), 1e-2),
                0) AS BIGINT) AS w
    FROM pt CROSS JOIN c{i} c) q
)"""
    its = ",".join(it.format(i=i, o=i + 1) for i in range(5))
    return f"""
WITH pt AS MATERIALIZED (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 360000 - 180000 AS x_m,
         CAST(('0x' || substr(md5('y' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 170000
             - 85000 AS y_m
  FROM documents
),
c0 AS MATERIALIZED (
  SELECT CAST(floor(CAST(sum(x_m) AS DOUBLE) / count(*)) AS BIGINT)
             AS cx,
         CAST(floor(CAST(sum(y_m) AS DOUBLE) / count(*)) AS BIGINT)
             AS cy
  FROM pt
),
{its}
SELECT c.cx AS med_x_milli, c.cy AS med_y_milli,
       CAST(sum(CAST(round(sqrt(
            pow(CAST(x_m - c.cx AS DOUBLE) / 1e3, 2)
            + pow(CAST(y_m - c.cy AS DOUBLE) / 1e3, 2)) * 1e6, 0)
            AS BIGINT)) AS BIGINT) AS total_dist_u
FROM pt CROSS JOIN c5 c
GROUP BY 1, 2
"""


QUERIES["geo_median"] = (q_geo_median, _geo_median_sql())


def q_raster_upsample(spark, sf_dir):
    """Bilinear 2x raster upsample (the inverse of the aggregation
    pyramid already gated as raster_pyramid; what a tile server does
    when a client overzooms past native resolution): each fine cell
    (2gx+sx, 2gy+sy) samples the coarse density raster at quarter-
    offset positions, so the bilinear weights are EXACTLY
    {9, 3, 3, 1}/16 — kept as integer SIXTEENTHS end to end (value16
    = 9a + 3b + 3c + d), zero floats in the whole query. Scale
    shape: density agg, then each coarse cell scatters to the <= 16
    fine cells it influences — one explode + one hash agg, never a
    fine->coarse 4-way join."""
    pts = _doc_points(spark, sf_dir)
    gx = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * 32)
                 .cast("long"), F.lit(31))
    gy = F.least(F.floor((F.col("lat") + 85.0) / 170.0 * 32)
                 .cast("long"), F.lit(31))
    dens = (pts.select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n")))
    # fine cell f = (fx, fy) at sample position ((fx+0.5)/2 - 0.5,
    # ...) in coarse space: the 4 coarse neighbors contribute with
    # sixteenth-weights; equivalently each coarse cell (gx, gy)
    # contributes weight w(dx, dy) to fine cells 2gx-1+dx, dx in
    # {0..3} — enumerate the 16 (offset, weight) pairs literally
    contrib = []
    for fdx in range(4):
        for fdy in range(4):
            wx = 3 if fdx in (1, 2) else 1
            wy = 3 if fdy in (1, 2) else 1
            contrib.append(F.struct(
                F.lit(fdx - 1).alias("ox"), F.lit(fdy - 1).alias("oy"),
                F.lit(wx * wy).alias("w")))
    sc = (dens.select("gx", "gy", "n",
                      F.explode(F.array(*contrib)).alias("k"))
          .select((2 * F.col("gx") + F.col("k.ox")).alias("fx"),
                  (2 * F.col("gy") + F.col("k.oy")).alias("fy"),
                  (F.col("k.w") * F.col("n")).alias("wn"))
          .filter((F.col("fx") >= 0) & (F.col("fx") <= 63)
                  & (F.col("fy") >= 0) & (F.col("fy") <= 63)))
    return (sc.groupBy("fx", "fy")
            .agg(F.sum("wn").alias("value16"))
            .filter(F.col("value16") > 0))


SQL_RASTER_UPSAMPLE = f"""
WITH pts AS ({_PTS_SQL}),
dens AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 32) AS BIGINT), 31)
             AS gx,
         least(CAST(floor((lat + 85.0) / 170.0 * 32) AS BIGINT), 31)
             AS gy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
),
offs AS (
  SELECT a.fdx, b.fdy,
         (CASE WHEN a.fdx IN (1, 2) THEN 3 ELSE 1 END)
         * (CASE WHEN b.fdy IN (1, 2) THEN 3 ELSE 1 END) AS w
  FROM (SELECT unnest(range(4)) AS fdx) a,
       (SELECT unnest(range(4)) AS fdy) b
)
SELECT 2 * gx + fdx - 1 AS fx, 2 * gy + fdy - 1 AS fy,
       CAST(sum(w * n) AS BIGINT) AS value16
FROM dens CROSS JOIN offs
WHERE 2 * gx + fdx - 1 BETWEEN 0 AND 63
  AND 2 * gy + fdy - 1 BETWEEN 0 AND 63
GROUP BY 1, 2
HAVING sum(w * n) > 0
ORDER BY 1, 2
"""

QUERIES["raster_upsample"] = (q_raster_upsample, SQL_RASTER_UPSAMPLE)


def q_clark_evans(spark, sf_dir):
    """Clark-Evans nearest-neighbor index (Clark & Evans 1954): the
    ratio of the observed mean nearest-neighbor distance to the CSR
    expectation 1/(2 sqrt(density)) — R < 1 clustered, R > 1
    dispersed; together with quadrat_csr and ripley_k this completes
    the classic point-pattern triad at three spatial scales. NN
    candidates come from the 3x3 scatter of 3-degree cells (the knox
    shape) and the statistic is computed over points whose NN lies
    within that window — a documented, deterministic truncation both
    engines share (points with no neighbor within 3 degrees are
    counted and reported, not silently dropped). NN distances
    quantize to integer micro-degrees before the sum."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    hx = F.conv(F.substring(F.md5(i), 1, 8), 16, 10).cast("long")
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("y"), i)), 1, 8),
                16, 10).cast("long")
    pt = d.select(
        F.col("doc_id"),
        ((hx % 360000) / 1000.0 - 180.0).alias("x"),
        ((hy % 170000) / 1000.0 - 85.0).alias("y"))
    pt = pt.withColumn("cx", F.floor((F.col("x") + 180.0) / 3)
                       .cast("long")) \
           .withColumn("cy", F.floor((F.col("y") + 85.0) / 3)
                       .cast("long"))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in range(-1, 2) for dy in range(-1, 2)])
    a = (pt.select("doc_id", "x", "y", "cx", "cy",
                   F.explode(d9).alias("k"))
         .select(F.col("doc_id").alias("ia"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"),
                 (F.col("cx") + F.col("k.dx")).alias("jcx"),
                 (F.col("cy") + F.col("k.dy")).alias("jcy")))
    b = pt.select(F.col("doc_id").alias("ib"), F.col("x").alias("xb"),
                  F.col("y").alias("yb"),
                  F.col("cx").alias("jcx"), F.col("cy").alias("jcy"))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    nn = (a.join(b, ["jcx", "jcy"])
          .filter(F.col("ia") != F.col("ib"))
          .groupBy("ia").agg(F.min(d2).alias("d2min")))
    nn_u = F.round(F.sqrt(F.col("d2min")) * 1e6, 0).cast("long")
    n_all = pt.count()
    agg = nn.agg(F.count(F.lit(1)).alias("n_with_nn"),
                 F.sum(nn_u).alias("sum_nn_u"))
    area = 360.0 * 170.0
    robs = (F.col("sum_nn_u").cast("double") / 1e6
            / F.col("n_with_nn").cast("double"))
    rexp = 0.5 / math.sqrt(n_all / area)
    return agg.select(
        F.lit(n_all).alias("n_points"), "n_with_nn", "sum_nn_u",
        F.round(robs, 6).alias("r_obs"),
        F.round(F.lit(rexp), 6).alias("r_exp"),
        F.round(robs / F.lit(rexp), 6).alias("ce_index"))


def _clark_evans_sql():
    return """
WITH pt AS (
  SELECT doc_id,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 360000) / 1000.0 - 180.0 AS x,
         (CAST(('0x' || substr(md5('y' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 170000) / 1000.0
             - 85.0 AS y
  FROM documents
),
cells AS (
  SELECT doc_id, x, y,
         CAST(floor((x + 180.0) / 3) AS BIGINT) AS cx,
         CAST(floor((y + 85.0) / 3) AS BIGINT) AS cy
  FROM pt
),
nn AS (
  SELECT a.doc_id AS ia,
         min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
             AS d2min
  FROM cells a JOIN cells b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.doc_id <> b.doc_id
  GROUP BY 1
),
n_all AS (SELECT count(*) AS n FROM pt),
agg AS (
  SELECT count(*) AS n_with_nn,
         CAST(sum(CAST(round(sqrt(d2min) * 1e6, 0) AS BIGINT))
              AS BIGINT) AS sum_nn_u
  FROM nn
)
SELECT n AS n_points, n_with_nn, sum_nn_u,
       round(CAST(sum_nn_u AS DOUBLE) / 1e6 / n_with_nn, 6) AS r_obs,
       round(0.5 / sqrt(n / (360.0 * 170.0)), 6) AS r_exp,
       round((CAST(sum_nn_u AS DOUBLE) / 1e6 / n_with_nn)
             / (0.5 / sqrt(n / (360.0 * 170.0))), 6) AS ce_index
FROM agg CROSS JOIN n_all
"""


QUERIES["clark_evans"] = (q_clark_evans, _clark_evans_sql())


def q_hill_alpha(spark, sf_dir):
    """Hill estimator of the power-law tail exponent of the host
    in-degree distribution (Hill 1975 — the MLE companion to the OLS
    rank-frequency fit already gated as zipf_fit; Clauset-Shalizi-
    Newman made it the standard): over the top-k order statistics,
    alpha = 1 + k / sum(ln(x_i / x_min)). Logs quantize to integer
    nanos per row before the sum (the zipf discipline), the tail is
    the exact top-32 by (degree, host) rank — deterministic ties —
    and x_min is the 33rd order statistic attached by a 1-row
    broadcast."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    edges = (d.select((k % 149).alias("u"),
                      (F.when(k % 3 == 0, k % 11)
                       .otherwise((k * 29 + 5) % 149)).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    deg = edges.groupBy("v").agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy(F.desc("x"), "v")
    ranked = deg.withColumn("r", F.row_number().over(w))
    xmin = (ranked.filter(F.col("r") == 33)
            .select(F.col("x").alias("xmin")))
    tail = ranked.filter(F.col("r") <= 32).crossJoin(F.broadcast(xmin))
    ln_u = F.round(F.log(F.col("x").cast("double")
                         / F.col("xmin").cast("double")) * 1e9, 0) \
        .cast("long")
    agg = tail.agg(F.count(F.lit(1)).alias("k_tail"),
                   F.max("xmin").alias("x_min"),
                   F.sum(ln_u).alias("sum_ln_u"))
    alpha = (1.0 + F.col("k_tail").cast("double")
             / (F.col("sum_ln_u").cast("double") / 1e9))
    return agg.select("k_tail", "x_min", "sum_ln_u",
                      F.round(alpha, 6).alias("alpha"))


SQL_HILL = """
WITH edges AS (
  SELECT DISTINCT doc_id % 149 AS u,
         CASE WHEN doc_id % 3 = 0 THEN doc_id % 11
              ELSE (doc_id * 29 + 5) % 149 END AS v
  FROM documents
  WHERE doc_id % 149 <> CASE WHEN doc_id % 3 = 0 THEN doc_id % 11
                             ELSE (doc_id * 29 + 5) % 149 END
),
deg AS (SELECT v, count(*) AS x FROM edges GROUP BY 1),
ranked AS (
  SELECT v, x, row_number() OVER (ORDER BY x DESC, v) AS r FROM deg
),
xmin AS (SELECT x AS xmin FROM ranked WHERE r = 33),
tail AS (
  SELECT ranked.x, xmin.xmin FROM ranked CROSS JOIN xmin
  WHERE ranked.r <= 32
),
agg AS (
  SELECT count(*) AS k_tail, max(xmin) AS x_min,
         CAST(sum(CAST(round(ln(CAST(x AS DOUBLE)
                                / CAST(xmin AS DOUBLE)) * 1e9, 0)
                       AS BIGINT)) AS BIGINT) AS sum_ln_u
  FROM tail
)
SELECT k_tail, x_min, sum_ln_u,
       round(1.0 + CAST(k_tail AS DOUBLE)
             / (CAST(sum_ln_u AS DOUBLE) / 1e9), 6) AS alpha
FROM agg
"""

QUERIES["hill_alpha"] = (q_hill_alpha, SQL_HILL)


def q_variogram(spark, sf_dir):
    """Empirical semivariogram (Matheron 1963 — the structure
    function every kriging model is fit to; the missing piece of the
    interpolation family next to idw_raster/idw_loocv/kde_raster):
    gamma(h) = sum (v_i - v_j)^2 / 2n over point pairs binned by
    separation, bins on squared distance (1, 4, 9 deg^2) so no sqrt
    enters the binning. Values are exact integers, squared
    differences are exact longs, one division per bin at the end.
    Pair candidates from the knox 3x3 cell scatter — each qualifying
    pair found exactly once, fan-out a constant 9x."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    hx = F.conv(F.substring(F.md5(i), 1, 8), 16, 10).cast("long")
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("y"), i)), 1, 8),
                16, 10).cast("long")
    hv = F.conv(F.substring(F.md5(F.concat(F.lit("v"), i)), 1, 8),
                16, 10).cast("long")
    pt = d.select(
        F.col("doc_id"),
        ((hx % 360000) / 1000.0 - 180.0).alias("x"),
        ((hy % 170000) / 1000.0 - 85.0).alias("y"),
        (hv % 1000).alias("v"))
    pt = pt.withColumn("cx", F.floor((F.col("x") + 180.0) / 3)
                       .cast("long")) \
           .withColumn("cy", F.floor((F.col("y") + 85.0) / 3)
                       .cast("long"))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in range(-1, 2) for dy in range(-1, 2)])
    a = (pt.select("doc_id", "x", "y", "v", "cx", "cy",
                   F.explode(d9).alias("k"))
         .select(F.col("doc_id").alias("ia"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"), F.col("v").alias("va"),
                 (F.col("cx") + F.col("k.dx")).alias("jcx"),
                 (F.col("cy") + F.col("k.dy")).alias("jcy")))
    b = pt.select(F.col("doc_id").alias("ib"), F.col("x").alias("xb"),
                  F.col("y").alias("yb"), F.col("v").alias("vb"),
                  F.col("cx").alias("jcx"), F.col("cy").alias("jcy"))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    pairs = (a.join(b, ["jcx", "jcy"])
             .filter((F.col("ia") < F.col("ib")) & (d2 <= F.lit(9.0)))
             .select(F.when(d2 < 1.0, 1).when(d2 < 4.0, 2)
                     .otherwise(3).alias("bin"),
                     ((F.col("va") - F.col("vb"))
                      * (F.col("va") - F.col("vb"))).alias("sq")))
    return (pairs.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("sq").alias("sum_sq"))
            .select("bin", "n_pairs", "sum_sq",
                    F.round(F.col("sum_sq").cast("double")
                            / (2.0 * F.col("n_pairs").cast("double")),
                            6).alias("gamma"))
            .orderBy("bin"))


SQL_VARIOGRAM = """
WITH pt AS (
  SELECT doc_id,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 360000) / 1000.0 - 180.0 AS x,
         (CAST(('0x' || substr(md5('y' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT) % 170000) / 1000.0
             - 85.0 AS y,
         CAST(('0x' || substr(md5('v' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 1000 AS v
  FROM documents
),
pairs AS (
  SELECT CASE WHEN (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) < 1.0 THEN 1
              WHEN (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) < 4.0 THEN 2
              ELSE 3 END AS bin,
         (a.v - b.v) * (a.v - b.v) AS sq
  FROM pt a JOIN pt b
    ON a.doc_id < b.doc_id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9.0
)
SELECT bin, count(*) AS n_pairs, CAST(sum(sq) AS BIGINT) AS sum_sq,
       round(CAST(sum(sq) AS DOUBLE) / (2.0 * count(*)), 6) AS gamma
FROM pairs GROUP BY 1 ORDER BY 1
"""

QUERIES["variogram"] = (q_variogram, SQL_VARIOGRAM)


def q_benford(spark, sf_dir):
    """Benford's-law first-digit audit (Benford 1938; the forensic
    data-quality screen next to dq_checks — fabricated or truncated
    numeric columns fail it): observed first-significant-digit counts
    of document lengths vs expected N * log10(1 + 1/d), expectation
    quantized to integer micros per digit so the chi-square terms
    divide exact integers by a shared deterministic double. One
    string-prefix projection + one 9-group agg."""
    d = _t(spark, sf_dir, "documents")
    digit = F.substring(F.col("n_chars").cast("string"), 1, 1) \
        .cast("long")
    obs = (d.filter(F.col("n_chars") > 0)
           .groupBy(digit.alias("digit"))
           .agg(F.count(F.lit(1)).alias("obs")))
    tot = obs.agg(F.sum("obs").alias("n"))
    j = obs.crossJoin(F.broadcast(tot))
    exp_u = F.round(F.col("n").cast("double")
                    * F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
                    * 1e6, 0).cast("long")
    j = j.withColumn("exp_u", exp_u)
    chi = ((F.col("obs").cast("double")
            - F.col("exp_u").cast("double") / 1e6)
           * (F.col("obs").cast("double")
              - F.col("exp_u").cast("double") / 1e6)
           / (F.col("exp_u").cast("double") / 1e6))
    return (j.select("digit", "obs", "exp_u",
                     F.round(chi, 6).alias("chi2_term"))
            .orderBy("digit"))


SQL_BENFORD = """
WITH obs AS (
  SELECT CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT)
             AS digit,
         count(*) AS obs
  FROM documents WHERE n_chars > 0
  GROUP BY 1
),
tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM obs),
j AS (
  SELECT digit, obs, n,
         CAST(round(CAST(n AS DOUBLE)
                    * log10(1.0 + 1.0 / digit) * 1e6, 0) AS BIGINT)
             AS exp_u
  FROM obs CROSS JOIN tot
)
SELECT digit, obs, exp_u,
       round((obs - CAST(exp_u AS DOUBLE) / 1e6)
             * (obs - CAST(exp_u AS DOUBLE) / 1e6)
             / (CAST(exp_u AS DOUBLE) / 1e6), 6) AS chi2_term
FROM j ORDER BY digit
"""

QUERIES["benford"] = (q_benford, SQL_BENFORD)


def q_two_prop_test(spark, sf_dir):
    """Two-proportion z-test (the A/B-test readout): users split into
    arms by user_id parity; success = the user ever purchased.
    Wald z with pooled variance from FIVE exact integers (n, k per
    arm + pooled), one closed form at the end — the experimentation
    primitive next to quality_auc (offline) and burst_detect
    (temporal). Per-user success first (one distinct), then one
    1-row reduction."""
    ev = _t(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg((F.sum((F.col("event_type") == "purchase")
                            .cast("long")) >= 14).cast("long")
                     .alias("converted"))
                .withColumn("arm", (F.col("user_id") % 2).cast("long")))
    agg = (per_user.groupBy("arm")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("converted").alias("k")))
    a = agg.filter(F.col("arm") == 0).select(
        F.col("n").alias("n1"), F.col("k").alias("k1"))
    b = agg.filter(F.col("arm") == 1).select(
        F.col("n").alias("n2"), F.col("k").alias("k2"))
    j = a.crossJoin(b)
    n1, k1 = F.col("n1").cast("double"), F.col("k1").cast("double")
    n2, k2 = F.col("n2").cast("double"), F.col("k2").cast("double")
    p1, p2 = k1 / n1, k2 / n2
    pp = (k1 + k2) / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    return j.select("n1", "k1", "n2", "k2",
                    F.round(p1 - p2, 6).alias("lift"),
                    F.round(z, 6).alias("z"))


SQL_TWO_PROP = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS converted,
         user_id % 2 AS arm
  FROM events GROUP BY user_id
),
agg AS (
  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS k
  FROM per_user GROUP BY arm
),
j AS (
  SELECT a.n AS n1, a.k AS k1, b.n AS n2, b.k AS k2
  FROM (SELECT n, k FROM agg WHERE arm = 0) a
  CROSS JOIN (SELECT n, k FROM agg WHERE arm = 1) b
)
SELECT n1, k1, n2, k2,
       round(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2, 6)
           AS lift,
       round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
             / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z
FROM j
"""

QUERIES["two_prop_test"] = (q_two_prop_test, SQL_TWO_PROP)


def q_dem_curvature(spark, sf_dir):
    """Terrain curvature (Zevenbergen & Thorne 1987) over the density
    DEM: per occupied cell the exact integer second differences —
    d2x = z_w + z_e - 2z, d2y = z_s + z_n - 2z, the cross term
    -z_nw + z_ne + z_sw - z_se, and the Laplacian d2x + d2y (the
    convexity raster driving ridge/valley classification). Same
    scatter-sum shape as dem_slope/terrain_tpi: each occupied cell
    throws integer-weighted contributions (self weight -2 via the
    (0,0) offset), one hash agg gathers, missing neighbors are
    implicit zeros."""
    pts = _doc_points(spark, sf_dir)
    ras = (pts.select(F.floor(F.col("lon") / 6).cast("long").alias("gx"),
                      F.floor(F.col("lat") / 6).cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            wx2 = (1 if (abs(ox) == 1 and oy == 0) else
                   (-2 if (ox == 0 and oy == 0) else 0))
            wy2 = (1 if (abs(oy) == 1 and ox == 0) else
                   (-2 if (ox == 0 and oy == 0) else 0))
            wc = (-1 if (ox, oy) in ((-1, 1), (1, -1)) else
                  (1 if (ox, oy) in ((1, 1), (-1, -1)) else 0))
            if wx2 == 0 and wy2 == 0 and wc == 0:
                continue
            offs.append(F.struct(
                F.lit(ox).alias("ox"), F.lit(oy).alias("oy"),
                F.lit(wx2).alias("wx2"), F.lit(wy2).alias("wy2"),
                F.lit(wc).alias("wc")))
    sc = (ras.select("gx", "gy", "cnt",
                     F.explode(F.array(*offs)).alias("o"))
          .select((F.col("gx") - F.col("o.ox")).alias("tx"),
                  (F.col("gy") - F.col("o.oy")).alias("ty"),
                  (F.col("cnt") * F.col("o.wx2")).alias("c2x"),
                  (F.col("cnt") * F.col("o.wy2")).alias("c2y"),
                  (F.col("cnt") * F.col("o.wc")).alias("cc")))
    curv = (sc.groupBy("tx", "ty")
            .agg(F.sum("c2x").alias("d2x"), F.sum("c2y").alias("d2y"),
                 F.sum("cc").alias("cross4")))
    occupied = ras.select(F.col("gx").alias("tx"),
                          F.col("gy").alias("ty"))
    return (occupied.join(curv, ["tx", "ty"], "left")
            .select("tx", "ty",
                    F.coalesce("d2x", F.lit(0)).alias("d2x"),
                    F.coalesce("d2y", F.lit(0)).alias("d2y"),
                    F.coalesce("cross4", F.lit(0)).alias("cross4"))
            .withColumn("laplacian", F.col("d2x") + F.col("d2y")))


SQL_DEM_CURVATURE = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor(lon / 6) AS BIGINT) AS gx,
         CAST(floor(lat / 6) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM pts GROUP BY 1, 2
),
offs AS (
  SELECT * FROM (VALUES
    (-1, 0, 1, 0, 0), (1, 0, 1, 0, 0),
    (0, -1, 0, 1, 0), (0, 1, 0, 1, 0),
    (0, 0, -2, -2, 0),
    (-1, 1, 0, 0, -1), (1, -1, 0, 0, -1),
    (1, 1, 0, 0, 1), (-1, -1, 0, 0, 1)
  ) t(ox, oy, wx2, wy2, wc)
),
sc AS (
  SELECT gx - ox AS tx, gy - oy AS ty,
         cnt * wx2 AS c2x, cnt * wy2 AS c2y, cnt * wc AS cc
  FROM ras CROSS JOIN offs
),
curv AS (
  SELECT tx, ty, CAST(sum(c2x) AS BIGINT) AS d2x,
         CAST(sum(c2y) AS BIGINT) AS d2y,
         CAST(sum(cc) AS BIGINT) AS cross4
  FROM sc GROUP BY 1, 2
)
SELECT r.gx AS tx, r.gy AS ty,
       coalesce(c.d2x, 0) AS d2x, coalesce(c.d2y, 0) AS d2y,
       coalesce(c.cross4, 0) AS cross4,
       coalesce(c.d2x, 0) + coalesce(c.d2y, 0) AS laplacian
FROM ras r LEFT JOIN curv c ON c.tx = r.gx AND c.ty = r.gy
"""

QUERIES["dem_curvature"] = (q_dem_curvature, SQL_DEM_CURVATURE)


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test per host (the randomness check on a
    daily volume sequence — too FEW runs means regime persistence,
    too many means oscillation; completes the nonparametric suite
    with ks_interarrival and quadrat_csr): days flagged above/below
    the host's median daily volume (exact lower median by
    row_number), runs counted as flag-change islands (one lag
    window), and the z-score from the exact integer triple
    (n_plus, n_minus, runs) via the closed-form mean/variance.
    Ties-on-median days are excluded, the textbook treatment."""
    d = _t(spark, sf_dir, "documents")
    # day decorrelated from source: doc_id % 30 shares residues with
    # the source assignment and collapses to 3 days per host
    daily = (d.select("source",
                      (F.floor(F.col("doc_id") / 20).cast("long")
                       % 30).alias("day"), "n_chars")
             .groupBy("source", "day")
             .agg(F.sum("n_chars").alias("y")))
    wv = Window.partitionBy("source").orderBy("y", "day")
    cnt = Window.partitionBy("source")
    med = (daily.withColumn("rn", F.row_number().over(wv))
           .withColumn("n", F.count(F.lit(1)).over(cnt))
           .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("source", F.col("y").alias("med")))
    t = (daily.join(med, "source")
         .filter(F.col("y") != F.col("med"))
         .select("source", "day",
                 (F.col("y") > F.col("med")).cast("int").alias("f")))
    wo = Window.partitionBy("source").orderBy("day")
    t = t.withColumn("chg", F.when(
        F.lag("f").over(wo).isNull()
        | (F.lag("f").over(wo) != F.col("f")), 1).otherwise(0))
    agg = (t.groupBy("source")
           .agg(F.sum("chg").alias("runs"),
                F.sum("f").alias("n_plus"),
                F.sum(F.lit(1) - F.col("f")).alias("n_minus")))
    np_, nm = F.col("n_plus").cast("double"), \
        F.col("n_minus").cast("double")
    n = np_ + nm
    mu = 2.0 * np_ * nm / n + 1.0
    var = (2.0 * np_ * nm * (2.0 * np_ * nm - n)
           / (n * n * (n - 1.0)))
    # guard BEFORE the division: ANSI mode evaluates the projection
    # expression for every aggregated row, filter or not, and a
    # 1-up/1-down host has variance exactly 0
    z = F.when(var > 0,
               (F.col("runs").cast("double") - mu) / F.sqrt(var))
    return (agg.filter((F.col("n_plus") > 0) & (F.col("n_minus") > 0)
                       & (2 * F.col("n_plus") * F.col("n_minus")
                          > F.col("n_plus") + F.col("n_minus")))
            .select("source", "runs", "n_plus", "n_minus",
                    F.round(z, 6).alias("z")))


SQL_RUNS_TEST = """
WITH daily AS (
  SELECT source, CAST(floor(doc_id / 20.0) AS BIGINT) % 30 AS day,
         CAST(sum(n_chars) AS BIGINT) AS y
  FROM documents GROUP BY 1, 2
),
med AS (
  SELECT source, y AS med FROM (
    SELECT source, y,
           row_number() OVER (PARTITION BY source
                              ORDER BY y, day) AS rn,
           count(*) OVER (PARTITION BY source) AS n
    FROM daily)
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
),
t AS (
  SELECT d.source, d.day,
         CASE WHEN d.y > m.med THEN 1 ELSE 0 END AS f
  FROM daily d JOIN med m ON m.source = d.source
  WHERE d.y <> m.med
),
runs AS (
  SELECT source, day, f,
         CASE WHEN lag(f) OVER w IS NULL
                OR lag(f) OVER w <> f THEN 1 ELSE 0 END AS chg
  FROM t
  WINDOW w AS (PARTITION BY source ORDER BY day)
),
agg AS (
  SELECT source, CAST(sum(chg) AS BIGINT) AS runs,
         CAST(sum(f) AS BIGINT) AS n_plus,
         CAST(sum(1 - f) AS BIGINT) AS n_minus
  FROM runs GROUP BY source
)
SELECT source, runs, n_plus, n_minus,
       round((runs - (2.0 * n_plus * n_minus
                      / (n_plus + n_minus) + 1.0))
             / sqrt(2.0 * n_plus * n_minus
                    * (2.0 * n_plus * n_minus - (n_plus + n_minus))
                    / (CAST(n_plus + n_minus AS DOUBLE)
                       * (n_plus + n_minus)
                       * (n_plus + n_minus - 1.0))), 6) AS z
FROM agg WHERE n_plus > 0 AND n_minus > 0
  AND 2 * n_plus * n_minus > n_plus + n_minus
"""

QUERIES["runs_test"] = (q_runs_test, SQL_RUNS_TEST)


#: three fixed facility sites (lon, lat) — shared by both engines
FACILITY_SITES = [(0, -120.0, 40.0), (1, 10.0, 50.0), (2, 115.0, -25.0)]


def q_nearest_facility(spark, sf_dir):
    """Nearest-facility (discrete Voronoi) assignment: every doc
    point routes to its nearest of three fixed sites by squared
    Euclidean degree distance (argmin folded into one min_by-free
    least-chain so both engines break ties identically), then
    per-site service-area stats with integer-micro distance sums —
    the service-territory primitive under every fleet dispatcher.
    Scale shape: 3 literal comparisons per row, zero joins, one
    agg."""
    pts = _doc_points(spark, sf_dir)
    d2s = [((F.col("lon") - F.lit(sx)) * (F.col("lon") - F.lit(sx))
            + (F.col("lat") - F.lit(sy)) * (F.col("lat") - F.lit(sy)))
           for _, sx, sy in FACILITY_SITES]
    best = F.least(*d2s)
    site = (F.when(d2s[0] == best, 0)
            .when(d2s[1] == best, 1).otherwise(2))
    t = pts.select(site.alias("site"),
                   F.round(F.sqrt(best) * 1e6, 0).cast("long")
                   .alias("dist_u"))
    return (t.groupBy("site")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("dist_u").alias("sum_dist_u"),
                 F.max("dist_u").alias("max_dist_u"))
            .orderBy("site"))


def _nearest_facility_sql():
    d2 = ["(lon - ({x})) * (lon - ({x})) + (lat - ({y})) "
          "* (lat - ({y}))".format(x=x, y=y)
          for _, x, y in FACILITY_SITES]
    best = f"least({d2[0]}, {d2[1]}, {d2[2]})"
    return f"""
WITH pts AS ({_PTS_SQL}),
t AS (
  SELECT CASE WHEN {d2[0]} = {best} THEN 0
              WHEN {d2[1]} = {best} THEN 1 ELSE 2 END AS site,
         CAST(round(sqrt({best}) * 1e6, 0) AS BIGINT) AS dist_u
  FROM pts
)
SELECT site, count(*) AS n_points,
       CAST(sum(dist_u) AS BIGINT) AS sum_dist_u,
       max(dist_u) AS max_dist_u
FROM t GROUP BY 1 ORDER BY 1
"""


QUERIES["nearest_facility"] = (q_nearest_facility,
                               _nearest_facility_sql())


def q_two_sfca(spark, sf_dir):
    """Two-step floating catchment area accessibility (Luo & Wang
    2003 — the standard spatial-accessibility measure in health
    geography): step 1 gives each supply cell a ratio R_j = S_j /
    (demand within its catchment); step 2 sums R_j over the supply
    cells reachable from each demand cell. Catchment = the 3x3
    neighborhood of 10-degree cells, both steps pure equi-join
    scatters; R quantizes to integer nanos between the steps so the
    final accessibility is an exact long sum. Supply = top-12 density
    cells (count as capacity), demand = all points."""
    pts = _doc_points(spark, sf_dir)
    cell = pts.select(
        F.floor((F.col("lon") + 180.0) / 10).alias("cx"),
        F.floor((F.col("lat") + 85.0) / 10).alias("cy"))
    dem = cell.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("d"))
    sup = (dem.orderBy(F.col("d").desc(), "cx", "cy").limit(12)
           .select(F.col("cx").alias("sx"), F.col("cy").alias("sy"),
                   F.col("d").alias("s")))
    d9 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                   for dx in range(-1, 2) for dy in range(-1, 2)])
    # step 1: demand reachable from each supply cell
    reach = (sup.select("sx", "sy", "s", F.explode(d9).alias("k"))
             .select("sx", "sy", "s",
                     (F.col("sx") + F.col("k.dx")).alias("cx"),
                     (F.col("sy") + F.col("k.dy")).alias("cy")))
    r = (reach.join(dem, ["cx", "cy"])
         .groupBy("sx", "sy", "s")
         .agg(F.sum("d").alias("dem_in")))
    r = r.select("sx", "sy",
                 F.round(F.col("s").cast("double")
                         / F.col("dem_in").cast("double") * 1e9, 0)
                 .cast("long").alias("r_u"))
    # step 2: accessibility of each demand cell = sum of reachable R
    cover = (r.select("sx", "sy", "r_u", F.explode(d9).alias("k"))
             .select((F.col("sx") + F.col("k.dx")).alias("cx"),
                     (F.col("sy") + F.col("k.dy")).alias("cy"),
                     F.col("r_u")))
    acc = (dem.join(cover, ["cx", "cy"])
           .groupBy("cx", "cy", "d")
           .agg(F.sum("r_u").alias("acc_u"),
                F.count(F.lit(1)).alias("n_sites")))
    return acc.select("cx", "cy", "d", "n_sites", "acc_u",
                      F.round(F.col("acc_u").cast("double") / 1e9, 6)
                      .alias("accessibility"))


SQL_TWO_SFCA = f"""
WITH pts AS ({_PTS_SQL}),
dem AS (
  SELECT CAST(floor((lon + 180.0) / 10) AS BIGINT) AS cx,
         CAST(floor((lat + 85.0) / 10) AS BIGINT) AS cy,
         count(*) AS d
  FROM pts GROUP BY 1, 2
),
sup AS (
  SELECT cx AS sx, cy AS sy, d AS s FROM dem
  ORDER BY d DESC, cx, cy LIMIT 12
),
offs AS (
  SELECT a.dx, b.dy
  FROM (SELECT unnest([-1, 0, 1]) AS dx) a,
       (SELECT unnest([-1, 0, 1]) AS dy) b
),
r AS (
  SELECT sx, sy,
         CAST(round(CAST(max(s) AS DOUBLE)
                    / CAST(sum(d) AS DOUBLE) * 1e9, 0) AS BIGINT)
             AS r_u
  FROM (
    SELECT sup.sx, sup.sy, sup.s, dem.d
    FROM sup CROSS JOIN offs
    JOIN dem ON dem.cx = sup.sx + offs.dx
            AND dem.cy = sup.sy + offs.dy) q
  GROUP BY 1, 2
),
cover AS (
  SELECT r.sx + offs.dx AS cx, r.sy + offs.dy AS cy, r.r_u
  FROM r CROSS JOIN offs
)
SELECT dem.cx, dem.cy, dem.d, count(*) AS n_sites,
       CAST(sum(cover.r_u) AS BIGINT) AS acc_u,
       round(CAST(sum(cover.r_u) AS DOUBLE) / 1e9, 6)
           AS accessibility
FROM dem JOIN cover ON cover.cx = dem.cx AND cover.cy = dem.cy
GROUP BY 1, 2, 3
"""

QUERIES["two_sfca"] = (q_two_sfca, SQL_TWO_SFCA)


def q_raster_hist_eq(spark, sf_dir):
    """Histogram equalization of the density raster (the contrast
    stretch every map-tile renderer applies before colorizing): the
    classic remap out = floor((cdf(v) - cdf_min) * 255 / (n - 1 -
    cdf_min)) computed ENTIRELY in exact integers — histogram of cell
    values, one cumulative window over the (tiny) value domain, a
    broadcast join back to cells. Never a per-pixel sort: the window
    runs over DISTINCT VALUES (bounded by the value range), not over
    cells."""
    pts = _doc_points(spark, sf_dir)
    # 16x16 grid: occupied-cell values must COLLIDE for a histogram
    # to exist (a 64x64 grid at gate scale gives every cell v=1 — a
    # single-value histogram and a zero denominator)
    ras = (pts.select(F.floor((F.col("lon") + 180.0) / 360.0 * 16)
                      .cast("long").alias("gx"),
                      F.floor((F.col("lat") + 85.0) / 170.0 * 16)
                      .cast("long").alias("gy"))
           .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("v")))
    hist = ras.groupBy("v").agg(F.count(F.lit(1)).alias("h"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.withColumn("cdf", F.sum("h").over(wv))
    tot = cdf.agg(F.max("cdf").alias("n"),
                  F.min("cdf").alias("cdf_min"))
    remap = (cdf.crossJoin(F.broadcast(tot))
             .select("v", F.floor(
                 (F.col("cdf") - F.col("cdf_min")).cast("double")
                 * 255.0
                 / F.greatest(F.col("n") - F.col("cdf_min"),
                              F.lit(1)).cast("double"))
                 .cast("long").alias("eq")))
    out = ras.join(F.broadcast(remap), "v")
    return (out.groupBy("eq")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.min("v").alias("v_lo"), F.max("v").alias("v_hi"))
            .orderBy("eq"))


SQL_RASTER_HIST_EQ = f"""
WITH pts AS ({_PTS_SQL}),
ras AS (
  SELECT CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT) AS gx,
         CAST(floor((lat + 85.0) / 170.0 * 16) AS BIGINT) AS gy,
         count(*) AS v
  FROM pts GROUP BY 1, 2
),
hist AS (SELECT v, count(*) AS h FROM ras GROUP BY 1),
cdf AS (
  SELECT v, CAST(sum(h) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cdf
  FROM hist
),
tot AS (SELECT max(cdf) AS n, min(cdf) AS cdf_min FROM cdf),
remap AS (
  SELECT v, CAST(floor(CAST(cdf - cdf_min AS DOUBLE) * 255.0
                       / CAST(greatest(n - cdf_min, 1) AS DOUBLE))
              AS BIGINT) AS eq
  FROM cdf CROSS JOIN tot
)
SELECT remap.eq, count(*) AS n_cells,
       min(ras.v) AS v_lo, max(ras.v) AS v_hi
FROM ras JOIN remap ON remap.v = ras.v
GROUP BY 1 ORDER BY 1
"""

QUERIES["raster_hist_eq"] = (q_raster_hist_eq, SQL_RASTER_HIST_EQ)


def q_cell_turnover(spark, sf_dir):
    """Spatial churn between two crawl epochs: Jaccard overlap of the
    occupied-cell sets for the first vs second half of the corpus
    (by doc_id parity — deterministic epoch split), per 10-degree
    cell row-band plus the global row. The "did the footprint move"
    check run after every recrawl; exact set algebra end to end
    (full-outer presence markers, integer counts, one division)."""
    pts = _doc_points(spark, sf_dir)
    c = pts.select(
        F.floor((F.col("lon") + 180.0) / 10).alias("cx"),
        F.floor((F.col("lat") + 85.0) / 10).alias("cy"),
        (F.col("doc_id") % 2).alias("epoch"))
    occ = c.distinct()
    a = (occ.filter(F.col("epoch") == 0).select("cx", "cy")
         .withColumn("a", F.lit(1)))
    b = (occ.filter(F.col("epoch") == 1).select("cx", "cy")
         .withColumn("b", F.lit(1)))
    j = a.join(b, ["cx", "cy"], "full_outer")
    band = (j.groupBy("cy")
            .agg(F.sum(F.when(F.col("a").isNotNull()
                              & F.col("b").isNotNull(), 1)
                       .otherwise(0)).alias("n_both"),
                 F.count(F.lit(1)).alias("n_union")))
    return band.select(
        "cy", "n_both", "n_union",
        F.round(F.col("n_both").cast("double")
                / F.col("n_union").cast("double"), 6)
        .alias("jaccard")).orderBy("cy")


SQL_CELL_TURNOVER = f"""
WITH pts AS ({_PTS_SQL}),
occ AS (
  SELECT DISTINCT CAST(floor((lon + 180.0) / 10) AS BIGINT) AS cx,
         CAST(floor((lat + 85.0) / 10) AS BIGINT) AS cy,
         doc_id % 2 AS epoch
  FROM pts
),
a AS (SELECT cx, cy FROM occ WHERE epoch = 0),
b AS (SELECT cx, cy FROM occ WHERE epoch = 1),
j AS (
  SELECT coalesce(a.cy, b.cy) AS cy,
         CASE WHEN a.cx IS NOT NULL AND b.cx IS NOT NULL
              THEN 1 ELSE 0 END AS both_
  FROM a FULL OUTER JOIN b ON b.cx = a.cx AND b.cy = a.cy
)
SELECT cy, CAST(sum(both_) AS BIGINT) AS n_both,
       count(*) AS n_union,
       round(CAST(sum(both_) AS DOUBLE) / count(*), 6) AS jaccard
FROM j GROUP BY cy ORDER BY cy
"""

QUERIES["cell_turnover"] = (q_cell_turnover, SQL_CELL_TURNOVER)
