"""Geo-anchor extraction from page text — pure Catalyst regex.

The first derived table of the graft (SURVEY.md §1.5 / §2.6):
``anchors(url, anchor_idx, anchor_text, lon, lat, src_crs)``.

Extraction is a single ``regexp_extract_all`` + ``posexplode`` — fully
native, no Python. The per-url byte-identity contract (BASELINE.json
input_hint) is tested against the reference extractor
:func:`extract_anchors_py` below.

Anchors in a projected source CRS are normalized to EPSG:4326 lon/lat by
one Arrow-UDF transform per distinct src_crs (grouped so each batch
runs ONE kernel — never per-row planning, cf. the 160ms-vs-6µs replan
cost in the reference docs/advanced_examples.rst:13-44).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.crs.crs import CRS
from pyproj_spark.plans.spec import TransformSpec, get_kernel
from pyproj_spark.rows import map_arrays

ANCHOR_RE = r"@geo\((-?\d+\.\d+),(-?\d+\.\d+)(?:,(EPSG:\d+))?\)"
_ANCHOR_RE_PY = re.compile(ANCHOR_RE)


def extract_anchors(pages: DataFrame, normalize_crs: bool = True
                    ) -> DataFrame:
    """pages -> anchors. Columns: url, anchor_idx, anchor_text, x, y,
    src_crs, lon, lat (lon/lat always EPSG:4326 when normalize_crs)."""
    # ONE full-text regex pass finds the anchors; the per-anchor fields
    # then parse with substring+split instead of three more
    # regexp_extract passes over each anchor (guide §1/§4: same bytes,
    # ~2x cheaper per anchor — a matched anchor is exactly
    # "@geo(<x>,<y>[,EPSG:<n>])", so splitting the inside on "," yields
    # the same capture-group strings the regex would, and the casts are
    # applied to identical text).
    parts = F.split(F.substring(F.col("anchor_text"), 6,
                                F.length("anchor_text") - F.lit(6)),
                    ",")
    a = (
        pages
        .select(
            "url",
            F.posexplode(
                F.regexp_extract_all("text", F.lit(ANCHOR_RE), 0)
            ).alias("anchor_idx", "anchor_text"),
        )
        .select(
            "url", "anchor_idx", "anchor_text",
            F.get(parts, 0).cast("double").alias("x"),
            F.get(parts, 1).cast("double").alias("y"),
            F.coalesce(F.get(parts, 2),
                       F.lit("EPSG:4326")).alias("src_crs"),
        )
    )
    if not normalize_crs:
        return a
    # Single-pass mixed-CRS normalization: ONE Arrow UDF groups each
    # Arrow batch by src_crs and runs the per-CRS kernel on each group
    # (kernels are planned once per worker, cached by spec). No driver
    # collect(), no per-CRS scan/union — the fact table is read exactly
    # once, which is what keeps the flagship pipeline scan-bound at
    # scale (a distinct+collect here cost ~7s of serial time per job).
    ll = normalize_to_4326(F.col("x"), F.col("y"), F.col("src_crs"))
    return (a.withColumn("_ll", ll)
            .withColumn("lon", F.col("_ll.x"))
            .withColumn("lat", F.col("_ll.y"))
            .drop("_ll"))


def _epsg_code(src_crs) -> "F.Column":
    """Native int EPSG code from an 'AUTH:1234' string column — the
    Arrow crossing then carries a 4-byte int instead of a ~9-byte
    string that the Python worker would have to materialize as 5M
    Python str objects per 2M pages (measured: the string column was
    most of the ArrowEvalPython stage cost; guide §2.3 narrower
    types / §4.1 fewer bytes across the boundary)."""
    return F.split(src_crs, ":").getItem(1).cast("int")


def _to_4326(x: np.ndarray, y: np.ndarray, codes: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray]:
    """Fresh float64 lon/lat arrays of one Arrow batch: the rows of each
    distinct EPSG code other than 4326 go through that code's cached
    kernel in one call."""
    x = np.asarray(x, dtype=np.float64).copy()
    y = np.asarray(y, dtype=np.float64).copy()
    for code in np.unique(codes):
        if code == 4326:
            continue
        ii = np.flatnonzero(codes == code)
        k = get_kernel(TransformSpec(CRS.from_epsg(int(code)).srs,
                                     "EPSG:4326", always_xy=True))
        x[ii], y[ii], _ = k(x[ii], y[ii])
    return x, y


def normalize_to_4326(x, y, src_crs):
    """struct<x,y> Arrow-UDF: transform mixed-CRS coordinate columns to
    EPSG:4326 lon/lat, batching per distinct src_crs inside each Arrow
    batch (the per-worker kernel cache makes replans free). The CRS
    column crosses the boundary as its native-extracted int EPSG code,
    and pyarrow arrays (no pandas Series) cross on both sides."""
    return map_arrays("struct<x:double,y:double>", _to_4326,
                      x, y, _epsg_code(src_crs))


def normalize_and_project(x, y, src_crs, target: str = "EPSG:3857"):
    """struct<lon,lat,px,py> Arrow-UDF: ONE Python crossing that both
    normalizes mixed-CRS anchors to EPSG:4326 AND projects them to the
    target CRS. The flagship pipeline uses this instead of two chained
    UDFs — halving Arrow traffic matters more than anything else in the
    hot path (each ArrowEvalPython node is a full serialize/deserialize
    of the anchor stream)."""
    spec = TransformSpec("EPSG:4326", CRS.from_user_input(target).srs,
                         always_xy=True)

    def _np2(xs, ys, codes):
        lon, lat = _to_4326(xs, ys, codes)
        px, py, _ = get_kernel(spec)(lon, lat)
        return lon, lat, px, py

    return map_arrays("struct<lon:double,lat:double,px:double,py:double>",
                      _np2, x, y, _epsg_code(src_crs))


def extract_anchors_py(text: str) -> list[tuple[str, float, float, str]]:
    """Reference extractor (the byte-identity oracle): returns
    [(anchor_text, x, y, src_crs), ...] in order of appearance."""
    out = []
    for m in _ANCHOR_RE_PY.finditer(text):
        out.append((m.group(0), float(m.group(1)), float(m.group(2)),
                    m.group(3) or "EPSG:4326"))
    return out


#: href anchors — lookahead-free so the SAME pattern runs under Java
#: regex (Spark) and RE2 (DuckDB oracle); group 1 = host, group 2 =
#: anchor text
LINK_RE = r'<a href="https?://([^/"]+)[^"]*">([^<]*)</a>'


def extract_links(pages: DataFrame, src_col: str = "src_host",
                  html_col: str = "html") -> DataFrame:
    """Hyperlink extraction -> edge list: the Common-Crawl link-graph
    build (the input PageRank/HITS run over). One regexp_extract_all
    per group + arrays_zip + explode — fully native, no Python, and
    the two extract_all calls collapse into the same projection
    (single scan of the html column).

    Returns (src_col, dst_host, anchor_text), one row per <a> tag."""
    hosts = F.regexp_extract_all(html_col, F.lit(LINK_RE), 1)
    texts = F.regexp_extract_all(html_col, F.lit(LINK_RE), 2)
    return (pages.select(
        F.col(src_col),
        F.explode(F.arrays_zip(hosts.alias("h"),
                               texts.alias("t"))).alias("e"))
        .select(src_col, F.col("e.h").alias("dst_host"),
                F.col("e.t").alias("anchor_text")))


def parse_sitemaps(maps: DataFrame, host_col: str = "host",
                   xml_col: str = "xml") -> DataFrame:
    """Sitemap ingestion (sitemaps.org XML protocol): one row per
    <url> entry with its <loc>, <lastmod>, <priority> children —
    the crawl-frontier seeding stage that sits before robots
    filtering (operators/robots.py) in a fetch pipeline.

    Pure Catalyst: three regexp_extract_all passes zip positionally
    (the protocol nests exactly one of each child per <url> block),
    one explode, no Python. Entries missing an optional child are
    dropped by the zip only when counts diverge — the synthesizer
    always emits all three, and real-world partial sitemaps should
    pre-normalize; this keeps the hot path join-free."""
    entries = F.arrays_zip(
        F.regexp_extract_all(xml_col, F.lit(r"<loc>([^<]*)</loc>"),
                             F.lit(1)).alias("loc"),
        F.regexp_extract_all(xml_col, F.lit(r"<lastmod>([^<]*)</lastmod>"),
                             F.lit(1)).alias("lastmod"),
        F.regexp_extract_all(xml_col, F.lit(r"<priority>([^<]*)</priority>"),
                             F.lit(1)).alias("priority"))
    return (maps.select(host_col, F.explode(entries).alias("e"))
            .select(host_col, F.col("e.loc").alias("loc"),
                    F.col("e.lastmod").alias("lastmod"),
                    F.col("e.priority").alias("priority")))
