"""The closed-loop workloads: one client, one operation at a time.

Each workload gives the runner the same hooks:

* ``name``, ``unit`` (what one unit of ``work_per_s`` is), ``ramp_s``
  (untimed passes before measuring) and ``min_passes`` (timed passes,
  however long they take);
* ``make_inputs(spark, where)`` — writes the inputs once, before set-up;
* ``check_inputs(spark)`` / ``warm(spark)`` — the input check and the
  fixed warm-up job of each set-up;
* ``passes(n)`` — the operations of pass ``n``; an operation builds its
  DataFrame from scratch and runs it to the noop sink;
* ``check(spark)`` — runs the workload once more with its outputs
  collected and compares them with an independent reference; returns
  ``(checks attempted, list of failures)``. Never timed;
* ``trace(spark, tracer, ...)`` — the per-layer measurements.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import statistics
import time
from collections import Counter

import numpy as np

from perfbench import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: zoom of the flagship tiling
ZOOM = 8
#: pages of the output-check slices (reference path is pure Python)
SLICE_PAGES = 200
#: input files (of 16) behind the traced point-in-polygon layers
PIP_TRACE_FILES = 2


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median_time(fn, reps: int) -> float:
    return statistics.median(timed(fn) for _ in range(reps))


class Op:
    """One closed-loop operation: build a DataFrame, run it to noop."""

    def __init__(self, name: str, build, units: int):
        self.name = name
        self.build = build
        self.units = units

    def run(self, spark, group: str | None = None) -> tuple[float, float]:
        sc = spark.sparkContext
        if group:
            sc.setJobGroup(f"build:{group}", self.name)
        t0 = time.perf_counter()
        df = self.build(spark)
        t1 = time.perf_counter()
        if group:
            sc.setJobGroup(f"exec:{group}", self.name)
        noop(df)
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1


# --- reference path: pure-Python generator, extractor and kernels -------

def _reference_lonlat(n_pages: int, seed: int):
    """(lon, lat) arrays, in EPSG:4326, of every anchor of the first
    ``n_pages`` pages, via pages_pandas -> extract_anchors_py ->
    get_kernel."""
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.operators.extract import extract_anchors_py
    from pyproj_spark.plans.spec import TransformSpec, get_kernel
    from pyproj_spark.sources.pages import pages_pandas

    rows = [a for t in pages_pandas(n_pages, seed)["text"]
            for a in extract_anchors_py(t)]
    x = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    code = np.array([int(r[3].split(":")[1]) for r in rows])
    lon, lat = x.copy(), y.copy()
    for c in np.unique(code):
        if c == 4326:
            continue
        ii = np.flatnonzero(code == c)
        k = get_kernel(TransformSpec(CRS.from_epsg(int(c)).srs,
                                     "EPSG:4326", always_xy=True))
        lon[ii], lat[ii], _ = k(x[ii], y[ii])
    return lon, lat


def _reference_tiles(n_pages: int, seed: int) -> Counter:
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.functions.tiles import MERC_LIMIT
    from pyproj_spark.plans.spec import TransformSpec, get_kernel

    lon, lat = _reference_lonlat(n_pages, seed)
    k = get_kernel(TransformSpec("EPSG:4326",
                                 CRS.from_user_input("EPSG:3857").srs,
                                 always_xy=True))
    px, py, _ = k(lon, lat)
    n = 1 << ZOOM
    span = 2.0 * MERC_LIMIT / n
    tx = np.clip(np.floor((px + MERC_LIMIT) / span), 0, n - 1).astype(int)
    ty = np.clip(np.floor((MERC_LIMIT - py) / span), 0, n - 1).astype(int)
    return Counter(zip(tx.tolist(), ty.tolist()))


# --- flagship_tiles, with the anchor point-in-polygon join ---------------

def flagship_stages(pages) -> dict:
    """Cumulative prefixes of the flagship pipeline, by layer."""
    from pyspark.sql import functions as F

    from pyproj_spark.functions import cells
    from pyproj_spark.functions.tiles import tile_xy
    from pyproj_spark.operators.extract import (
        extract_anchors, normalize_and_project,
    )

    ext = extract_anchors(pages, normalize_crs=False) \
        .select("x", "y", "src_crs")
    tr = ext.select(normalize_and_project(
        F.col("x"), F.col("y"), F.col("src_crs")).alias("p"))
    tx, ty = tile_xy(F.col("p.px"), F.col("p.py"), ZOOM)
    tiles = (tr.withColumn("cell", cells.cell_of(F.col("p.lon"),
                                                 F.col("p.lat"),
                                                 cells.DEFAULT_RES))
             .withColumn("tx", tx).withColumn("ty", ty)
             .groupBy("tx", "ty").agg(F.count("*").alias("n_anchors")))
    return {"scan": pages.select("url", "text"), "extract": ext,
            "transform": tr, "tiles": tiles}


def pip_stages(pages, zones) -> dict:
    """Cumulative prefixes of the anchor point-in-polygon pipeline: CRS
    normalisation, the cell equi-join pip_join runs before its exact
    test, and the whole join counted per zone."""
    from pyspark.sql import functions as F

    from pyproj_spark.functions import cells
    from pyproj_spark.operators.extract import extract_anchors
    from pyproj_spark.operators.pip import pip_join

    anchors = extract_anchors(pages, normalize_crs=True)
    cand = (anchors.withColumn("cell", cells.cell_of(
        F.col("lon"), F.col("lat"), cells.DEFAULT_RES))
        .join(F.broadcast(zones.select(
            "zone_id", F.explode("cells").alias("cell"))), "cell")
        .select("zone_id", "lon", "lat"))
    return {"normalize": anchors.select("lon", "lat"),
            "prefilter": cand,
            "pip": pip_join(anchors, zones).groupBy("zone_id").count()}


def prefix_times(spark, tracer, stages, names, reps: int) -> dict:
    """Median noop-sink time of each cumulative prefix; the jobs of each
    run under the job group ``prefix:<name>``."""
    out = {}
    for stage in names:
        op = Op(stage, lambda s, stage=stage: stages(s)[stage], 0)
        spark.sparkContext.setJobGroup(f"prefix:{stage}", stage)
        with tracer.span(f"prefix.{stage}"):
            out[stage] = median_time(lambda: op.run(spark), reps)
    return out


class FlagshipTiles:
    """The flagship tiling is the measured operation. The anchor
    point-in-polygon join over the same pages is checked on every run
    and its layers are traced on a slice, but it is not timed end to end:
    a workload of its own would double the length of a benchmark round."""
    name = "flagship_tiles"
    unit = "pages"
    n_zones = 200
    #: untimed repetitions before measuring: the set-ups and the check
    #: have run every code path of a pass, but the JIT keeps compiling
    #: for several passes more
    ramp_s = 8.0
    min_passes = 1

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_pages = 4_000 if smoke else 80_000
        self.files = 4 if smoke else 16
        self.path = self.zpath = None

    def make_inputs(self, spark, where: str) -> None:
        self.path = os.path.join(where, "pages")
        self.zpath = os.path.join(where, "zones")
        inputs.write_pages(self.path, self.n_pages, self.seed, self.files)
        inputs.write_zones(self.zpath, self.n_zones, self.seed)

    def check_inputs(self, spark) -> None:
        inputs.check_pages(spark, self.path, self.n_pages, self.files)
        n = spark.read.parquet(self.zpath).count()
        if n != self.n_zones:
            raise RuntimeError(f"zones input: {n} rows")

    def warm(self, spark) -> None:
        """The flagship pipeline on one input file: every code path of a
        pass, at a sixteenth of its work (the ramp warms the rest)."""
        first = sorted(os.listdir(self.path))[0]
        noop(flagship_stages(spark.read.parquet(
            os.path.join(self.path, first)))["tiles"])

    def passes(self, n: int) -> list[Op]:
        return [Op("tiles", lambda s: flagship_stages(
            s.read.parquet(self.path))["tiles"], self.n_pages)]

    def check(self, spark) -> tuple[int, list[str]]:
        from pyproj_spark.sources.pages import pages_df
        fails = []
        got = flagship_stages(spark.read.parquet(self.path))["tiles"] \
            .agg({"n_anchors": "sum"}).first()[0]
        want = inputs.expected_anchor_total(self.n_pages, self.seed)
        if got != want:
            fails.append(f"flagship anchor total {got} != {want}")
        pages = pages_df(spark, SLICE_PAGES, seed=self.seed)
        got_t = Counter({(r["tx"], r["ty"]): r["n_anchors"]
                         for r in flagship_stages(pages)["tiles"].collect()})
        if got_t != _reference_tiles(SLICE_PAGES, self.seed):
            fails.append("flagship per-tile counts differ from the "
                         "reference path on the slice")
        sl = pip_stages(pages, spark.read.parquet(self.zpath))["pip"]
        got_z = Counter({r["zone_id"]: r["count"] for r in sl.collect()})
        want_z = _reference_zone_hits(SLICE_PAGES, self.seed, self.n_zones)
        if got_z != want_z:
            fails.append(f"pip_join hits per zone differ from brute force "
                         f"on the slice: {sorted((got_z - want_z).items())}"
                         f" / {sorted((want_z - got_z).items())}")
        return 3, fails

    def trace(self, spark, tracer, reps: int) -> dict:
        prefix = prefix_times(
            spark, tracer,
            lambda s: flagship_stages(s.read.parquet(self.path)),
            ("scan", "extract", "transform", "tiles"), reps)
        n = inputs.expected_anchor_total(self.n_pages, self.seed)
        k_norm, k_proj, ii, x, y = _kernel_inputs(n, self.seed)
        with tracer.span("transform.kernel"):
            def kern():
                lon, lat = x.copy(), y.copy()
                lon[ii], lat[ii], _ = k_norm(x[ii], y[ii])
                k_proj(lon, lat)
            kernel = median_time(kern, reps)
        return {
            "sources.scan_s": prefix["scan"],
            "extract.self_s": prefix["extract"] - prefix["scan"],
            "extract.anchors": float(n),
            "transform.self_s": prefix["transform"] - prefix["extract"],
            "transform.kernel_s": kernel,
            "transform.crossing_s": prefix["transform"]
            - prefix["extract"] - kernel,
            "tiles.self_s": prefix["tiles"] - prefix["transform"],
            "_transform_group": "prefix:transform",
            **self._trace_pip(spark, tracer, reps),
        }

    def _trace_pip(self, spark, tracer, reps: int) -> dict:
        """The join's layers on the first PIP_TRACE_FILES input files."""
        from pyproj_spark.operators.pip import point_in_ring_np
        files = sorted(os.listdir(self.path))[:PIP_TRACE_FILES]

        def stages(s):
            return pip_stages(
                s.read.parquet(*(os.path.join(self.path, f) for f in files)),
                s.read.parquet(self.zpath))
        prefix = prefix_times(spark, tracer, stages,
                              ("normalize", "prefilter", "pip"), reps)
        # the collects below must not count in prefix:pip's task skew
        spark.sparkContext.setJobGroup("trace:collect", "pip counts")
        st = stages(spark)
        cand = st["prefilter"].toPandas()
        hits = int(sum(r["count"] for r in st["pip"].collect()))
        rings = {r["zone_id"]: (np.array([p["lon"] for p in r["ring"]]),
                                np.array([p["lat"] for p in r["ring"]]))
                 for r in spark.read.parquet(self.zpath).collect()}
        groups = [(rings[z], g["lon"].to_numpy(), g["lat"].to_numpy())
                  for z, g in cand.groupby("zone_id")]

        def exact():
            for (rl, rb), lo, la in groups:
                point_in_ring_np(lo, la, rl, rb)
        with tracer.span("pip.exact_kernel"):
            kernel = median_time(exact, reps)
        return {
            "pip.prefilter_s": prefix["prefilter"] - prefix["normalize"],
            "pip.exact_s": prefix["pip"] - prefix["prefilter"],
            "pip.exact_kernel_s": kernel,
            "pip.candidates": float(len(cand)),
            "pip.hits": float(hits),
            "pip.hit_ratio": hits / len(cand) if len(cand) else 0.0,
            "_pip_group": "prefix:pip",
        }


def _reference_zone_hits(n_pages: int, seed: int, n_zones: int) -> Counter:
    """Anchors per zone by brute force: every anchor against every zone
    ring with point_in_ring_np, no cell prefilter."""
    from pyproj_spark.operators.pip import point_in_ring_np
    from pyproj_spark.sources.zones import make_zone_rings
    lon, lat = _reference_lonlat(n_pages, seed)
    want = Counter()
    for zid, _name, ring in make_zone_rings(n_zones, seed):
        rl = np.array([p[0] for p in ring])
        rb = np.array([p[1] for p in ring])
        n = int(point_in_ring_np(lon, lat, rl, rb).sum())
        if n:
            want[zid] = n
    return want


def _kernel_inputs(n: int, seed: int):
    """The kernels of the anchor transform and numpy inputs of ``n``
    anchors shaped like the generator's (10% in EPSG:2100)."""
    from pyproj_spark.crs.crs import CRS
    from pyproj_spark.plans.spec import TransformSpec, get_kernel
    rng = np.random.default_rng(seed)
    x = rng.uniform(-180, 180, n)
    y = rng.uniform(-85, 85, n)
    ii = np.flatnonzero(rng.random(n) < 0.1)
    x[ii] = rng.uniform(200000, 800000, len(ii))
    y[ii] = rng.uniform(4000000, 4600000, len(ii))
    k_norm = get_kernel(TransformSpec(CRS.from_epsg(2100).srs,
                                      "EPSG:4326", always_xy=True))
    k_proj = get_kernel(TransformSpec("EPSG:4326",
                                      CRS.from_user_input("EPSG:3857").srs,
                                      always_xy=True))
    return k_norm, k_proj, ii, x, y


# --- query_mix -------------------------------------------------------------

def load_mix() -> dict[str, str]:
    with open(os.path.join(HERE, "query_mix.json")) as f:
        return json.load(f)


def _oracle_tools():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    """The fixed registry queries of query_mix.json, one operation each,
    on the shipped sf0.01 fixture, in an order the seed permutes per pass
    (the seed changes nothing else). Every pass builds every
    DataFrame afresh; the benchmark keeps nothing between passes (the
    registry's own per-session parquet-relation memo stays as shipped)."""
    name = "query_mix"
    unit = "queries"
    #: one untimed pass (a pass takes longer): the first pass after the
    #: output check still runs about a tenth slower than the next
    ramp_s = 1.0
    #: a query's time moves by about a tenth from pass to pass; its
    #: median over three passes does not, and three passes take about
    #: two runs' worth of seconds
    min_passes = 3

    def __init__(self, seed: int, smoke: bool):
        from pyproj_spark.queries import QUERIES
        from pyproj_spark.queries_text import QUERIES_TEXT
        self.seed = seed
        registry = {**QUERIES, **QUERIES_TEXT}
        self.names = list(load_mix())
        if smoke:
            # one query of each kind in query_mix.json's order
            self.names = self.names[::3]
        self.registry = {n: registry[n] for n in self.names}
        self.path = inputs.FIXTURE

    def make_inputs(self, spark, where: str) -> None:
        """The fixture ships with the benchmark; nothing to write."""

    def check_inputs(self, spark) -> None:
        inputs.check_fixture(self.path)

    def warm(self, spark) -> None:
        from pyspark.sql import functions as F

        from pyproj_spark.functions.transform import transform_xy
        noop(spark.range(64).select(transform_xy(
            "EPSG:4326", "EPSG:3857",
            (F.col("id") % 360 - 180.0).cast("double"), F.lit(10.0))))

    def passes(self, n: int) -> list[Op]:
        order = random.Random(self.seed * 1000 + n).sample(
            self.names, len(self.names))
        return [Op(q, lambda s, q=q: self.registry[q][0](s, self.path), 1)
                for q in order]

    def check(self, spark) -> tuple[int, list[str]]:
        import duckdb
        tools = _oracle_tools()
        con = duckdb.connect()
        try:
            for t in inputs.FIXTURE_ROWS:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.path}/{t}.parquet'")
            fails = []
            for q in self.names:
                fn, sql = self.registry[q]
                try:
                    got = tools.canon(fn(spark, self.path).toPandas())
                    want = tools.canon(con.execute(sql).df())
                except Exception as e:  # noqa: BLE001 - counted, reported
                    fails.append(f"{q}: {type(e).__name__}: {e}"[:300])
                    continue
                if (list(got.columns) != list(want.columns)
                        or len(got) != len(want)
                        or tools.value_hash(got) != tools.value_hash(want)):
                    fails.append(f"{q}: result hash differs from the "
                                 f"DuckDB oracle")
        finally:
            con.close()
        return len(self.names), fails


WORKLOADS = {w.name: w for w in (FlagshipTiles, QueryMix)}
