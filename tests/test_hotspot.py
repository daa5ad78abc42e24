"""Getis-Ord Gi* / Moran's I vs an independent numpy recompute."""

import math

import pytest


def _tiles_df(spark, rows):
    return spark.createDataFrame(rows, "tx long, ty long, cnt long")


def _gi_ref(rows):
    """Reference Gi* (Getis & Ord 1992) in plain Python."""
    vals = {(tx, ty): n for tx, ty, n in rows}
    nt = len(vals)
    s1 = sum(vals.values())
    s2 = sum(v * v for v in vals.values())
    mean = s1 / nt
    sd = math.sqrt(s2 / nt - mean * mean)
    out = {}
    for (tx, ty), n in vals.items():
        nbrs = [vals[(tx + dx, ty + dy)]
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (tx + dx, ty + dy) in vals]
        g, w = sum(nbrs), len(nbrs)
        u = math.sqrt((nt * w - w * w) / (nt - 1))
        out[(tx, ty)] = ((g - mean * w) / (sd * u)
                         if sd * u > 0 else None)
    return out


def test_gi_star_matches_reference(spark):
    from pyproj_spark.operators.hotspot import getis_ord_gi
    # 5x5 lattice, hot 2x2 block in one corner
    rows = [(tx, ty, 50 if tx <= 1 and ty <= 1 else 2)
            for tx in range(5) for ty in range(5)]
    got = {(r.tx, r.ty): r for r in
           getis_ord_gi(_tiles_df(spark, rows)).collect()}
    ref = _gi_ref(rows)
    assert set(got) == set(ref)
    for k, z in ref.items():
        assert got[k].gi_z == pytest.approx(z, abs=1e-12), k
    # the hot block is flagged, the far corner is cold-or-neutral
    assert got[(0, 0)].hot == 1
    assert got[(4, 4)].hot in (0, -1)
    # neighborhood bookkeeping: interior tile sees 9, corner sees 4
    assert got[(2, 2)].wsum == 9 and got[(0, 0)].wsum == 4


def test_gi_star_degenerate_variance_is_null(spark):
    from pyproj_spark.operators.hotspot import getis_ord_gi
    rows = [(tx, ty, 7) for tx in range(3) for ty in range(3)]
    out = getis_ord_gi(_tiles_df(spark, rows)).collect()
    assert all(r.gi_z is None and r.hot == 0 for r in out)


def _moran_ref(rows):
    """Reference Moran's I (binary queen weights, no self)."""
    vals = {(tx, ty): n for tx, ty, n in rows}
    nt = len(vals)
    mean = sum(vals.values()) / nt
    num = s0 = 0.0
    for (tx, ty), n in vals.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) != (0, 0) and (tx + dx, ty + dy) in vals:
                    num += (n - mean) * (vals[(tx + dx, ty + dy)] - mean)
                    s0 += 1
    den = sum((v - mean) ** 2 for v in vals.values())
    return nt / s0 * num / den, s0


def test_moran_checkerboard_negative_block_positive(spark):
    from pyproj_spark.operators.hotspot import morans_i
    # checkerboard: rook neighbors oppose, diagonals agree -> mildly
    # negative I (the queen-lattice subtlety)
    checker = [(tx, ty, 1 + 4 * ((tx + ty) % 2))
               for tx in range(6) for ty in range(6)]
    m = morans_i(_tiles_df(spark, checker)).collect()[0]
    ref_i, ref_s0 = _moran_ref(checker)
    assert m.n_tiles == 36 and m.s0 == ref_s0 == 220
    assert m.i_obs == pytest.approx(ref_i, abs=1e-12)
    assert m.i_obs < m.e_i and m.z_i < 0
    # two homogeneous halves -> strong positive autocorrelation
    blocks = [(tx, ty, 100 if tx < 3 else 1)
              for tx in range(6) for ty in range(6)]
    b = morans_i(_tiles_df(spark, blocks)).collect()[0]
    ref_b, _ = _moran_ref(blocks)
    assert b.i_obs == pytest.approx(ref_b, abs=1e-12)
    assert b.i_obs > b.e_i and b.z_i > 2


def test_moran_partitioning_invariance(spark):
    from pyproj_spark.operators.hotspot import morans_i
    rows = [(tx, ty, (tx * 7 + ty * 3) % 11 + 1)
            for tx in range(8) for ty in range(8)]
    a = morans_i(_tiles_df(spark, rows)).collect()[0]
    b = morans_i(_tiles_df(spark, rows).repartition(7)).collect()[0]
    assert a == b  # exact integer sums -> bit-identical doubles

def _geary_ref(rows):
    """Reference Geary's C (binary queen weights, no self)."""
    vals = {(tx, ty): n for tx, ty, n in rows}
    nt = len(vals)
    mean = sum(vals.values()) / nt
    num = s0 = 0.0
    for (tx, ty), n in vals.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) != (0, 0) and (tx + dx, ty + dy) in vals:
                    num += (n - vals[(tx + dx, ty + dy)]) ** 2
                    s0 += 1
    den = sum((v - mean) ** 2 for v in vals.values())
    return (nt - 1) * num / (2 * s0 * den), s0


def test_geary_blocks_vs_checkerboard(spark):
    from pyproj_spark.operators.hotspot import gearys_c
    # homogeneous halves: neighbors alike -> C < 1, z < 0
    blocks = [(tx, ty, 100 if tx < 3 else 1)
              for tx in range(6) for ty in range(6)]
    b = gearys_c(_tiles_df(spark, blocks)).collect()[0]
    ref_c, ref_s0 = _geary_ref(blocks)
    assert b.s0 == ref_s0 == 220 and b.e_c == 1.0
    assert b.c_obs == pytest.approx(ref_c, abs=1e-12)
    assert b.c_obs < 1 and b.z_c < -2
    # checkerboard: rook neighbors contrast -> C > 1
    checker = [(tx, ty, 1 + 4 * ((tx + ty) % 2))
               for tx in range(6) for ty in range(6)]
    c = gearys_c(_tiles_df(spark, checker)).collect()[0]
    ref_cc, _ = _geary_ref(checker)
    assert c.c_obs == pytest.approx(ref_cc, abs=1e-12)
    assert c.c_obs > 1


def test_geary_partitioning_invariance(spark):
    from pyproj_spark.operators.hotspot import gearys_c
    rows = [(tx, ty, (tx * 7 + ty * 3) % 11 + 1)
            for tx in range(8) for ty in range(8)]
    a = gearys_c(_tiles_df(spark, rows)).collect()[0]
    b = gearys_c(_tiles_df(spark, rows).repartition(7)).collect()[0]
    assert a == b


def _ripley_pts(spark, pts):
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "doc_id long, lon double, lat double")


def test_ripley_matches_brute_force(spark):
    import math
    from pyproj_spark.operators.hotspot import ripley_k
    # deterministic scatter + a tight cluster
    pts = [((i * 37) % 50 - 25.0, (i * 61) % 40 - 20.0)
           for i in range(60)]
    pts += [(0.1 * j, 0.05 * j) for j in range(12)]  # cluster near 0
    out = {r.r: r for r in
           ripley_k(_ripley_pts(spark, pts), [1.0, 2.0, 4.0]).collect()}
    n = len(pts)
    area = 360.0 * 170.0
    for r in (1.0, 2.0, 4.0):
        brute = sum(
            1 for i in range(n) for j in range(n) if i != j
            and (round(pts[i][0] * 1000) - round(pts[j][0] * 1000)) ** 2
            + (round(pts[i][1] * 1000) - round(pts[j][1] * 1000)) ** 2
            <= (r * 1000) ** 2)
        assert out[r].npairs == brute, r
        assert out[r].k_hat == pytest.approx(
            area * brute / (n * (n - 1)), rel=1e-12)
        assert out[r].l_minus_r == pytest.approx(
            math.sqrt(out[r].k_hat / math.pi) - r, abs=1e-12)
    # the planted cluster makes the pattern super-Poisson at r=1
    assert out[1.0].l_minus_r > 0


def test_kde_raster_matches_brute_force(spark):
    from pyproj_spark.queries import q_kde_raster, _doc_points
    sf = "/root/testdata/sf0.001"
    pts = _doc_points(spark, sf).select("lon", "lat").collect()
    brute = {}
    for p in pts:
        mx, my = round(p.lon * 1000), round(p.lat * 1000)
        import math
        gx, gy = math.floor(mx / 2000), math.floor(my / 2000)
        for dx in range(-2, 3):
            for dy in range(-2, 3):
                cx, cy = gx + dx, gy + dy
                d2 = ((mx - (cx * 2000 + 1000)) ** 2
                      + (my - (cy * 2000 + 1000)) ** 2)
                w = max(16000000 - d2, 0)
                if w > 0:
                    n, s = brute.get((cx, cy), (0, 0))
                    brute[(cx, cy)] = (n + 1, s + w)
    got = {(int(r.cx), int(r.cy)): (int(r.n_contrib), int(r.wsum))
           for r in q_kde_raster(spark, sf).collect()}
    assert got == brute
    # kernel support: a contributing point is within h of the center
    assert all(s <= n * 16000000 for n, s in got.values())


def test_mann_kendall_s_single_day_is_zero(spark):
    """The Mann-Kendall S expression must give 0 on a 1-element count
    array by itself, with no t_days filter in front of it to prune
    the row."""
    from pyspark.sql import functions as F

    from pyproj_spark.queries import _mann_kendall_s
    df = spark.createDataFrame([([5],), ([1, 2, 3],), ([3, 1, 1],)],
                               "ns array<bigint>")
    got = [r.s for r in df.select(_mann_kendall_s(F.col("ns")).alias("s"))
           .collect()]
    assert got == [0, 3, -2]
