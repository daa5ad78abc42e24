"""s2cell — an S2-style spherical cell index: cube face + quadratic
s/t + Hilbert curve, from scratch, pure Catalyst.

Fourth cell family next to the equirectangular quadtree (cells.py),
geohash and the mercator hexgrid — this one is the scale-partitioning
workhorse shape: the sphere is projected onto 6 cube faces (no polar
singularity, cell areas within ~2.1x of each other vs the quadtree's
sec-phi blowup), the in-face quadratic s/t transform evens out the
gnomonic distortion, and cells are ordered along a HILBERT curve, so
consecutive cell ids are spatially adjacent — ranges of ids are
compact regions. That makes the id a double-duty key at 100 TB: an
equality join/partition key like the other families AND a 1-D
clustering/range key (sort files by s2 id -> parquet min/max prune
spatial bboxes; cell containment = one integer BETWEEN on the
descendant range, no explode).

Matches the public S2 geometry design (faces, quadratic ST, Hilbert
order — s2geometry.io/devguide/s2cell_hierarchy); ids are NOT
bit-compatible with Google S2 (per-face Hilbert orientations differ;
we use the classic curve on every face and keep the level in the id).

Id layout (non-negative, Spark LongType)::

    bits 58..62  level L (0..20)
    bits 55..57  face   (0..5: +x,+y,+z,-x,-y,-z)
    bits 0..2L-1 Hilbert position of the (i,j) leaf at level L

parent(cell) = level-1, pos >> 2 — strict hierarchy; the descendant
range of a cell at child level Lc is [pos << 2(Lc-L), (pos+1) <<
2(Lc-L)) — closed form, no tree walk.

Hilbert tables: derived from the classic xy2d algorithm (Wikipedia
"Hilbert curve") by sub-square pattern matching; state 0 is the root
orientation; index = i_bit*2 + j_bit. Locked against the classic
mutating-loop form by tests/test_s2cell.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 20
#: Hilbert state machine, flat [state*4 + i_bit*2 + j_bit]
_POS = (0, 1, 3, 2, 0, 3, 1, 2, 2, 1, 3, 0, 2, 3, 1, 0)
_NXT = (1, 0, 2, 0, 0, 3, 1, 1, 2, 2, 0, 3, 3, 1, 3, 2)


def _check_level(level: int) -> None:
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")


# --------------------------------------------------------------- numpy

def _face_uv_np(lon, lat):
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4),
                 np.where(z >= 0, 2, 5)))
    # S2 face->(u,v) convention (s2coords.h valid_face_xyz_to_uv);
    # np.select discards the off-face quotients, which may overflow
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)
    return face.astype(np.int64), u, v


def _st_np(u):
    """S2 quadratic UV->ST transform. (np.where evaluates both
    branches; the off-branch sqrt of a negative is discarded.)"""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def encode_np(lon, lat, level: int) -> np.ndarray:
    _check_level(level)
    face, u, v = _face_uv_np(lon, lat)
    n = 1 << level
    i = np.clip(np.floor(_st_np(u) * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor(_st_np(v) * n), 0, n - 1).astype(np.int64)
    pos_t = np.asarray(_POS, dtype=np.int64)
    nxt_t = np.asarray(_NXT, dtype=np.int64)
    st = np.zeros_like(i)
    d = np.zeros_like(i)
    for k in range(level - 1, -1, -1):
        idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
        d = (d << 2) | pos_t[idx]
        st = nxt_t[idx]
    return (np.int64(level) << 58) | (face << 55) | d


# -------------------------------------------------------------- column

def cell_of(lon: Column, lat: Column, level: int) -> Column:
    """S2-style cell id — pure Catalyst: trig + CASE + an aggregate HOF
    running two literal-array lookups per level. Never crosses the
    Python boundary; the HOF is CodegenFallback (interpreted JVM eval),
    which profiling puts far below the scan+shuffle cost at sf0.1."""
    _check_level(level)
    lam, phi = F.radians(lon), F.radians(lat)
    x = F.cos(phi) * F.cos(lam)
    y = F.cos(phi) * F.sin(lam)
    z = F.sin(phi)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face = (
        F.when((ax >= ay) & (ax >= az),
               F.when(x >= 0, F.lit(0)).otherwise(F.lit(3)))
        .otherwise(F.when(ay >= az,
                          F.when(y >= 0, F.lit(1)).otherwise(F.lit(4)))
                   .otherwise(F.when(z >= 0, F.lit(2))
                              .otherwise(F.lit(5)))))
    u = (F.when(face == 0, y / x).when(face == 1, -x / y)
         .when(face == 2, -x / z).when(face == 3, z / x)
         .when(face == 4, z / y).otherwise(-y / z))
    v = (F.when(face == 0, z / x).when(face == 1, z / y)
         .when(face == 2, -y / z).when(face == 3, y / x)
         .when(face == 4, -x / y).otherwise(-x / z))

    def st(w):
        return F.when(w >= 0, 0.5 * F.sqrt(1.0 + 3.0 * w)) \
                .otherwise(1.0 - 0.5 * F.sqrt(1.0 - 3.0 * w))

    n = 1 << level
    i = F.least(F.greatest(F.floor(st(u) * F.lit(float(n))),
                           F.lit(0)), F.lit(n - 1)).cast("long")
    j = F.least(F.greatest(F.floor(st(v) * F.lit(float(n))),
                           F.lit(0)), F.lit(n - 1)).cast("long")
    pos_lit = F.lit(list(_POS))
    nxt_lit = F.lit(list(_NXT))

    # Column-expression shape matters: an unrolled per-level loop
    # re-embeds the (large) trig trees of i and j into every level's
    # state/d expression — the tree grows O(level^2) copies of them
    # and Catalyst analysis takes minutes by level 10. The Hilbert
    # fold instead runs as ONE aggregate HOF: the per-level iteration
    # happens at runtime. i, j < 2^20 so the double division for bit
    # extraction is exact (shiftright needs a literal shift amount,
    # the lambda's level variable is a Column).
    #
    # The i/j trees ride in the ACCUMULATOR struct rather than the
    # lambda body: aggregate() is CodegenFallback (interpreted eval,
    # no common-subexpression elimination), so a lambda that named
    # the i/j Columns directly re-evaluated their whole trig subtrees
    # at every fold step — measured ~400 us/row at level 10; carrying
    # them as accumulator fields evaluates them once per row
    # (~40 us/row, identical arithmetic; guide §1.2 per-task work).
    def _merge(acc, k):
        mask = F.pow(F.lit(2.0), k.cast("double")).cast("long")
        ib = F.floor(acc["i"] / mask).cast("long").bitwiseAND(F.lit(1))
        jb = F.floor(acc["j"] / mask).cast("long").bitwiseAND(F.lit(1))
        idx = (acc["st"] * 4 + ib * 2 + jb + 1).cast("int")
        return F.struct(
            F.element_at(nxt_lit, idx).cast("long").alias("st"),
            (F.shiftleft(acc["d"], 2)
             + F.element_at(pos_lit, idx)).alias("d"),
            acc["i"].alias("i"), acc["j"].alias("j"))

    if level == 0:
        d = F.lit(0).cast("long")
    else:
        acc = F.aggregate(
            F.sequence(F.lit(level - 1), F.lit(0), F.lit(-1)),
            F.struct(F.lit(0).cast("long").alias("st"),
                     F.lit(0).cast("long").alias("d"),
                     i.alias("i"), j.alias("j")),
            _merge)
        d = acc["d"]
    return (F.lit(level).cast("long") * F.lit(1 << 58).cast("long")
            + F.shiftleft(face.cast("long"), 55) + d)


def cell_level(cell: Column) -> Column:
    return F.shiftright(cell, 58).bitwiseAND(F.lit(31))


def cell_face(cell: Column) -> Column:
    return F.shiftright(cell, 55).bitwiseAND(F.lit(7))


def parent(cell: Column, level: int) -> Column:
    """Ancestor at `level` (caller guarantees level <= cell's level —
    same contract as cells.parent_of)."""
    _check_level(level)
    cur = cell_level(cell)
    pos = cell.bitwiseAND(F.lit((1 << 55) - 1))
    # variable shift: Spark's shift functions take only literal
    # counts, so divide by 2^drop (exact — pos < 2^40 < 2^52)
    drop = ((cur - level) * 2).cast("double")
    return (F.lit(level).cast("long") * F.lit(1 << 58).cast("long")
            + F.shiftleft(cell_face(cell), 55)
            + F.floor(pos / F.pow(F.lit(2.0), drop)).cast("long"))


def descendant_range(cell: Column, child_level: int) -> Column:
    """struct<lo:bigint,hi:bigint>: the half-open Hilbert-position id
    range [lo, hi) of this cell's descendants at `child_level` — the
    containment-as-BETWEEN join key (no explode, no tree walk)."""
    _check_level(child_level)
    cur = cell_level(cell)
    pos = cell.bitwiseAND(F.lit((1 << 55) - 1))
    up = F.pow(F.lit(2.0), ((F.lit(child_level) - cur) * 2)
               .cast("double"))
    head = (F.lit(child_level).cast("long") * F.lit(1 << 58).cast("long")
            + F.shiftleft(cell_face(cell), 55))
    lo = head + (pos * up).cast("long")
    hi = head + ((pos + 1) * up).cast("long")
    return F.struct(lo.alias("lo"), hi.alias("hi"))


# numpy twins for tests / driver-side covering

def parent_np(cell, level: int):
    cell = np.asarray(cell, dtype=np.int64)
    cur = (cell >> 58) & 31
    pos = cell & ((1 << 55) - 1)
    return ((np.int64(level) << 58) | (((cell >> 55) & 7) << 55)
            | (pos >> ((cur - level) * 2)))


# ------------------------------------------------- covering (driver)

def _st_to_uv(s: float) -> float:
    """Inverse quadratic ST->UV (S2's UVfromST)."""
    if s >= 0.5:
        return (4.0 * s * s - 1.0) / 3.0
    return (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0


def _face_dir(face: int, u: float, v: float):
    """Unit-sphere direction (unnormalized) for face uv — the exact
    inverse of the _face_uv_np convention."""
    return {0: (1.0, u, v), 1: (-u, 1.0, v), 2: (-u, -v, 1.0),
            3: (-1.0, -v, -u), 4: (v, -1.0, -u),
            5: (v, u, -1.0)}[face]


def _cell_lonlat_bounds(face: int, u0, u1, v0, v1):
    """Sound lon/lat bbox of the face rect [u0,u1]x[v0,v1]:
    (west, south, east, north), west>east = antimeridian crossing,
    west=-180/east=180 = full ring (pole rect).

    lat extremes: equatorial faces — lat is monotone away from the
    in-face axis, so extremes sit at (u clamped to 0, v extremes) or
    corners; polar faces — extremes at the rect point nearest the
    origin (clamped origin) and the farthest corner. lon extremes:
    corners, plus axis crossings on polar faces; pole-containing rects
    cover the full ring.
    """
    import math

    def lonlat(u, v):
        x, y, z = _face_dir(face, u, v)
        lon = math.degrees(math.atan2(y, x))
        lat = math.degrees(math.atan2(z, math.hypot(x, y)))
        return lon, lat

    corners = [(u0, v0), (u0, v1), (u1, v0), (u1, v1)]
    cand = list(corners)
    if face in (2, 5):
        # polar: nearest point to origin maximizes |lat|
        cu = min(max(0.0, u0), u1)
        cv = min(max(0.0, v0), v1)
        cand.append((cu, cv))
    elif face in (0, 1):
        # z rides on v: lat extremes at u clamped toward 0
        cu = min(max(0.0, u0), u1)
        cand.append((cu, v0))
        cand.append((cu, v1))
    else:
        # faces 3/4: z rides on u (dir (-1,-v,-u) / (v,-1,-u))
        cv = min(max(0.0, v0), v1)
        cand.append((u0, cv))
        cand.append((u1, cv))
    pts = [lonlat(u, v) for u, v in cand]
    south = min(p[1] for p in pts)
    north = max(p[1] for p in pts)
    if face in (2, 5):
        if u0 <= 0.0 <= u1 and v0 <= 0.0 <= v1:
            # contains the pole: full longitude ring
            if face == 2:
                north = 90.0
            else:
                south = -90.0
            return -180.0, south, 180.0, north
        # axis crossings add lon candidates
        extra = []
        if u0 <= 0.0 <= u1:
            extra += [(0.0, v0), (0.0, v1)]
        if v0 <= 0.0 <= v1:
            extra += [(u0, 0.0), (u1, 0.0)]
        pts += [lonlat(u, v) for u, v in extra]
    # minimal enclosing lon arc: sort angles, cut at the largest gap
    lons = sorted(p[0] for p in pts)
    gaps = [(lons[(i + 1) % len(lons)] - lons[i]) % 360.0
            for i in range(len(lons))]
    cut = max(range(len(lons)), key=lambda i: gaps[i])
    west = lons[(cut + 1) % len(lons)]
    east = lons[cut]
    return west, south, east, north


def _bbox_intersects(w1, s1, e1, n1, w2, s2, e2, n2) -> bool:
    if n1 < s2 or n2 < s1:
        return False

    def arcs(w, e):
        return [(w, e)] if w <= e else [(w, 180.0), (-180.0, e)]

    return any(not (b1 < a2 or b2 < a1)
               for a1, b1 in arcs(w1, e1) for a2, b2 in arcs(w2, e2))


def covering_bbox(west: float, south: float, east: float, north: float,
                  level: int) -> list:
    """Level-`level` cell ids intersecting the lat/lon bbox — a SOUND
    superset (every cell containing a bbox point is included; a few
    extra border cells may appear, harmless for a prefilter). Driver-
    side recursive subdivision from the 6 face cells, pruning on the
    closed-form per-face lon/lat bounds. west>east = bbox crosses the
    antimeridian."""
    _check_level(level)
    out = []

    def recurse(face, lvl, i, j):
        size = 1.0 / (1 << lvl)
        u0, u1 = _st_to_uv(i * size), _st_to_uv((i + 1) * size)
        v0, v1 = _st_to_uv(j * size), _st_to_uv((j + 1) * size)
        cw, cs, ce, cn = _cell_lonlat_bounds(face, u0, u1, v0, v1)
        if not _bbox_intersects(cw, cs, ce, cn, west, south, east,
                                north):
            return
        if lvl == level:
            st = d = 0
            for k in range(lvl - 1, -1, -1):
                idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
                d = (d << 2) | _POS[idx]
                st = _NXT[idx]
            out.append((level << 58) | (face << 55) | d)
            return
        for di in (0, 1):
            for dj in (0, 1):
                recurse(face, lvl + 1, i * 2 + di, j * 2 + dj)

    for face in range(6):
        recurse(face, 0, 0, 0)
    return sorted(out)


def covering_ranges(west, south, east, north, cover_level: int,
                    leaf_level: int) -> list:
    """Merged half-open leaf-id ranges [(lo, hi), ...] covering the
    bbox: covering cells at `cover_level`, each expanded to its
    descendant range at `leaf_level`, adjacent ranges coalesced (the
    Hilbert payoff: sorted covering cells are usually contiguous, so
    a 60-cell covering collapses to a handful of BETWEENs)."""
    up = 2 * (leaf_level - cover_level)
    head = leaf_level << 58
    ranges = []
    for cell in covering_bbox(west, south, east, north, cover_level):
        face = (cell >> 55) & 7
        pos = cell & ((1 << 55) - 1)
        lo = head | (face << 55) | (pos << up)
        hi = head | (face << 55) | ((pos + 1) << up)
        if ranges and ranges[-1][1] == lo:
            ranges[-1] = (ranges[-1][0], hi)
        else:
            ranges.append((lo, hi))
    return ranges


def _ring_pip(ring, px, py) -> bool:
    """Even-odd point-in-ring (planar, operators/pip.py semantics)."""
    k = len(ring)
    inside = False
    for i in range(k):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % k]
        if (y1 > py) != (y2 > py) and \
                px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
            inside = not inside
    return inside


def _rect_touches_boundary(w, s, e, n, ring) -> bool:
    """True iff the ring's BOUNDARY meets the closed rect: a ring
    vertex inside the rect, or a ring edge crossing a rect edge."""
    for lon, lat in ring:
        if w <= lon <= e and s <= lat <= n:
            return True

    def seg_cross(ax, ay, bx, by, cx, cy, dx, dy):
        def o(px, py, qx, qy, rx, ry):
            v = (qx - px) * (ry - py) - (qy - py) * (rx - px)
            return 0 if v == 0 else (1 if v > 0 else -1)
        o1, o2 = o(ax, ay, bx, by, cx, cy), o(ax, ay, bx, by, dx, dy)
        o3, o4 = o(cx, cy, dx, dy, ax, ay), o(cx, cy, dx, dy, bx, by)
        return o1 != o2 and o3 != o4

    rect_edges = [((w, s), (e, s)), ((e, s), (e, n)),
                  ((e, n), (w, n)), ((w, n), (w, s))]
    k = len(ring)
    for i in range(k):
        p, q = ring[i], ring[(i + 1) % k]
        for a, b in rect_edges:
            if seg_cross(p[0], p[1], q[0], q[1], a[0], a[1],
                         b[0], b[1]):
                return True
    return False


def _rect_intersects_ring(w, s, e, n, ring) -> bool:
    """Planar lat/lon rect vs even-odd polygon intersection (same
    polygon semantics as operators/pip.py). Sound and exact for
    non-wrapping rects: true iff the boundary meets the rect or a
    rect corner is interior."""
    if _rect_touches_boundary(w, s, e, n, ring):
        return True
    return any(_ring_pip(ring, px, py)
               for px in (w, e) for py in (s, n))


def _rect_inside_ring(w, s, e, n, ring) -> bool:
    """True iff the rect is ENTIRELY inside the polygon: boundary
    never meets the rect and one (hence every) corner is interior."""
    return (not _rect_touches_boundary(w, s, e, n, ring)
            and _ring_pip(ring, w, s))


def covering_polygon(ring, level: int) -> list:
    """Level-`level` cells intersecting a planar even-odd lon/lat
    polygon — sound superset via the same face subdivision as
    covering_bbox, pruning on rect-vs-polygon disjointness (cell
    lon/lat bbox is a superset of the cell, so a disjoint bbox proves
    a disjoint cell). Cell bboxes that wrap the antimeridian are
    split into two planar rects."""
    _check_level(level)
    out = []

    def hits(cw, cs, ce, cn):
        rects = [(cw, cs, ce, cn)] if cw <= ce else \
            [(cw, cs, 180.0, cn), (-180.0, cs, ce, cn)]
        return any(_rect_intersects_ring(w, s, e, n, ring)
                   for w, s, e, n in rects)

    def recurse(face, lvl, i, j):
        size = 1.0 / (1 << lvl)
        u0, u1 = _st_to_uv(i * size), _st_to_uv((i + 1) * size)
        v0, v1 = _st_to_uv(j * size), _st_to_uv((j + 1) * size)
        cw, cs, ce, cn = _cell_lonlat_bounds(face, u0, u1, v0, v1)
        if not hits(cw, cs, ce, cn):
            return
        if lvl == level:
            st = d = 0
            for k in range(lvl - 1, -1, -1):
                idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
                d = (d << 2) | _POS[idx]
                st = _NXT[idx]
            out.append((level << 58) | (face << 55) | d)
            return
        for di in (0, 1):
            for dj in (0, 1):
                recurse(face, lvl + 1, i * 2 + di, j * 2 + dj)

    for face in range(6):
        recurse(face, 0, 0, 0)
    return sorted(out)


def ranges_from_cells(cells, leaf_level: int) -> list:
    """Merged half-open leaf-id ranges for a sorted same-level cell
    list (factored from covering_ranges for polygon coverings)."""
    ranges = []
    for cell in cells:
        lvl = (cell >> 58) & 31
        up = 2 * (leaf_level - lvl)
        head = leaf_level << 58
        face = (cell >> 55) & 7
        pos = cell & ((1 << 55) - 1)
        lo = head | (face << 55) | (pos << up)
        hi = head | (face << 55) | ((pos + 1) << up)
        if ranges and ranges[-1][1] == lo:
            ranges[-1] = (ranges[-1][0], hi)
        else:
            ranges.append((lo, hi))
    return ranges


def covering_polygon_adaptive(ring, max_level: int,
                              min_level: int = 1) -> list:
    """Adaptive mixed-level covering (the real-S2 shape): interior
    cells stay COARSE and are tagged certain=True (cell lon/lat bbox
    entirely inside the polygon => every point of the cell is inside
    — those rows need NO exact test downstream); only boundary cells
    subdivide to `max_level` (certain=False). Returns
    [(cell_id, certain), ...] — far fewer ranges than a fixed-level
    covering, and the certain/uncertain split is what makes PIP on the
    index cheap at scale: the exact test runs only on the boundary
    sliver."""
    _check_level(max_level)
    out = []

    def emit(face, lvl, i, j, certain):
        st = d = 0
        for k in range(lvl - 1, -1, -1):
            idx = st * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1)
            d = (d << 2) | _POS[idx]
            st = _NXT[idx]
        out.append(((lvl << 58) | (face << 55) | d, certain))

    def recurse(face, lvl, i, j):
        size = 1.0 / (1 << lvl)
        u0, u1 = _st_to_uv(i * size), _st_to_uv((i + 1) * size)
        v0, v1 = _st_to_uv(j * size), _st_to_uv((j + 1) * size)
        cw, cs, ce, cn = _cell_lonlat_bounds(face, u0, u1, v0, v1)
        rects = [(cw, cs, ce, cn)] if cw <= ce else \
            [(cw, cs, 180.0, cn), (-180.0, cs, ce, cn)]
        inter = [r for r in rects
                 if _rect_intersects_ring(*r, ring)]
        if not inter:
            return
        if lvl >= min_level and len(rects) == 1 \
                and _rect_inside_ring(cw, cs, ce, cn, ring):
            emit(face, lvl, i, j, True)
            return
        if lvl == max_level:
            emit(face, lvl, i, j, False)
            return
        for di in (0, 1):
            for dj in (0, 1):
                recurse(face, lvl + 1, i * 2 + di, j * 2 + dj)

    for face in range(6):
        recurse(face, 0, 0, 0)
    return sorted(out)
