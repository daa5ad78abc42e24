"""General concave polygon ∩ polygon clipping with VERTEX output —
the Weiler–Atherton / Greiner–Hormann traversal (both published:
Weiler & Atherton 1977, Greiner & Hormann 1998) as a numpy kernel run
per candidate pair by one ``map_rows`` stage (``pyproj_spark/rows.py``).

The graft's raster↔vector surface clips zone geometries to admin
regions; Sutherland–Hodgman (functions/clip.py) only accepts CONVEX
clip windows, and its concave-subject output carries degenerate
bridge edges — fine for areas, wrong for vertex output. This kernel
returns the true intersection as a LIST of simple rings.

Scale shape: candidate (subject, clip) pairs arrive AFTER a
bbox-overlap (or cell-overlap) prefilter equi-join — the kernel is
O(|P|·|Q|) per pair with no shuffle of its own, exactly the
prefilter + exact-test pattern of the PIP join (operators/pip.py).
The exact AREA twin (functions/clip.py::intersection_area2, a pure
Catalyst fan-triangle decomposition) cross-checks this kernel in
tests and serves as the DuckDB-expressible oracle path.

Limitations (documented, standard for GH): degenerate contacts —
vertex exactly on the other ring's edge, collinear overlapping edges
— are not handled; fixtures and callers should perturb such inputs.
"""

from __future__ import annotations

import numpy as np


def _area2(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def _ccw(ring: np.ndarray) -> np.ndarray:
    return ring if _area2(ring) >= 0 else ring[::-1].copy()


def _point_in(pt, ring: np.ndarray) -> bool:
    """Even-odd ray casting (strictly-inside for non-boundary pts)."""
    x, y = pt
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    cond = (y0 <= y) != (y1 <= y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.count_nonzero(cond & (x < xs)) % 2)


class _V:
    __slots__ = ("pt", "nxt", "prv", "neighbor", "entry", "inter",
                 "visited")

    def __init__(self, pt):
        self.pt = pt
        self.nxt = self.prv = self.neighbor = None
        self.entry = False
        self.inter = False
        self.visited = False


def _ring_list(ring: np.ndarray):
    vs = [_V(tuple(p)) for p in ring]
    for i, v in enumerate(vs):
        v.nxt = vs[(i + 1) % len(vs)]
        v.prv = vs[i - 1]
    return vs


def _insert_between(new, a, b, alpha, alphas):
    """Insert ``new`` after ``a`` keeping intersections on the edge
    (a, b) sorted by their alpha parameter."""
    cur = a
    while cur.nxt is not b and alphas[id(cur.nxt)] <= alpha:
        cur = cur.nxt
    new.prv, new.nxt = cur, cur.nxt
    cur.nxt.prv = new
    cur.nxt = new
    alphas[id(new)] = alpha


def clip_rings_np(subject: np.ndarray,
                  clip: np.ndarray) -> list[np.ndarray]:
    """Intersection of two simple polygons as a list of CCW rings."""
    P, Q = _ccw(np.asarray(subject, float)), _ccw(np.asarray(clip,
                                                             float))
    sv, cv = _ring_list(P), _ring_list(Q)
    s_orig, c_orig = list(sv), list(cv)
    alphas: dict[int, float] = {}

    inters = []
    for i, a in enumerate(s_orig):
        p0 = np.array(a.pt)
        p1 = np.array(s_orig[(i + 1) % len(s_orig)].pt)
        for j, b in enumerate(c_orig):
            q0 = np.array(b.pt)
            q1 = np.array(c_orig[(j + 1) % len(c_orig)].pt)
            d1, d2 = p1 - p0, q1 - q0
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if den == 0:
                continue
            t = ((q0[0] - p0[0]) * d2[1]
                 - (q0[1] - p0[1]) * d2[0]) / den
            u = ((q0[0] - p0[0]) * d1[1]
                 - (q0[1] - p0[1]) * d1[0]) / den
            if 0 < t < 1 and 0 < u < 1:
                pt = tuple(p0 + t * d1)
                vs_, vc_ = _V(pt), _V(pt)
                vs_.inter = vc_.inter = True
                vs_.neighbor, vc_.neighbor = vc_, vs_
                inters.append((i, t, vs_, j, u, vc_))

    if not inters:
        if _point_in(P[0], Q):
            return [P.copy()]
        if _point_in(Q[0], P):
            return [Q.copy()]
        return []

    for i, t, vs_, j, u, vc_ in inters:
        _insert_between(vs_, s_orig[i],
                        s_orig[(i + 1) % len(s_orig)], t, alphas)
        _insert_between(vc_, c_orig[j],
                        c_orig[(j + 1) % len(c_orig)], u, alphas)

    # entry/exit tagging: walk the subject ring; parity flips at each
    # intersection, seeded by whether the ring's start is inside Q
    inside = _point_in(np.array(sv[0].pt), Q)
    cur = sv[0]
    while True:
        if cur.inter:
            cur.entry = not inside
            inside = not inside
        cur = cur.nxt
        if cur is sv[0]:
            break
    inside = _point_in(np.array(cv[0].pt), P)
    cur = cv[0]
    while True:
        if cur.inter:
            cur.entry = not inside
            inside = not inside
        cur = cur.nxt
        if cur is cv[0]:
            break

    # traversal: at each intersection walk forward if it is an entry,
    # backward if an exit; at the next intersection switch rings
    out = []
    starts = [vs_ for _i, _t, vs_, _j, _u, _vc in inters]
    max_steps = 4 * (len(inters) + len(P) + len(Q))
    for start in starts:
        if start.visited:
            continue
        ring = []
        cur = start
        steps = 0
        while True:
            steps += 1
            if steps > max_steps:
                raise ValueError(
                    "degenerate contact (vertex on edge / collinear "
                    "overlap) — not supported; perturb the input")
            ring.append(cur.pt)
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            forward = cur.entry
            v = cur.nxt if forward else cur.prv
            while not v.inter:
                ring.append(v.pt)
                v.visited = True
                v = v.nxt if forward else v.prv
            if v is start or v.neighbor is start:
                break
            cur = v.neighbor
        if len(ring) >= 3:
            r = np.array(ring)
            if abs(_area2(r)) > 1e-12:
                out.append(_ccw(r))
    return out


def clip_pair_stats(subject: np.ndarray, clip: np.ndarray) -> tuple:
    """(n_pieces, total_vertices, area) of subject ∩ clip."""
    rings = clip_rings_np(subject, clip)
    area = sum(abs(_area2(r)) for r in rings) / 2.0
    return len(rings), int(sum(len(r) for r in rings)), float(area)


def clip_zones_exact(pairs, subj_col: str = "ring",
                     clip_col: str = "creg"):
    """Vertex-output clipping over candidate pairs: adds n_pieces /
    n_vertices_out / area columns via one ``map_rows`` stage (no
    shuffle). ``pairs`` rows carry two array<struct<x,y>> columns."""
    from pyproj_spark.rows import map_rows
    base = [f for f in pairs.schema.fields
            if f.name not in (subj_col, clip_col)]
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in base)
    schema += ", n_pieces int, n_vertices_out int, area double"

    def run(*vals):
        *keep, subj, cl = vals
        return [(*keep, *clip_pair_stats(
            np.array([(p["x"], p["y"]) for p in subj]),
            np.array([(p["x"], p["y"]) for p in cl])))]

    return map_rows(pairs, [f.name for f in base] + [subj_col, clip_col],
                    schema, run)
