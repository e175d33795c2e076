"""Vectorized geometry kernels over :class:`~cdap_geo_spark.core.wkb.GeomBatch`.

Semantics pinned to the reference's shapely usage:

* ``intersects`` counts boundary contact as True (shapely convention;
  the reference's exact join predicate, ``cdap_geo/functions.py:72-78``);
* ``area`` is exterior minus holes (``cdap_geo/functions.py:12-14``);
* NULL/empty geometries never error and never match
  (``cdap_geo/sedona.py:15-36`` null-guard semantics).

All pair predicates are batch kernels: they take a GeomBatch per side
plus (li, ri) index arrays naming candidate pairs, and return a bool /
float array per pair. ``intersects`` and ``distance`` build each
side's edges once per batch as a flat CSR table (:func:`edge_table`),
expand every pair into (element, element) rows — edge x edge, probe
point x edge, vertex x edge — evaluate them in one vectorized pass
per chunk and reduce per pair, with no Python loop over geometries.
"""

from __future__ import annotations

import numpy as np

from cdap_geo_spark.core.wkb import (
    GeomBatch,
    KIND_POINT,
    KIND_POLYGON,
    _expand_ranges,
)

_EPS = 1e-9
#: farther than this from a segment's bbox, no point is on the segment
#: under the eps rule of :func:`_on_segment` (its reach is at most
#: sqrt(2) * max(eps, eps / length), and length > eps)
_NEAR = 2.0


# ---------------------------------------------------------------------------
# Per-geometry scalar kernels
# ---------------------------------------------------------------------------

def area(batch: GeomBatch) -> np.ndarray:
    """(n,) polygon area = |exterior| - sum(|holes|) per part, else 0."""
    n = len(batch)
    out = np.zeros(n)
    r = len(batch.ring_coord_off) - 1
    if r == 0:
        return out
    # signed shoelace per ring, vectorized with reduceat over cross terms
    x, y = batch.coords[:, 0], batch.coords[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    ring_starts = batch.ring_coord_off[:-1]
    ring_stops = batch.ring_coord_off[1:]
    ring_area = np.zeros(r)
    for ri in range(r):  # fallback loop replaced below for hot use
        s, e = ring_starts[ri], ring_stops[ri]
        if e - s >= 4:
            ring_area[ri] = 0.5 * np.sum(cross[s:e - 1])
    # assign rings to parts; ring 0 of each polygon part is exterior
    for p in range(len(batch.part_kind)):
        if batch.part_kind[p] != KIND_POLYGON:
            continue
        rs, re_ = batch.part_ring_off[p], batch.part_ring_off[p + 1]
        if re_ <= rs:
            continue
        part_area = abs(ring_area[rs]) - np.sum(np.abs(ring_area[rs + 1:re_]))
        g = np.searchsorted(batch.geom_part_off, p, side="right") - 1
        out[g] += part_area
    return out


def centroid(batch: GeomBatch) -> np.ndarray:
    """(n, 2) centroid per geometry, highest-dimension rule (the
    PostGIS/GEOS ST_Centroid convention the reference's shapely
    delegate follows): polygon parts present -> area-weighted centroid
    (exterior minus holes, orientation-independent via sign-normalized
    shoelace moments); else line parts -> length-weighted edge-midpoint
    centroid; else points -> vertex mean. NULL/empty (or zero-measure
    at the chosen dimension falling through every rule) -> NaN row.
    """
    n = len(batch)
    out = np.full((n, 2), np.nan)
    x, y = batch.coords[:, 0], batch.coords[:, 1]
    for g in range(n):
        if not batch.valid[g]:
            continue
        p0, p1 = batch.geom_part_off[g], batch.geom_part_off[g + 1]
        kinds = batch.part_kind[p0:p1]
        # local frame anchored at the geometry's first vertex: raw
        # shoelace at projected-CRS magnitudes (~1e6) builds ~1e18
        # intermediates that cancel down to ~1e14 — catastrophic
        # precision loss; local coordinates keep every product exact
        gs = batch.ring_coord_off[batch.part_ring_off[p0]]
        ax, ay = x[gs], y[gs]
        if np.any(kinds == KIND_POLYGON):
            tot_a = 0.0
            tot_mx = 0.0
            tot_my = 0.0
            for p in range(p0, p1):
                if batch.part_kind[p] != KIND_POLYGON:
                    continue
                rs, re_ = batch.part_ring_off[p], batch.part_ring_off[p + 1]
                for k, ri in enumerate(range(rs, re_)):
                    s, e = (batch.ring_coord_off[ri],
                            batch.ring_coord_off[ri + 1])
                    if e - s < 4:
                        continue
                    xx, yy = x[s:e] - ax, y[s:e] - ay
                    cross = xx[:-1] * yy[1:] - xx[1:] * yy[:-1]
                    a = 0.5 * np.sum(cross)
                    mx = np.sum((xx[:-1] + xx[1:]) * cross) / 6.0
                    my = np.sum((yy[:-1] + yy[1:]) * cross) / 6.0
                    # normalize to positive orientation, then ring 0
                    # adds (exterior) and later rings subtract (holes)
                    sgn = (1.0 if a >= 0 else -1.0) * (1.0 if k == 0
                                                       else -1.0)
                    tot_a += sgn * a
                    tot_mx += sgn * mx
                    tot_my += sgn * my
            if tot_a > 0:
                out[g] = (ax + tot_mx / tot_a, ay + tot_my / tot_a)
                continue
            # degenerate (zero-area) polygon: fall through to lines
        # point parts contribute no edges, so a nonempty edge set means
        # line-dimension parts exist (or a degenerate polygon boundary)
        segs = _geom_edges(batch, g)
        if len(segs):
            ln = np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])
            total = ln.sum()
            if total > 0:
                mx = (segs[:, 0] + segs[:, 2]) / 2.0
                my = (segs[:, 1] + segs[:, 3]) / 2.0
                out[g] = (np.dot(ln, mx) / total, np.dot(ln, my) / total)
                continue
        pts = _geom_points(batch, g)
        if len(pts):
            out[g] = pts.mean(axis=0)
    return out


def length(batch: GeomBatch) -> np.ndarray:
    """(n,) boundary length per geometry: polygon parts contribute ring
    perimeters (exterior AND holes — the PostGIS ``ST_Perimeter``
    convention), line parts their polyline length, point parts 0.
    NULL/empty geometries -> 0 (same never-error contract as
    :func:`area`; the reference delegates to ``shapely .length``,
    ``cdap_geo/misc.py``'s flattened-part accounting).

    Fully vectorized: one ``hypot`` over every consecutive coordinate
    pair, ring-boundary segments zeroed, then ring -> part -> geometry
    sums via cumulative-sum differences (no per-ring Python loop).
    """
    n = len(batch)
    out = np.zeros(n)
    if len(batch.coords) < 2:
        return out
    x, y = batch.coords[:, 0], batch.coords[:, 1]
    seg = np.hypot(x[1:] - x[:-1], y[1:] - y[:-1])
    # zero the phantom segments that straddle a ring boundary: ring ri
    # owns coords [s, e) hence segments [s, e-1); seg[e-1] belongs to
    # the NEXT ring's first vertex pair only when e < len(coords)
    ends = batch.ring_coord_off[1:-1] - 1          # interior boundaries
    seg[ends[(ends >= 0) & (ends < len(seg))]] = 0.0
    csum = np.concatenate(([0.0], np.cumsum(seg)))
    s_ = batch.ring_coord_off[:-1]
    e_ = batch.ring_coord_off[1:]
    # ring length = sum(seg[s : e-1]) = csum[e-1] - csum[s]; degenerate
    # rings (e - s < 2, e.g. point parts) index csum[s]-csum[s] = 0
    ring_len = csum[np.maximum(e_ - 1, s_)] - csum[s_]
    rcs = np.concatenate(([0.0], np.cumsum(ring_len)))
    part_len = rcs[batch.part_ring_off[1:]] - rcs[batch.part_ring_off[:-1]]
    part_len[batch.part_kind == KIND_POINT] = 0.0
    pcs = np.concatenate(([0.0], np.cumsum(part_len)))
    out = pcs[batch.geom_part_off[1:]] - pcs[batch.geom_part_off[:-1]]
    out[~batch.valid] = 0.0
    return out


def vertex_counts(batch: GeomBatch) -> np.ndarray:
    """(n,) total vertex count per geometry — the reference's complexity
    signal (``cdap_geo/misc.py:30-32``), used for skew routing."""
    first = batch.ring_coord_off[batch.part_ring_off[batch.geom_part_off[:-1]]]
    last = batch.ring_coord_off[batch.part_ring_off[batch.geom_part_off[1:]]]
    return (last - first).astype(np.int64)


# ---------------------------------------------------------------------------
# Ring extraction helpers (per-geometry; centroid and the region ops)
# ---------------------------------------------------------------------------

def _geom_ring_range(batch: GeomBatch, g: int):
    p0, p1 = batch.geom_part_off[g], batch.geom_part_off[g + 1]
    return batch.part_ring_off[p0], batch.part_ring_off[p1]


def _geom_edges(batch: GeomBatch, g: int):
    """All edges of geometry g as (E,4) [x0,y0,x1,y1].

    Rings contribute their closing edges as stored (WKB rings repeat
    the first vertex, so consecutive pairs cover the closure). Point
    parts contribute no edges.
    """
    r0, r1 = _geom_ring_range(batch, g)
    segs = []
    for ri in range(r0, r1):
        s, e = batch.ring_coord_off[ri], batch.ring_coord_off[ri + 1]
        if e - s >= 2:
            c = batch.coords[s:e]
            segs.append(np.hstack([c[:-1], c[1:]]))
    if not segs:
        return np.zeros((0, 4))
    return np.concatenate(segs)


def _geom_points(batch: GeomBatch, g: int) -> np.ndarray:
    r0, r1 = _geom_ring_range(batch, g)
    s = batch.ring_coord_off[r0]
    e = batch.ring_coord_off[r1]
    return batch.coords[s:e]


def _geom_polygon_rings(batch: GeomBatch, g: int):
    """Rings of all polygon parts of geometry g (list of (k,2) arrays)."""
    rings = []
    for p in range(batch.geom_part_off[g], batch.geom_part_off[g + 1]):
        if batch.part_kind[p] != KIND_POLYGON:
            continue
        for ri in range(batch.part_ring_off[p], batch.part_ring_off[p + 1]):
            s, e = batch.ring_coord_off[ri], batch.ring_coord_off[ri + 1]
            if e - s >= 4:
                rings.append(batch.coords[s:e])
    return rings


# ---------------------------------------------------------------------------
# Point and segment rules (elementwise, broadcasting)
# ---------------------------------------------------------------------------

def points_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd crossing test of (k,) points against a ring set.

    Boundary points count as inside (shapely ``intersects`` treats
    boundary contact as True). Holes are handled by parity: a point in
    a hole crosses both the exterior and the hole ring.
    """
    k = len(px)
    inside = np.zeros(k, bool)
    boundary = np.zeros(k, bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        # crossing-number: edge straddles the horizontal line of the point
        PX = px[:, None]
        PY = py[:, None]
        cond = (y0[None, :] > PY) != (y1[None, :] > PY)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0[None, :] + (PY - y0[None, :]) / (y1[None, :] - y0[None, :]) * \
                (x1[None, :] - x0[None, :])
        crossing = cond & (PX < xint)
        inside ^= (np.sum(crossing, axis=1) % 2).astype(bool)
        # boundary: point on segment
        boundary |= _points_on_segments(px, py, x0, y0, x1, y1)
    return inside | boundary


def _on_segment(px, py, x0, y0, x1, y1):
    """Point on segment within eps; a zero-length segment counts when
    the point equals its end (so a point part is a zero-length edge)."""
    dx, dy = x1 - x0, y1 - y0
    ex, ey = px - x0, py - y0
    cross = dx * ey - dy * ex
    seg_len2 = dx * dx + dy * dy
    dot = ex * dx + ey * dy
    on_line = np.abs(cross) <= _EPS * np.maximum(1.0, np.sqrt(seg_len2))
    within = (dot >= -_EPS) & (dot <= seg_len2 + _EPS)
    degenerate = seg_len2 <= _EPS * _EPS
    on_pt = degenerate & (np.abs(ex) <= _EPS) & (np.abs(ey) <= _EPS)
    return (on_line & within & ~degenerate) | on_pt


def _points_on_segments(px, py, x0, y0, x1, y1) -> np.ndarray:
    """(k,) True if point lies on any of the (E,) segments (within eps)."""
    return np.any(_on_segment(px[:, None], py[:, None], x0[None, :],
                              y0[None, :], x1[None, :], y1[None, :]), axis=1)


def _segments_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Segment a meets segment b: a proper crossing, or an end of one
    on the other (touch and collinear overlap count)."""
    d1 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = _orient(ax0, ay0, ax1, ay1, bx1, by1)

    proper = ((d1 > _EPS) & (d2 < -_EPS) | (d1 < -_EPS) & (d2 > _EPS)) & \
             ((d3 > _EPS) & (d4 < -_EPS) | (d3 < -_EPS) & (d4 > _EPS))
    touch = (
        (np.abs(d1) <= _EPS) & _on_seg(bx0, by0, bx1, by1, ax0, ay0) |
        (np.abs(d2) <= _EPS) & _on_seg(bx0, by0, bx1, by1, ax1, ay1) |
        (np.abs(d3) <= _EPS) & _on_seg(ax0, ay0, ax1, ay1, bx0, by0) |
        (np.abs(d4) <= _EPS) & _on_seg(ax0, ay0, ax1, ay1, bx1, by1)
    )
    return proper | touch


def segments_intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(A,B) bool: segment set a (A,4) × segment set b (B,4) intersection,
    boundary/collinear touch counts as True."""
    return _segments_cross(*(a[:, i][:, None] for i in range(4)),
                           *(b[:, i][None, :] for i in range(4)))


def _orient(x0, y0, x1, y1, px, py):
    return (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)


def _on_seg(x0, y0, x1, y1, px, py):
    return (px >= np.minimum(x0, x1) - _EPS) & (px <= np.maximum(x0, x1) + _EPS) & \
           (py >= np.minimum(y0, y1) - _EPS) & (py <= np.maximum(y0, y1) + _EPS)


# ---------------------------------------------------------------------------
# Flat tables and pair expansion
# ---------------------------------------------------------------------------

def is_axis_rect(batch: GeomBatch, bounds: np.ndarray | None = None) -> np.ndarray:
    """(n,) True for single-part single-ring 5-point axis-aligned
    rectangles — the dominant polygon class (boxes, tiles), which gets
    closed-form pair kernels."""
    if bounds is None:
        bounds = batch.bounds()
    n = len(batch)
    out = np.zeros(n, bool)
    one_part = (batch.geom_part_off[1:] - batch.geom_part_off[:-1]) == 1
    cand = np.flatnonzero(one_part & batch.valid &
                          (batch.kinds == np.uint8(KIND_POLYGON)))
    if len(cand) == 0:
        return out
    p = batch.geom_part_off[cand]
    cand = cand[(batch.part_ring_off[p + 1] - batch.part_ring_off[p]) == 1]
    if len(cand) == 0:
        return out
    r = batch.part_ring_off[batch.geom_part_off[cand]]
    cand = cand[(batch.ring_coord_off[r + 1] - batch.ring_coord_off[r]) == 5]
    if len(cand) == 0:
        return out
    # fully vectorized check of all candidates at once: gather each
    # candidate's 5 ring vertices as a (k, 5) block (the round-1
    # per-geometry loop here cost ~18 us per geometry and dominated
    # whole refine batches when every right geometry is distinct)
    s = batch.ring_coord_off[batch.part_ring_off[batch.geom_part_off[cand]]]
    gi = s[:, None] + np.arange(5)[None, :]
    xs = batch.coords[gi, 0]
    ys = batch.coords[gi, 1]
    bx0 = bounds[cand, 0][:, None]
    bx1 = bounds[cand, 2][:, None]
    by0 = bounds[cand, 1][:, None]
    by1 = bounds[cand, 3][:, None]
    good = (((xs == bx0) | (xs == bx1)).all(axis=1)
            & ((ys == by0) | (ys == by1)).all(axis=1)
            & (xs[:, 0] == xs[:, 4]) & (ys[:, 0] == ys[:, 4]))
    out[cand[good]] = True
    return out


def edge_table(batch: GeomBatch):
    """Every geometry's edges in one flat table, fully vectorized.

    Returns ``(x0, y0, x1, y1, ring, off)``: the edge end arrays, a
    mask of the edges on polygon rings (the ones point-in-polygon
    parity counts) and the (n+1,) CSR offsets of each geometry's
    edges. Polygon rings (closed as stored) and line paths contribute
    their consecutive vertex pairs; a point part contributes one
    zero-length edge, so contact with it is a touch like any other.
    """
    ncoord = np.diff(batch.ring_coord_off)
    kind = np.repeat(batch.part_kind, np.diff(batch.part_ring_off))
    point = kind == KIND_POINT
    nedge = np.where(point, ncoord, np.maximum(ncoord - 1, 0))
    start = batch.ring_coord_off[:-1]
    i0 = _expand_ranges(start, start + nedge)
    i1 = i0 + np.repeat(~point, nedge)
    ring = np.repeat(kind == KIND_POLYGON, nedge)
    ends = np.concatenate(([0], np.cumsum(nedge)))
    off = ends[batch.part_ring_off[batch.geom_part_off]]
    c = batch.coords
    return c[i0, 0], c[i0, 1], c[i1, 0], c[i1, 1], ring, off


#: pair-expanded rows per chunk (bounds the kernels' temporaries)
_ROW_BUDGET = 1_000_000


def _pair_rows(a_off, ai, b_off, bi):
    """Pair-expanded index rows: for item k, every element ``a`` of the
    CSR slice ``a_off[ai[k]]:a_off[ai[k] + 1]`` with every element
    ``b`` of ``b_off[bi[k]]:b_off[bi[k] + 1]``, a-major.

    Yields ``(lo, hi, k, a, b)`` for runs of items ``[lo, hi)`` of
    about ``_ROW_BUDGET`` rows. An item is never split, so its rows
    are contiguous in one chunk.
    """
    na = a_off[ai + 1] - a_off[ai]
    nb = b_off[bi + 1] - b_off[bi]
    ends = np.cumsum(na * nb)
    lo, m = 0, len(ai)
    while lo < m:
        base = int(ends[lo - 1]) if lo else 0
        hi = max(int(np.searchsorted(ends, base + _ROW_BUDGET, "right")),
                 lo + 1)
        if ends[hi - 1] > base:
            k = np.repeat(np.arange(lo, hi), na[lo:hi])
            a = _expand_ranges(a_off[ai[lo:hi]], a_off[ai[lo:hi] + 1])
            reps = nb[k]
            yield (lo, hi, np.repeat(k, reps), np.repeat(a, reps),
                   _expand_ranges(b_off[bi[k]], b_off[bi[k] + 1]))
        lo = hi


def points_in_geoms(px: np.ndarray, py: np.ndarray, table,
                    gi: np.ndarray) -> np.ndarray:
    """(k,) point i touches geometry ``gi[i]`` of an :func:`edge_table`:
    inside its polygon rings by even-odd parity (holes included), or on
    any of its edges by the :func:`_points_on_segments` rule, which
    also makes a point on a point part's zero-length edge equal to it.
    Flat over the pair-expanded (point, edge) rows."""
    x0, y0, x1, y1, ring, off = table
    n = len(gi)
    odd = np.zeros(n, bool)
    on = np.zeros(n, bool)
    one = np.arange(n + 1)
    for lo, hi, k, _, e in _pair_rows(one, one[:-1], off, gi):
        # only an edge whose y-range (widened past the eps rule's reach)
        # holds the point can cross its ray or carry it
        PY, Y0, Y1 = py[k], y0[e], y1[e]
        s = np.flatnonzero((PY >= np.minimum(Y0, Y1) - _NEAR)
                           & (PY <= np.maximum(Y0, Y1) + _NEAR))
        k, e, PY, Y0, Y1 = k[s], e[s], PY[s], Y0[s], Y1[s]
        PX, X0, X1 = px[k], x0[e], x1[e]
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = X0 + (PY - Y0) / (Y1 - Y0) * (X1 - X0)
            crossing = ring[e] & ((Y0 > PY) != (Y1 > PY)) & (PX < xint)
            on[k[_on_segment(PX, PY, X0, Y0, X1, Y1)]] = True
        odd[lo:hi] = np.bincount(k[crossing] - lo, minlength=hi - lo) % 2 == 1
    return odd | on


def _is_single_point(batch: GeomBatch) -> np.ndarray:
    first = batch.ring_coord_off[batch.part_ring_off[batch.geom_part_off[:-1]]]
    last = batch.ring_coord_off[batch.part_ring_off[batch.geom_part_off[1:]]]
    return batch.valid & (batch.kinds == KIND_POINT) & ((last - first) == 1)


# ---------------------------------------------------------------------------
# Pairwise predicates over candidate pair lists
# ---------------------------------------------------------------------------

def _edges_cross_flat(lt, rt, li: np.ndarray, ri: np.ndarray) -> np.ndarray:
    """(m,) some edge of table-geometry ``li[k]`` meets some edge of
    ``ri[k]`` — over the pair-expanded (edge, edge) rows, exact incl.
    touch, a bbox reject first."""
    lx0, ly0, lx1, ly1, _, loff = lt
    rx0, ry0, rx1, ry1, _, roff = rt
    out = np.zeros(len(li), bool)
    for _, _, k, a, b in _pair_rows(loff, li, roff, ri):
        ax0, ay0, ax1, ay1 = lx0[a], ly0[a], lx1[a], ly1[a]
        bx0, by0, bx1, by1 = rx0[b], ry0[b], rx1[b], ry1[b]
        s = np.flatnonzero(
            (np.minimum(ax0, ax1) <= np.maximum(bx0, bx1) + _EPS) &
            (np.maximum(ax0, ax1) >= np.minimum(bx0, bx1) - _EPS) &
            (np.minimum(ay0, ay1) <= np.maximum(by0, by1) + _EPS) &
            (np.maximum(ay0, ay1) >= np.minimum(by0, by1) - _EPS))
        hit = _segments_cross(ax0[s], ay0[s], ax1[s], ay1[s],
                              bx0[s], by0[s], bx1[s], by1[s])
        out[k[s[hit]]] = True
    return out


def _parts_touch(ab: GeomBatch, ai: np.ndarray, bt,
                 bi: np.ndarray) -> np.ndarray:
    """(m,) the first vertex of some part of ``ab[ai[k]]`` touches
    table-geometry ``bi[k]`` (:func:`points_in_geoms`)."""
    p0, p1 = ab.geom_part_off[ai], ab.geom_part_off[ai + 1]
    part = _expand_ranges(p0, p1)
    own = np.repeat(np.arange(len(ai)), p1 - p0)
    first = ab.ring_coord_off[ab.part_ring_off[part]]
    has = ab.ring_coord_off[ab.part_ring_off[part + 1]] > first
    own, first = own[has], first[has]
    out = np.zeros(len(ai), bool)
    out[own[points_in_geoms(ab.coords[first, 0], ab.coords[first, 1],
                            bt, bi[own])]] = True
    return out


def pairs_intersect(lb: GeomBatch, rb: GeomBatch,
                    li: np.ndarray, ri: np.ndarray) -> np.ndarray:
    """Exact ``intersects`` for candidate pairs (li[i], ri[i]).

    A pair intersects iff an edge of one side meets an edge of the
    other (point parts are zero-length edges), or the first vertex of
    some part of one side touches the other side — inside its polygon
    rings, on an edge, or equal to a point part — in either direction.
    This is exact: a part is connected, so a part that meets no edge
    of the partner lies wholly inside one face of it, and its first
    vertex says which.

    Selected by input kind: a single point against an axis-aligned
    rectangle is closed form, and a single point against anything else
    is its one probe (the dominant cases: point docs vs region boxes
    and polygons, tiles).
    """
    m = len(li)
    out = np.zeros(m, bool)
    if m == 0:
        return out
    ok = lb.valid[li] & rb.valid[ri]
    lpt = _is_single_point(lb)

    # ---- closed-form: single-point left x axis-rect right -------------
    rrect_bounds = rb.bounds()
    rrect = is_axis_rect(rb, rrect_bounds)
    fast = ok & lpt[li] & rrect[ri]
    if fast.any():
        fl, fr = li[fast], ri[fast]
        px = lb.coords[lb.ring_coord_off[lb.part_ring_off[
            lb.geom_part_off[fl]]], 0]
        py = lb.coords[lb.ring_coord_off[lb.part_ring_off[
            lb.geom_part_off[fl]]], 1]
        out[fast] = ((px >= rrect_bounds[fr, 0]) & (px <= rrect_bounds[fr, 2]) &
                     (py >= rrect_bounds[fr, 1]) & (py <= rrect_bounds[fr, 3]))
    pt = ok & ~fast & lpt[li]
    rest = ok & ~lpt[li]
    if not (pt.any() or rest.any()):
        return out
    rt = edge_table(rb)

    # ---- single-point left: its one probe -----------------------------
    if pt.any():
        out[pt] = _parts_touch(lb, li[pt], rt, ri[pt])

    # ---- everything else: edges, then part probes both ways -----------
    if rest.any():
        lt = edge_table(lb)
        rl, rr = li[rest], ri[rest]
        out[rest] = (_edges_cross_flat(lt, rt, rl, rr)
                     | _parts_touch(lb, rl, rt, rr)
                     | _parts_touch(rb, rr, lt, rl))
    return out


def _vertex_edge_min(ab: GeomBatch, ai: np.ndarray, bt,
                     bi: np.ndarray) -> np.ndarray:
    """(m,) least distance from a vertex of ``ab[ai[k]]`` to an edge of
    table-geometry ``bi[k]`` (inf when either has none)."""
    x0, y0, x1, y1, _, eoff = bt
    voff = ab.ring_coord_off[ab.part_ring_off[ab.geom_part_off]]
    out = np.full(len(ai), np.inf)
    for _, _, k, v, e in _pair_rows(voff, ai, eoff, bi):
        px, py = ab.coords[v, 0], ab.coords[v, 1]
        X0, Y0 = x0[e], y0[e]
        dx, dy = x1[e] - X0, y1[e] - Y0
        len2 = dx * dx + dy * dy
        t = np.clip(((px - X0) * dx + (py - Y0) * dy)
                    / np.where(len2 == 0, 1, len2), 0.0, 1.0)
        d2 = (px - (X0 + t * dx)) ** 2 + (py - (Y0 + t * dy)) ** 2
        start = np.flatnonzero(np.concatenate(([True], k[1:] != k[:-1])))
        out[k[start]] = np.sqrt(np.minimum.reduceat(d2, start))
    return out


def pairs_distance(lb: GeomBatch, rb: GeomBatch,
                   li: np.ndarray, ri: np.ndarray) -> np.ndarray:
    """Exact euclidean distance per candidate pair (0 if intersecting).

    Two disjoint geometries are nearest at a vertex of one side and an
    edge of the other (a point part is a zero-length edge, so two point
    sets meet vertex to vertex). The kernel is the minimum over
    (left vertices x right edges) and (right vertices x left edges),
    flat over the pair-expanded rows; a single point against an
    axis-aligned rectangle is closed form.
    """
    m = len(li)
    out = np.full(m, np.inf)
    if m == 0:
        return out

    # ---- closed-form: single-point left x axis-rect right -------------
    okv = lb.valid[li] & rb.valid[ri]
    lpt = _is_single_point(lb)
    rbounds = rb.bounds()
    rrect = is_axis_rect(rb, rbounds)
    fast = okv & lpt[li] & rrect[ri]
    if fast.any():
        fl, fr = li[fast], ri[fast]
        cidx = lb.ring_coord_off[lb.part_ring_off[lb.geom_part_off[fl]]]
        px, py = lb.coords[cidx, 0], lb.coords[cidx, 1]
        dx = np.maximum(np.maximum(rbounds[fr, 0] - px, px - rbounds[fr, 2]), 0)
        dy = np.maximum(np.maximum(rbounds[fr, 1] - py, py - rbounds[fr, 3]), 0)
        out[fast] = np.sqrt(dx * dx + dy * dy)
    sub = np.flatnonzero(okv & ~fast)
    if len(sub) == 0:
        return out
    inter = pairs_intersect(lb, rb, li[sub], ri[sub])
    out[sub[inter]] = 0.0
    far = sub[~inter]
    if len(far):
        fl, fr = li[far], ri[far]
        lt, rt = edge_table(lb), edge_table(rb)
        out[far] = np.minimum(_vertex_edge_min(lb, fl, rt, fr),
                              _vertex_edge_min(rb, fr, lt, fl))
    return out
def _geom_polygon_rings_signed(batch: GeomBatch, g: int):
    """Rings of all polygon parts of geometry g as (ring, sign) pairs:
    ring 0 of each part is the exterior (+1), later rings are holes
    (-1) — WKB ring-order semantics, tracked PER PART (a flattened list
    would mis-sign the exterior rings of later MultiPolygon parts)."""
    rings = []
    for p in range(batch.geom_part_off[g], batch.geom_part_off[g + 1]):
        if batch.part_kind[p] != KIND_POLYGON:
            continue
        r0 = batch.part_ring_off[p]
        for ri in range(r0, batch.part_ring_off[p + 1]):
            s, e = batch.ring_coord_off[ri], batch.ring_coord_off[ri + 1]
            if e - s >= 4:
                rings.append((batch.coords[s:e], 1.0 if ri == r0 else -1.0))
    return rings


def _dedupe_ring(ring: np.ndarray) -> np.ndarray:
    """Open vertex list of a closed ring, consecutive dups dropped."""
    pts = ring[:-1]
    if len(pts) == 0:
        return pts
    keep = np.ones(len(pts), bool)
    keep[1:] = np.any(pts[1:] != pts[:-1], axis=1)
    pts = pts[keep]
    if len(pts) >= 2 and pts[0][0] == pts[-1][0] and pts[0][1] == pts[-1][1]:
        pts = pts[:-1]
    return pts


def _is_convex_ccw(pts: np.ndarray) -> bool:
    """True iff the open CCW vertex list is convex (collinear ok)."""
    a = pts
    b = np.roll(pts, -1, axis=0)
    c = np.roll(pts, -2, axis=0)
    cross = ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    return bool(np.all(cross >= -_EPS))


def _ear_triangulate(pts: np.ndarray) -> list:
    """Ear-clipping triangulation of a simple open CCW ring ->
    list of (3,2) triangles. O(n^2); per-row kernel scale is fine."""
    idx = list(range(len(pts)))
    tris = []
    while len(idx) > 3:
        n = len(idx)
        clipped = False
        for t in range(n):
            i0, i1, i2 = idx[t - 1], idx[t], idx[(t + 1) % n]
            ax, ay = pts[i0]
            bx, by = pts[i1]
            cx, cy = pts[i2]
            cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            if cross <= _EPS:  # reflex or degenerate: not an ear yet
                continue
            # no other ring vertex strictly inside the candidate ear
            others = [i for i in idx if i not in (i0, i1, i2)]
            op = pts[others]
            d0 = (bx - ax) * (op[:, 1] - ay) - (by - ay) * (op[:, 0] - ax)
            d1 = (cx - bx) * (op[:, 1] - by) - (cy - by) * (op[:, 0] - bx)
            d2 = (ax - cx) * (op[:, 1] - cy) - (ay - cy) * (op[:, 0] - cx)
            if np.any((d0 > _EPS) & (d1 > _EPS) & (d2 > _EPS)):
                continue
            tris.append(pts[[i0, i1, i2]])
            del idx[t]
            clipped = True
            break
        if not clipped:
            # numerically stuck (near-degenerate ring): drop the most
            # degenerate vertex and continue — area error is O(eps)
            n = len(idx)
            best, best_abs = 0, np.inf
            for t in range(n):
                i0, i1, i2 = idx[t - 1], idx[t], idx[(t + 1) % n]
                ax, ay = pts[i0]
                bx, by = pts[i1]
                cx, cy = pts[i2]
                cr = abs((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
                if cr < best_abs:
                    best, best_abs = t, cr
            del idx[best]
    if len(idx) == 3:
        tris.append(pts[idx])
    return tris


def _convex_cells(ring: np.ndarray) -> list:
    """Closed ring -> list of OPEN convex CCW vertex arrays covering its
    region exactly: the ring itself when convex, else ear triangles."""
    pts = _dedupe_ring(ring)
    if len(pts) < 3:
        return []
    x, y = pts[:, 0], pts[:, 1]
    if 0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) < 0:
        pts = pts[::-1]
    if _is_convex_ccw(pts):
        return [pts]
    return [t for t in _ear_triangulate(pts)
            if abs(_tri_area2(t)) > 0.0]


def _tri_area2(t: np.ndarray) -> float:
    return ((t[1, 0] - t[0, 0]) * (t[2, 1] - t[0, 1])
            - (t[1, 1] - t[0, 1]) * (t[2, 0] - t[0, 0]))


def _signed_convex_cover(batch: GeomBatch, g: int) -> list:
    """Geometry -> list of (open convex CCW cell, sign, bbox): the
    signed indicator 1_geom = sum(sign * 1_cell) pointwise a.e. for
    valid polygons (exterior cells +1, hole cells -1)."""
    cells = []
    for ring, sign in _geom_polygon_rings_signed(batch, g):
        for cell in _convex_cells(ring):
            bb = (cell[:, 0].min(), cell[:, 1].min(),
                  cell[:, 0].max(), cell[:, 1].max())
            cells.append((cell, sign, bb))
    return cells


def _convex_pair_area(a: np.ndarray, b: np.ndarray) -> float:
    """|a ∩ b| for two open convex CCW vertex lists (Sutherland–Hodgman,
    exact for convex⊗convex)."""
    return _clip_area(np.vstack([a, a[:1]]), np.vstack([b, b[:1]]))


def pairs_intersection_area(lb: GeomBatch, rb: GeomBatch,
                            li: np.ndarray, ri: np.ndarray) -> np.ndarray:
    """Area of intersection per pair — GENERAL: both sides may be
    non-convex (Multi)Polygons with holes (the reference clips arbitrary
    shapely geometries, ``cdap_geo/functions.py:37-39``).

    Each side is decomposed into signed convex cells (convex rings stay
    whole; concave rings are ear-triangulated; holes get sign -1), then
    area(L ∩ R) = sum over cell pairs of sign_l*sign_r*|cell_l ∩ cell_r|
    — exact for valid inputs because the signed indicators multiply
    pointwise. Cell pairs are bbox-pruned. Per-geometry covers are
    cached across the pair batch."""
    m = len(li)
    out = np.zeros(m)
    # axis-rect ⊗ axis-rect fast path: the overlap is the bbox overlap
    # (closed form, one vectorized pass) — measured ~1 ms/pair through
    # the generic convex-decomposition loop vs ~ns here; rectangles
    # dominate real region tables
    lrect = is_axis_rect(lb)
    rrect = is_axis_rect(rb)
    fast = lrect[li] & rrect[ri] & lb.valid[li] & rb.valid[ri]
    if fast.any():
        lbnd = lb.bounds()[li[fast]]
        rbnd = rb.bounds()[ri[fast]]
        w = np.minimum(lbnd[:, 2], rbnd[:, 2]) \
            - np.maximum(lbnd[:, 0], rbnd[:, 0])
        h = np.minimum(lbnd[:, 3], rbnd[:, 3]) \
            - np.maximum(lbnd[:, 1], rbnd[:, 1])
        out[fast] = np.maximum(w, 0.0) * np.maximum(h, 0.0)
    lcache: dict = {}
    rcache: dict = {}
    for j in np.flatnonzero(~fast):
        lg, rg = int(li[j]), int(ri[j])
        if not (lb.valid[lg] and rb.valid[rg]):
            continue
        if lg not in lcache:
            lcache[lg] = _signed_convex_cover(lb, lg)
        if rg not in rcache:
            rcache[rg] = _signed_convex_cover(rb, rg)
        total = 0.0
        for ca, sa, ba in lcache[lg]:
            for cb, sb, bb2 in rcache[rg]:
                if (ba[0] > bb2[2] or ba[2] < bb2[0]
                        or ba[1] > bb2[3] or ba[3] < bb2[1]):
                    continue
                total += sa * sb * _convex_pair_area(ca, cb)
        out[j] = max(total, 0.0)
    return out


def _clip_ring(subject: np.ndarray, clip: np.ndarray):
    """Sutherland–Hodgman clip of `subject` ring by convex `clip` ring;
    returns the clipped polygon's (k,2) vertices (open) or None."""
    # ensure clip is CCW for the inside test
    cx, cy = clip[:-1, 0], clip[:-1, 1]
    if 0.5 * np.sum(cx * np.roll(cy, -1) - np.roll(cx, -1) * cy) < 0:
        clip = clip[::-1]
    poly = subject[:-1].tolist()
    cpts = clip[:-1]
    nc = len(cpts)
    for i in range(nc):
        if not poly:
            return None
        ax, ay = cpts[i]
        bx, by = cpts[(i + 1) % nc]
        out_pts = []
        prev = poly[-1]
        prev_in = (bx - ax) * (prev[1] - ay) - (by - ay) * (prev[0] - ax) >= -_EPS
        for cur in poly:
            cur_in = (bx - ax) * (cur[1] - ay) - (by - ay) * (cur[0] - ax) >= -_EPS
            if cur_in:
                if not prev_in:
                    out_pts.append(_line_inter(prev, cur, (ax, ay), (bx, by)))
                out_pts.append(list(cur))
            elif prev_in:
                out_pts.append(_line_inter(prev, cur, (ax, ay), (bx, by)))
            prev, prev_in = cur, cur_in
        poly = out_pts
    if len(poly) < 3:
        return None
    return np.asarray(poly)


def _clip_area(subject: np.ndarray, clip: np.ndarray) -> float:
    """|area| of the Sutherland–Hodgman clip (see :func:`_clip_ring`)."""
    arr = _clip_ring(subject, clip)
    if arr is None:
        return 0.0
    x, y = arr[:, 0], arr[:, 1]
    return abs(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _line_inter(p, q, a, b):
    px, py = p
    qx, qy = q
    ax, ay = a
    bx, by = b
    d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    d2 = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    t = d1 / (d1 - d2) if d1 != d2 else 0.0
    return [px + t * (qx - px), py + t * (qy - py)]


# ---------------------------------------------------------------------------
# Constructive union — vertical slab (trapezoid) decomposition
# ---------------------------------------------------------------------------
# A point is in the union iff it is inside >=1 member polygon; each
# member fills by even-odd over its own rings (exterior + holes). The
# classic vertical decomposition makes this exactly computable with
# array ops: cut the plane at every vertex x and every pairwise edge
# crossing x; inside one open slab no two edges cross, so the covered
# region is a y-interval union whose ends are edges — i.e. trapezoids.
# Exact union AREA falls out for free; the constructive geometry is the
# horizontal merge of trapezoid runs (valid, possibly with collinear
# seam vertices — same caveat GEOS documents for its snap-rounded
# overlay). The reference gets all of this from shapely's
# ``unary_union`` (``cdap_geo/functions.py:16-27``); this is the
# from-scratch equivalent used by dissolve / buffer / make_valid.

def _union_edges(polys: list) -> tuple:
    """Flatten member polygons (list of lists of closed rings) into
    non-vertical edge arrays oriented x0 < x1, + poly ids."""
    x0s, y0s, x1s, y1s, pids = [], [], [], [], []
    for pid, rings in enumerate(polys):
        for ring in rings:
            pts = np.asarray(ring, float)
            if len(pts) < 4:
                continue
            ax, ay = pts[:-1, 0], pts[:-1, 1]
            bx, by = pts[1:, 0], pts[1:, 1]
            keep = ax != bx
            if not keep.any():
                continue
            ax, ay, bx, by = ax[keep], ay[keep], bx[keep], by[keep]
            flip = ax > bx
            ax2 = np.where(flip, bx, ax)
            bx2 = np.where(flip, ax, bx)
            ay2 = np.where(flip, by, ay)
            by2 = np.where(flip, ay, by)
            x0s.append(ax2)
            y0s.append(ay2)
            x1s.append(bx2)
            y1s.append(by2)
            pids.append(np.full(len(ax2), pid))
    if not x0s:
        z = np.empty(0)
        return z, z, z, z, np.empty(0, np.int64)
    return (np.concatenate(x0s), np.concatenate(y0s),
            np.concatenate(x1s), np.concatenate(y1s),
            np.concatenate(pids).astype(np.int64))


def _crossing_xs(x0, y0, x1, y1, chunk: int = 512) -> np.ndarray:
    """x-coordinates of all pairwise proper edge crossings (interior
    overlap in x AND straddling in y). O(E^2) pair tests, vectorized
    and chunked; per-group kernel scale (dissolve keys, one buffer's
    components), never a dataset-wide loop."""
    e = len(x0)
    out = []
    dx = x1 - x0
    dy = y1 - y0
    for s in range(0, e, chunk):
        t = slice(s, min(e, s + chunk))
        # candidate pairs: x-intervals overlap with nonzero interior
        lo = np.maximum(x0[t][:, None], x0[None, :])
        hi = np.minimum(x1[t][:, None], x1[None, :])
        ii, jj = np.nonzero(lo < hi)
        if len(ii) == 0:
            continue
        ii = ii + s
        keep = ii < jj
        ii, jj = ii[keep], jj[keep]
        if len(ii) == 0:
            continue
        # line crossing: solve for intersection of supporting lines
        den = dx[ii] * dy[jj] - dy[ii] * dx[jj]
        ok = den != 0
        ii, jj, den = ii[ok], jj[ok], den[ok]
        if len(ii) == 0:
            continue
        tt = ((x0[jj] - x0[ii]) * dy[jj] - (y0[jj] - y0[ii]) * dx[jj]) / den
        xc = x0[ii] + tt * dx[ii]
        inside = (xc > np.maximum(x0[ii], x0[jj])) \
            & (xc < np.minimum(x1[ii], x1[jj]))
        out.append(xc[inside])
    return np.concatenate(out) if out else np.empty(0)


def union_trapezoids(polys: list) -> tuple:
    """Union of member polygons -> (quads, area).

    ``polys``: list of members, each a list of closed (k,2) rings
    filling even-odd. Returns ``(list of (4,2) CCW trapezoid vertex
    arrays, exact union area)``. The trapezoids tile the union region
    exactly (disjoint interiors); adjacent slabs bounded by the same
    edge pair are merged into maximal runs.
    """
    x0, y0, x1, y1, pid = _union_edges(polys)
    if len(x0) == 0:
        return [], 0.0
    xs = np.unique(np.concatenate([x0, x1, _crossing_xs(x0, y0, x1, y1)]))
    if len(xs) < 2:
        return [], 0.0
    # edge e spans slabs [searchsorted(x0e) .. searchsorted(x1e)-1]
    i0 = np.searchsorted(xs, x0)
    i1 = np.searchsorted(xs, x1)
    span = i1 - i0
    reps = np.repeat(np.arange(len(x0)), span)           # edge id per inst
    slab = np.repeat(i0, span) + _expand_offsets(span)   # slab id per inst
    xl, xr = xs[slab], xs[slab + 1]
    tpar = np.where(x1[reps] != x0[reps],
                    1.0 / (x1[reps] - x0[reps]), 0.0)
    yl = y0[reps] + (xl - x0[reps]) * tpar * (y1[reps] - y0[reps])
    yr = y0[reps] + (xr - x0[reps]) * tpar * (y1[reps] - y0[reps])
    ym = yl + yr
    ip = pid[reps]
    # sort by (slab, poly, ymid): within (slab, poly) instances
    # alternate even-odd -> consecutive pairs bound covered intervals
    order = np.lexsort((yl, ym, ip, slab))
    slab, ip, yl, yr, ym = (a[order] for a in (slab, ip, yl, yr, ym))
    eid = reps[order]
    grp_new = np.ones(len(slab), bool)
    grp_new[1:] = (slab[1:] != slab[:-1]) | (ip[1:] != ip[:-1])
    rank = np.arange(len(slab)) - np.maximum.accumulate(
        np.where(grp_new, np.arange(len(slab)), -1))
    # an interval = an even-rank instance paired with the NEXT instance
    # of the same group; a trailing unpaired lower (odd group size =
    # degenerate ring) is dropped by the ~group-end condition
    grp_end = np.append(grp_new[1:], True)
    lo_idx = np.nonzero(((rank % 2) == 0) & ~grp_end)[0]
    hi_idx = lo_idx + 1
    if len(lo_idx) == 0:
        return [], 0.0
    # per-interval data (still per (slab, poly)); now union across polys
    s_l = slab[lo_idx]
    b_yl, b_yr, b_ym, b_eid = yl[lo_idx], yr[lo_idx], ym[lo_idx], eid[lo_idx]
    t_yl, t_yr, t_ym, t_eid = yl[hi_idx], yr[hi_idx], ym[hi_idx], eid[hi_idx]
    o2 = np.lexsort((b_ym, s_l))
    s_l, b_yl, b_yr, b_ym, b_eid, t_yl, t_yr, t_ym, t_eid = (
        a[o2] for a in (s_l, b_yl, b_yr, b_ym, b_eid,
                        t_yl, t_yr, t_ym, t_eid))
    # union-merge intervals within each slab: tight python sweep (the
    # sweep state — which edge currently bounds the top — defeats a
    # clean vectorization; counts here are per-group-kernel small)
    quads = []
    area_sum = 0.0
    i = 0
    n = len(s_l)
    # merged intervals per slab -> (slab, bot edge data, top edge data)
    merged = []  # (slab, b_eid, t_eid, byl, byr, tyl, tyr)
    while i < n:
        j = i
        cur_t_ym = t_ym[i]
        cur = [s_l[i], b_eid[i], t_eid[i], b_yl[i], b_yr[i],
               t_yl[i], t_yr[i]]
        j += 1
        while j < n and s_l[j] == s_l[i] and b_ym[j] <= cur_t_ym:
            if t_ym[j] > cur_t_ym:
                cur_t_ym = t_ym[j]
                cur[2], cur[5], cur[6] = t_eid[j], t_yl[j], t_yr[j]
            j += 1
        merged.append(cur)
        i = j
    if not merged:
        return [], 0.0
    m = np.array([[c[0], c[1], c[2]] for c in merged], np.int64)
    my = np.array([[c[3], c[4], c[5], c[6]] for c in merged])
    # horizontal merge: runs of consecutive slabs with same (bot, top)
    o3 = np.lexsort((m[:, 0], m[:, 2], m[:, 1]))
    m, my = m[o3], my[o3]
    brk = np.ones(len(m), bool)
    brk[1:] = (m[1:, 1] != m[:-1, 1]) | (m[1:, 2] != m[:-1, 2]) \
        | (m[1:, 0] != m[:-1, 0] + 1)
    run_id = np.cumsum(brk) - 1
    for r in range(run_id[-1] + 1):
        sel = np.nonzero(run_id == r)[0]
        first, last = sel[0], sel[-1]
        xlq, xrq = xs[m[first, 0]], xs[m[last, 0] + 1]
        byl, tyl = my[first, 0], my[first, 2]
        byr, tyr = my[last, 1], my[last, 3]
        if xrq <= xlq:
            continue
        a = 0.5 * (xrq - xlq) * ((tyl - byl) + (tyr - byr))
        if a <= 0:
            continue
        area_sum += a
        quads.append(np.array([[xlq, byl], [xrq, byr],
                               [xrq, tyr], [xlq, tyl]]))
    return quads, area_sum


def _expand_offsets(counts: np.ndarray) -> np.ndarray:
    """[2,0,3] -> [0,1,0,1,2] (within-group arange)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64)
    idx = np.arange(total)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return idx - starts


def polygon_members(batch: GeomBatch, g: int) -> list:
    """Polygon parts of geometry g as union-kernel members: one list
    of closed rings (exterior + holes, even-odd fill) per part."""
    members = []
    for p in range(batch.geom_part_off[g], batch.geom_part_off[g + 1]):
        if batch.part_kind[p] != KIND_POLYGON:
            continue
        rings = []
        for ri in range(batch.part_ring_off[p], batch.part_ring_off[p + 1]):
            s, e = batch.ring_coord_off[ri], batch.ring_coord_off[ri + 1]
            if e - s >= 4:
                rings.append(batch.coords[s:e])
        if rings:
            members.append(rings)
    return members
