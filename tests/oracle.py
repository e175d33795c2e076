"""Independent pure-Python geometry oracle for the test suite.

Deliberately implemented with DIFFERENT algorithms from the engine's
NumPy kernels (winding number instead of crossing number; scalar
per-pair loops instead of grouped vectorized batches) so a shared bug
can't silently agree with itself.
"""

from __future__ import annotations

import math
import struct

EPS = 1e-9


def parse(blob):
    """WKB -> dict geometry (little/big endian, 2D, ISO+EWKB Z/M)."""
    if blob is None:
        return None
    pos = [0]

    def u8():
        v = blob[pos[0]]
        pos[0] += 1
        return v

    def u32(little):
        v = int.from_bytes(blob[pos[0]:pos[0] + 4], "little" if little else "big")
        pos[0] += 4
        return v

    def dbl(little, cnt):
        fmt = ("<" if little else ">") + "d" * cnt
        v = struct.unpack_from(fmt, blob, pos[0])
        pos[0] += 8 * cnt
        return v

    def geom():
        little = u8() == 1
        t = u32(little)
        if t & 0x20000000:
            u32(little)
        nd = 2 + bool(t & 0x80000000) + bool(t & 0x40000000)
        base = t & 0x0FFFFFFF
        nd += (base // 1000 == 1) + (base // 1000 == 2) + 2 * (base // 1000 == 3)
        base = base % 1000
        if base == 1:
            c = dbl(little, nd)
            return {"type": "Point", "coords": (c[0], c[1])}
        if base == 2:
            n = u32(little)
            pts = [dbl(little, nd)[:2] for _ in range(n)]
            return {"type": "LineString", "coords": pts}
        if base == 3:
            nr = u32(little)
            rings = []
            for _ in range(nr):
                n = u32(little)
                rings.append([dbl(little, nd)[:2] for _ in range(n)])
            return {"type": "Polygon", "rings": rings}
        if base in (4, 5, 6, 7):
            n = u32(little)
            return {"type": "Multi", "parts": [geom() for _ in range(n)]}
        raise ValueError(f"type {t}")

    try:
        return geom()
    except Exception:
        return None


def _rings(g):
    if g is None:
        return []
    if g["type"] == "Polygon":
        return g["rings"]
    if g["type"] == "Multi":
        return [r for p in g["parts"] for r in _rings(p)]
    return []


def _paths(g):
    """All point sequences (rings, lines, single points)."""
    if g is None:
        return []
    if g["type"] == "Point":
        return [[g["coords"]]]
    if g["type"] == "LineString":
        return [g["coords"]]
    if g["type"] == "Polygon":
        return g["rings"]
    return [p for part in g["parts"] for p in _paths(part)]


def _segments(g):
    segs = []
    for path in _paths(g):
        for a, b in zip(path[:-1], path[1:]):
            segs.append((a, b))
    return segs


def _points(g):
    return [pt for path in _paths(g) for pt in path]


def _on_segment(p, a, b):
    if abs(b[0] - a[0]) + abs(b[1] - a[1]) <= EPS:
        # zero-length segment: only its end is on it
        return abs(p[0] - a[0]) <= EPS and abs(p[1] - a[1]) <= EPS
    cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    if abs(cross) > EPS * max(1.0, abs(b[0] - a[0]) + abs(b[1] - a[1])):
        return False
    dot = (p[0] - a[0]) * (b[0] - a[0]) + (p[1] - a[1]) * (b[1] - a[1])
    if dot < -EPS:
        return False
    sq = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2
    return dot <= sq + EPS


def point_in_polygon(p, g):
    """Winding-number even-odd over all rings; boundary counts True."""
    wn_parity = False
    for ring in _rings(g):
        for a, b in zip(ring[:-1], ring[1:]):
            if _on_segment(p, a, b):
                return True
        inside = False
        x, y = p
        for a, b in zip(ring[:-1], ring[1:]):
            if (a[1] > y) != (b[1] > y):
                xi = a[0] + (y - a[1]) / (b[1] - a[1]) * (b[0] - a[0])
                if x < xi:
                    inside = not inside
        wn_parity ^= inside
    return wn_parity


def seg_intersect(s1, s2):
    (p1, p2), (p3, p4) = s1, s2

    def orient(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    d1, d2 = orient(p3, p4, p1), orient(p3, p4, p2)
    d3, d4 = orient(p1, p2, p3), orient(p1, p2, p4)
    if ((d1 > EPS and d2 < -EPS) or (d1 < -EPS and d2 > EPS)) and \
       ((d3 > EPS and d4 < -EPS) or (d3 < -EPS and d4 > EPS)):
        return True
    for p, s in ((p1, (p3, p4)), (p2, (p3, p4)), (p3, (p1, p2)), (p4, (p1, p2))):
        if _on_segment(p, *s):
            return True
    return False


def _touches(p, g):
    """Point p lies in or on g: inside its polygon rings, on any of its
    segments, or equal to any of its points."""
    if _rings(g) and point_in_polygon(p, g):
        return True
    if any(_on_segment(p, *s) for s in _segments(g)):
        return True
    return any(abs(p[0] - q[0]) <= EPS and abs(p[1] - q[1]) <= EPS
               for q in _points(g))


def intersects(ga, gb):
    """Exact intersects, shapely semantics (boundary touch = True)."""
    if ga is None or gb is None:
        return False
    # any point of one side in/on the other
    if any(_touches(p, gb) for p in _points(ga)):
        return True
    if any(_touches(q, ga) for q in _points(gb)):
        return True
    for sa in _segments(ga):
        for sb in _segments(gb):
            if seg_intersect(sa, sb):
                return True
    return False


def distance(ga, gb):
    if intersects(ga, gb):
        return 0.0

    def pt_seg(p, a, b):
        dx, dy = b[0] - a[0], b[1] - a[1]
        l2 = dx * dx + dy * dy
        t = 0.0 if l2 == 0 else max(0.0, min(1.0, ((p[0] - a[0]) * dx + (p[1] - a[1]) * dy) / l2))
        cx, cy = a[0] + t * dx, a[1] + t * dy
        return math.hypot(p[0] - cx, p[1] - cy)

    best = math.inf
    sa, sb = _segments(ga), _segments(gb)
    for p in _points(ga):
        for s in sb:
            best = min(best, pt_seg(p, *s))
        for q in _points(gb):
            best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
    for q in _points(gb):
        for s in sa:
            best = min(best, pt_seg(q, *s))
    return best


def area(g):
    """|exterior| - holes per polygon part."""
    if g is None:
        return 0.0
    if g["type"] == "Multi":
        return sum(area(p) for p in g["parts"])
    if g["type"] != "Polygon":
        return 0.0
    total = 0.0
    for i, ring in enumerate(g["rings"]):
        s = 0.0
        for a, b in zip(ring[:-1], ring[1:]):
            s += a[0] * b[1] - b[0] * a[1]
        s = abs(s) / 2
        total += s if i == 0 else -s
    return total
