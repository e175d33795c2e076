"""Int64 hierarchical Z-order cell scheme (H3/S2-style ids).

Replaces the reference's two string cell-id schemes — the fixed-grid
``'{x}-{y}'`` ids (``cdap_geo/index_bbox.py:23``) and BNG letter refs
(``cdap_geo/_indexing.py:73-105``) — with one int64 id:

    id = (level << 58) | morton(xi, yi)

where (xi, yi) is the cell's grid coordinate at ``level`` (cell size =
``world / 2**level``) and morton interleaves up to 29 bits per axis.
Integer ids keep shuffle keys 8 bytes wide (vs 12+ byte strings) and
carry their level, so ids of mixed levels never collide — BNG letters
are just a base-25 rendering of the same quadtree, so this preserves
the reference's semantics while being join-key friendly.

Cover semantics are pinned to the reference:

* bbox cover pads the bounds by ``pad`` (default 1) then floors the
  lower / ceils the upper bound (``cdap_geo/_indexing.py:116-127``), so
  a geometry whose bbox sits exactly on a cell boundary lands in both
  cells;
* points exactly on a cell edge get 2 cells, on a corner 4 cells
  (``cdap_geo/_indexing.py:170-216``); elsewhere exactly 1 — the
  edge test uses ``int(coord) % cellsize == 0`` like the reference;
* ``how='intersects'`` keeps only cells whose box intersects the
  geometry (``cdap_geo/_indexing.py:232-270``); ``how='marked'`` also
  flags cells wholly inside a polygon so the join can skip exact
  refinement for them (``cdap_geo/_indexing.py:290-304``).
"""

from __future__ import annotations

import numpy as np

from cdap_geo_spark.core import geom as G
from cdap_geo_spark.core.wkb import (
    GeomBatch,
    KIND_MULTIPOINT,
    KIND_POINT,
    _expand_ranges,
)

LEVEL_SHIFT = 58
MORTON_MASK = (1 << LEVEL_SHIFT) - 1
MAX_LEVEL = 29

# World frame: covers the reference's default join extent
# [-500k, -500k, 1.5M, 1.5M] (cdap_geo/index_bbox.py:32) and the BNG
# extent with slack. Cell size at level L = WORLD_SIZE / 2**L.
WORLD_X0 = -1_048_576.0
WORLD_Y0 = -1_048_576.0
WORLD_SIZE = 4_194_304.0  # 2**22 m

#: level whose cell size (1024 m) matches the reference's default BNG
#: ingest resolution of 1 km (cdap_geo/read.py:127)
LEVEL_1KM = 12
#: level whose cell size (131 km) approximates the reference's default
#: 100 km sjoin grid (cdap_geo/index_bbox.py:32)
LEVEL_100KM = 5


def cell_size(level: int) -> float:
    return WORLD_SIZE / (1 << level)


# ---------------------------------------------------------------------------
# Morton encode/decode (vectorized, 29 bits per axis)
# ---------------------------------------------------------------------------

def _part1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    v &= np.uint64(0x1FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def encode(level: int, xi: np.ndarray, yi: np.ndarray) -> np.ndarray:
    """Grid coords -> int64 cell ids (vectorized)."""
    xi = np.asarray(xi)
    yi = np.asarray(yi)
    m = _part1by1(xi) | (_part1by1(yi) << np.uint64(1))
    return ((np.uint64(level) << np.uint64(LEVEL_SHIFT)) | m).astype(np.int64)


def decode(ids: np.ndarray):
    """int64 cell ids -> (level, xi, yi)."""
    u = np.asarray(ids).astype(np.uint64)
    level = (u >> np.uint64(LEVEL_SHIFT)).astype(np.int64)
    m = u & np.uint64(MORTON_MASK)
    xi = _unpart1by1(m).astype(np.int64)
    yi = _unpart1by1(m >> np.uint64(1)).astype(np.int64)
    return level, xi, yi


def encode_mixed(levels: np.ndarray, xi: np.ndarray, yi: np.ndarray) -> np.ndarray:
    """encode() when level varies per row."""
    m = _part1by1(xi) | (_part1by1(yi) << np.uint64(1))
    return ((levels.astype(np.uint64) << np.uint64(LEVEL_SHIFT)) | m).astype(np.int64)


def cell_box(ids: np.ndarray):
    """(minx, miny, maxx, maxy) arrays for cell ids."""
    level, xi, yi = decode(ids)
    cs = WORLD_SIZE / (1 << level).astype(np.float64)
    minx = WORLD_X0 + xi * cs
    miny = WORLD_Y0 + yi * cs
    return minx, miny, minx + cs, miny + cs


# ---------------------------------------------------------------------------
# Covers
# ---------------------------------------------------------------------------

def cover_bbox(bounds: np.ndarray, level: int, pad: float = 1.0):
    """CSR cover of padded bounding boxes.

    bounds: (n,4) [minx,miny,maxx,maxy]; NaN rows -> empty cover.
    Returns (offsets (n+1,), cell_ids (m,)).

    Matches the reference's pad-then-floor/ceil rule
    (``cdap_geo/_indexing.py:116-127``): cells are those whose origin
    lies in [floor((min-pad)/cs)*cs, ceil((max+pad)/cs)*cs).
    """
    n = len(bounds)
    cs = cell_size(level)
    nmax = 1 << level
    with np.errstate(invalid="ignore"):
        x1 = np.floor((bounds[:, 0] - pad - WORLD_X0) / cs)
        y1 = np.floor((bounds[:, 1] - pad - WORLD_Y0) / cs)
        x2 = np.ceil((bounds[:, 2] + pad - WORLD_X0) / cs)
        y2 = np.ceil((bounds[:, 3] + pad - WORLD_Y0) / cs)
    bad = np.isnan(bounds).any(axis=1)
    x1 = np.clip(np.nan_to_num(x1), 0, nmax - 1).astype(np.int64)
    y1 = np.clip(np.nan_to_num(y1), 0, nmax - 1).astype(np.int64)
    x2 = np.clip(np.nan_to_num(x2), 1, nmax).astype(np.int64)
    y2 = np.clip(np.nan_to_num(y2), 1, nmax).astype(np.int64)
    nx = np.where(bad, 0, np.maximum(x2 - x1, 1))
    ny = np.where(bad, 0, np.maximum(y2 - y1, 1))
    counts = nx * ny
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return offsets, np.zeros(0, np.int64)
    owner = np.repeat(np.arange(n), counts)
    # local index within each row's (nx*ny) block
    local = np.arange(total) - offsets[:-1][owner]
    lx = local // ny[owner]
    ly = local % ny[owner]
    xs = x1[owner] + lx
    ys = y1[owner] + ly
    return offsets, encode(level, xs, ys)


def point_grid(x: np.ndarray, y: np.ndarray, level: int):
    """Grid coords (xi, yi) of the cells holding finite points, clamped
    into ``[0, 2**level - 1]``: a point outside the world frame maps to
    the nearest edge cell. Clamping never moves a point's cell farther
    from any other cell, so Chebyshev ring distances stay lower bounds
    of true distance (the kNN certification relies on this)."""
    cs = cell_size(level)
    top = (1 << level) - 1
    xi = np.clip(np.floor((x - WORLD_X0) / cs), 0, top).astype(np.int64)
    yi = np.clip(np.floor((y - WORLD_Y0) / cs), 0, top).astype(np.int64)
    return xi, yi


def cover_points(x: np.ndarray, y: np.ndarray, level: int, pad: float = 1.0):
    """CSR cover for points with the reference's edge-straddle rule.

    A point with ``int(x) % cellsize == 0`` sits on a vertical edge and
    gets the cells at x-pad and x+pad (ditto horizontally; both -> 4
    cells at a corner) — ``cdap_geo/_indexing.py:170-216``. NaN -> empty.
    """
    cs = cell_size(level)
    csi = int(cs) if cs >= 1 and float(cs).is_integer() else None
    bad = np.isnan(x) | np.isnan(y)
    if csi is not None:
        on_vx = (np.trunc(np.nan_to_num(x)).astype(np.int64) % csi == 0)
        on_hy = (np.trunc(np.nan_to_num(y)).astype(np.int64) % csi == 0)
    else:
        on_vx = np.zeros(len(x), bool)
        on_hy = np.zeros(len(x), bool)
    bounds = np.empty((len(x), 4))
    bounds[:, 0] = np.where(on_vx, x - pad, x)
    bounds[:, 2] = np.where(on_vx, x + pad, x)
    bounds[:, 1] = np.where(on_hy, y - pad, y)
    bounds[:, 3] = np.where(on_hy, y + pad, y)
    bounds[bad] = np.nan
    return cover_bbox(bounds, level, pad=0.0)


def _edge_cell_box(cells: np.ndarray):
    """:func:`cell_box`, with the edge cells of the world frame reaching
    out to infinity on their outer side: the covers clamp whatever lies
    beyond the frame into them."""
    minx, miny, maxx, maxy = cell_box(cells)
    level, xi, yi = decode(cells)
    top = (1 << level) - 1
    minx[xi == 0] = -np.inf
    miny[yi == 0] = -np.inf
    maxx[xi == top] = np.inf
    maxy[yi == top] = np.inf
    return minx, miny, maxx, maxy


def _cover_point_parts(batch: GeomBatch, rows: np.ndarray, level: int,
                       pad: float, exact: bool):
    """(owner row, cell) of the point cover of every part of the point
    geometries ``rows``, each cell once per row, in part order. With
    ``exact`` a part keeps only the cells whose closed box holds it:
    the straddle rule also gives a part within ``pad`` of an edge the
    cell across it, which the part does not touch."""
    part = batch.part_ring_off[batch.geom_part_off]
    lo = batch.ring_coord_off[part[rows]]
    cnt = batch.ring_coord_off[part[rows + 1]] - lo
    idx = np.arange(int(cnt.sum())) + np.repeat(lo - (np.cumsum(cnt) - cnt),
                                                cnt)
    off, cells = cover_points(batch.coords[idx, 0], batch.coords[idx, 1],
                              level, pad)
    owner = np.repeat(np.repeat(rows, cnt), np.diff(off))
    if exact:
        xy = batch.coords[np.repeat(idx, np.diff(off))]
        minx, miny, maxx, maxy = _edge_cell_box(cells)
        hold = ((minx <= xy[:, 0]) & (xy[:, 0] <= maxx)
                & (miny <= xy[:, 1]) & (xy[:, 1] <= maxy))
        owner, cells = owner[hold], cells[hold]
    # two parts in one cell: keep the first
    order = np.lexsort((cells, owner))
    dup = np.zeros(len(cells), bool)
    dup[order[1:]] = ((owner[order[1:]] == owner[order[:-1]])
                      & (cells[order[1:]] == cells[order[:-1]]))
    return owner[~dup], cells[~dup]


def cover_batch(batch: GeomBatch, level: int, how: str = "bbox",
                pad: float = 1.0, dilate: float = 0.0):
    """CSR cover of a parsed geometry batch.

    how: 'bbox' | 'intersects' | 'marked'. Returns
    (offsets, cell_ids, inside_flags) — inside_flags all-False unless
    how='marked'.

    ``dilate`` > 0 expands every bbox by that distance before covering
    (ALL kinds, points included — the straddle rule is irrelevant once
    dilated). This is the candidate generator for distance-d joins:
    anything within d of the geometry lies in the dilated cover.

    A row with a NaN or infinite bound (a vertex) gets no cells, so it
    takes no part in any join, as in kNN.
    """
    n = len(batch)
    bounds = batch.bounds()
    bad = ~np.isfinite(bounds).all(axis=1)
    bounds[bad] = np.nan
    if dilate > 0.0:
        bounds[:, 0] -= dilate
        bounds[:, 1] -= dilate
        bounds[:, 2] += dilate
        bounds[:, 3] += dilate
        off, cc = cover_bbox(bounds, level, pad=pad)
        return off, cc, np.zeros(len(cc), bool)
    is_pt = ((batch.kinds == KIND_POINT) | (batch.kinds == KIND_MULTIPOINT)) \
        & batch.valid & ~bad
    offsets_box, cells_box = cover_bbox(
        np.where(is_pt[:, None], np.nan, bounds), level, pad)
    # points use the edge-straddle rule, a MultiPoint on every part
    owner_pt, cells_pt = _cover_point_parts(batch, np.flatnonzero(is_pt),
                                            level, pad, how != "bbox")
    # merge the box CSR and the point cells row-wise
    counts_box = offsets_box[1:] - offsets_box[:-1]
    counts = counts_box + np.bincount(owner_pt, minlength=n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(counts, out=offsets[1:])
    # each row's cells come from exactly one of the two sources, so a
    # stable sort of concatenated owners re-interleaves them correctly
    owners = np.concatenate([np.repeat(np.arange(n), counts_box), owner_pt])
    merged = np.concatenate([cells_box, cells_pt])
    order = np.argsort(owners, kind="stable")
    cells = merged[order]
    inside = np.zeros(len(cells), bool)
    if how == "bbox":
        return offsets, cells, inside
    if how not in ("intersects", "marked"):
        raise ValueError(f"how must be bbox|intersects|marked, got {how!r}")
    keep, inside = _refine_cover(batch, offsets, cells, how, is_pt, bounds)
    kept_cum = np.concatenate(([0], np.cumsum(keep.astype(np.int64))))
    new_off = kept_cum[offsets]
    return new_off, cells[keep], inside[keep]


def _refine_cover(batch: GeomBatch, offsets: np.ndarray, cells: np.ndarray,
                  how: str, is_pt: np.ndarray, bounds: np.ndarray):
    """Vectorized exact-cover refinement.

    Semantics of the reference's prepared-geometry pruning
    (``cdap_geo/_indexing.py:232-270``): keep a candidate cell iff its
    box intersects the geometry; with how='marked' also flag cells
    properly contained in the polygon (``:290-304``).
    """
    m = len(cells)
    keep = np.ones(m, bool)
    inside = np.zeros(m, bool)
    counts = offsets[1:] - offsets[:-1]
    owner = np.repeat(np.arange(len(batch)), counts)
    multi = counts > 1
    # point covers are exact already (_cover_point_parts)
    todo = multi & ~is_pt & batch.valid

    cminx, cminy, cmaxx, cmaxy = _edge_cell_box(cells)

    # ---- axis-aligned rectangles: pure arithmetic ----------------------
    is_rect = G.is_axis_rect(batch, bounds) & todo
    rp = is_rect[owner]
    if rp.any():
        g = owner[rp]
        keep[rp] = ((cminx[rp] <= bounds[g, 2]) & (cmaxx[rp] >= bounds[g, 0]) &
                    (cminy[rp] <= bounds[g, 3]) & (cmaxy[rp] >= bounds[g, 1]))
        if how == "marked":
            inside[rp] = ((cminx[rp] > bounds[g, 0]) & (cmaxx[rp] < bounds[g, 2]) &
                          (cminy[rp] > bounds[g, 1]) & (cmaxy[rp] < bounds[g, 3]))
        todo = todo & ~is_rect

    pair_idx = np.flatnonzero(todo[owner])
    if len(pair_idx) == 0:
        return keep, inside

    # ---- general geometries: flat SAT edge test + flat corner PIP -----
    pg = owner[pair_idx]
    bx0, by0 = cminx[pair_idx], cminy[pair_idx]
    bx1, by1 = cmaxx[pair_idx], cmaxy[pair_idx]
    table = G.edge_table(batch)
    e_x0, e_y0, e_x1, e_y1, _, edge_off = table

    # expand (cell, edge) rows
    starts = edge_off[pg]
    stops = edge_off[pg + 1]
    eidx = _expand_ranges(starts, stops)
    pown = np.repeat(np.arange(len(pair_idx)), stops - starts)
    x0, y0, x1, y1 = e_x0[eidx], e_y0[eidx], e_x1[eidx], e_y1[eidx]
    bx0e, by0e, bx1e, by1e = bx0[pown], by0[pown], bx1[pown], by1[pown]
    # SAT: bbox overlap AND NOT all-4-corners strictly one side
    bbox_ok = (np.minimum(x0, x1) <= bx1e) & (np.maximum(x0, x1) >= bx0e) & \
              (np.minimum(y0, y1) <= by1e) & (np.maximum(y0, y1) >= by0e)
    dx, dy = x1 - x0, y1 - y0
    s1 = dx * (by0e - y0) - dy * (bx0e - x0)
    s2 = dx * (by0e - y0) - dy * (bx1e - x0)
    s3 = dx * (by1e - y0) - dy * (bx0e - x0)
    s4 = dx * (by1e - y0) - dy * (bx1e - x0)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    crossed = np.zeros(len(pair_idx), bool)
    crossed[pown[bbox_ok & ~(all_pos | all_neg)]] = True

    # corner-in-polygon (covers cells wholly inside; also the 'marked'
    # containment flag): the four corners of every cell in one call
    corners = G.points_in_geoms(np.concatenate([bx0, bx1, bx0, bx1]),
                                np.concatenate([by0, by0, by1, by1]),
                                table, np.tile(pg, 4)).reshape(4, -1)
    keep[pair_idx] = crossed | corners.any(axis=0)
    if how == "marked":
        inside[pair_idx] = corners.all(axis=0) & ~crossed
    return keep, inside


def _boxes_cross_edges(minx, miny, maxx, maxy, edges) -> np.ndarray:
    """(C,) True if any geometry edge intersects/crosses each cell box."""
    # quick bbox prefilter per (cell, edge)
    ex0 = np.minimum(edges[:, 0], edges[:, 2])
    ex1 = np.maximum(edges[:, 0], edges[:, 2])
    ey0 = np.minimum(edges[:, 1], edges[:, 3])
    ey1 = np.maximum(edges[:, 1], edges[:, 3])
    cand = ~((ex0[None, :] > maxx[:, None]) | (ex1[None, :] < minx[:, None]) |
             (ey0[None, :] > maxy[:, None]) | (ey1[None, :] < miny[:, None]))
    out = np.zeros(len(minx), bool)
    for ci in np.flatnonzero(cand.any(axis=1)):
        es = edges[cand[ci]]
        box_edges = np.array([
            [minx[ci], miny[ci], maxx[ci], miny[ci]],
            [maxx[ci], miny[ci], maxx[ci], maxy[ci]],
            [maxx[ci], maxy[ci], minx[ci], maxy[ci]],
            [minx[ci], maxy[ci], minx[ci], miny[ci]],
        ])
        if G.segments_intersect(es, box_edges).any():
            out[ci] = True
            continue
        # edge endpoint strictly inside the box (edge fully within cell)
        px, py = es[:, 0], es[:, 1]
        if np.any((px >= minx[ci]) & (px <= maxx[ci]) &
                  (py >= miny[ci]) & (py <= maxy[ci])):
            out[ci] = True
    return out
