"""Reference-API compatibility surface.

Mirrors the public API of ``aw-west-defra/cdap_geo``
(``cdap_geo/__init__.py:1-52``, README.md:16-47) on top of this
engine, so reference users can switch imports and run their existing
queries::

    import cdap_geo_spark.compat as cdap_geo
    pairs = cdap_geo.join(df_input, other)           # bbox sjoin
    df = df.withColumn('area', cdap_geo.area('geometry'))
    df = df.withColumn('bng', cdap_geo.bng('geometry', 1000))

Deviations (each documented at the member):

* types: geometry math returns DoubleType where the reference used
  FloatType (cast down at the edge if needed);
* ``crs`` supports EPSG:4326/3857/27700 closed-form (pyproj is
  unavailable; 27700 = published OS TM + Helmert math, ~3.5 m datum
  accuracy — ``core/proj.py``);
* ``intersection`` geometry output handles non-convex (Multi)Polygons
  but may subdivide pieces along triangulation seams and returns None
  when either side has holes; ``intersection_area`` is fully general
  (non-convex + holes + multiparts);
* GeoPackage/remote readers are out of scope (no JDBC sqlite/network);
* ``to_sdf``/``to_gdf`` convert pandas frames with WKB bytes columns
  (geopandas is unavailable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from cdap_geo_spark import udfs
from cdap_geo_spark.core import cells as C, geom as G, wkb as W

# ---------------------------------------------------------------------------
# BNG reference encoding (semantics of cdap_geo/_indexing.py:20-105,
# vectorized; 'I' excluded from the alphabet)
# ---------------------------------------------------------------------------

_LETTERS = "ABCDEFGHJKLMNOPQRSTUVWXYZ"
_NUMBERS_LENGTH = {1: 5, 10: 4, 100: 3, 1_000: 2, 10_000: 1, 100_000: 0}
BNG_RESOLUTIONS = (1, 10, 100, 1_000, 10_000, 100_000)


def bng_refs(eastings: np.ndarray, northings: np.ndarray,
             resolution: int) -> list:
    """Vectorized (easting, northing) -> BNG grid reference strings.

    Matches ``_coords_to_bng`` (``cdap_geo/_indexing.py:73-105``): the
    letter pair is a base-25 encoding of the 500 km/100 km quotients,
    digits are the remainders truncated to the resolution's length.
    """
    if resolution not in _NUMBERS_LENGTH:
        raise ValueError(f"resolution {resolution} not in {BNG_RESOLUTIONS}")
    e = eastings.astype(np.int64)
    n = northings.astype(np.int64)
    eq, er = e // 100_000, e % 100_000
    nq, nr = n // 100_000, n % 100_000
    first = (19 - nq) - (19 - nq) % 5 + (eq + 10) // 5
    second = (19 - nq) * 5 % 25 + eq % 5
    ln = _NUMBERS_LENGTH[resolution]
    out = []
    for f1, f2, a, b in zip(first, second, er, nr):
        digits = f"{int(a):05d}"[:ln] + f"{int(b):05d}"[:ln]
        out.append(_LETTERS[int(f1)] + _LETTERS[int(f2)] + digits)
    return out


def _part_bbox_cover(px: np.ndarray, py: np.ndarray, res: float, pad: float):
    """Padded floor/ceil cell-origin cover of one part's bbox
    (``cdap_geo/_indexing.py:108-127``)."""
    x1 = np.floor((px.min() - pad) / res) * res
    y1 = np.floor((py.min() - pad) / res) * res
    x2 = np.ceil((px.max() + pad) / res) * res
    y2 = np.ceil((py.max() + pad) / res) * res
    xs = np.arange(x1, x2, res)
    ys = np.arange(y1, y2, res)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return gx.ravel(), gy.ravel()


def _point_straddle_cells(pts: np.ndarray, resolution: int,
                          pad: float) -> set:
    """Point cover with the reference's edge/vertex straddle
    (``cdap_geo/_indexing.py:170-216``): 1/2/4 cells."""
    res = float(resolution)
    cells = set()
    for x, y in pts:
        on_vx = int(x) % resolution == 0
        on_hy = int(y) % resolution == 0
        dxs = (-pad, pad) if on_vx else (0.0,)
        dys = (-pad, pad) if on_hy else (0.0,)
        for dx in dxs:
            for dy in dys:
                cells.add((np.floor((x + dx) / res) * res,
                           np.floor((y + dy) / res) * res))
    return cells


def bng(column, resolution: int = 1000, how: str = "intersects",
        pad: float = 1.0):
    """BNG refs covering the geometry — semantics of
    ``calculate_bng_index`` (``cdap_geo/_indexing.py:349-446``):

    * candidate cells come from the union of PER-PART padded bbox
      covers (floor/ceil snapping, ``:116-127``; multi-geometries union
      per-member covers, ``:156-170``), point edge/vertex straddle
      gives 2/4 cells (``:192-216``);
    * ``how='bounding box'`` -> array<string> of the bbox-cover refs
      (lines/polygons only, like the reference's METHODOLOGY table);
    * ``how='intersects'`` -> array<string>, only cells whose box
      intersects the geometry (``:232-270``);
    * ``how='contains'`` -> array<struct<bng,inside>> for (Multi)
      Polygons: the intersects cover with ``inside`` flagging cells
      properly contained in a part (``:290-346``; a cell may appear
      once per distinct flag across parts, like the reference's
      tuple-set union).
    """
    if resolution not in _NUMBERS_LENGTH:
        raise ValueError(f"resolution {resolution} not in {BNG_RESOLUTIONS}")
    if how not in ("bounding box", "intersects", "contains"):
        raise ValueError(
            "'how' must be one of 'bounding box', 'intersects' or "
            "'contains'")

    res = float(resolution)
    marked = how == "contains"
    ret_type = (T.ArrayType(T.StructType([
        T.StructField("bng", T.StringType()),
        T.StructField("inside", T.BooleanType())]))
        if marked else T.ArrayType(T.StringType()))

    def _one_part_candidates(batch, p):
        s = batch.ring_coord_off[batch.part_ring_off[p]]
        e = batch.ring_coord_off[batch.part_ring_off[p + 1]]
        pts = batch.coords[s:e]
        return _part_bbox_cover(pts[:, 0], pts[:, 1], res, pad)

    def _part_rings(batch, p):
        return [batch.coords[batch.ring_coord_off[ri]:
                             batch.ring_coord_off[ri + 1]]
                for ri in range(batch.part_ring_off[p],
                                batch.part_ring_off[p + 1])]

    @pandas_udf(ret_type)
    def _bng(s: pd.Series) -> pd.Series:
        out = []
        batch = W.parse_wkb(s)
        b = batch.bounds()
        for g in range(len(batch)):
            if not batch.valid[g] or np.isnan(b[g, 0]):
                out.append([])
                continue
            kind = batch.kinds[g]
            if kind in (W.KIND_POINT, W.KIND_MULTIPOINT):
                if how != "intersects":
                    raise ValueError(
                        f"how = '{how}' not defined for point geometry "
                        "type.")  # reference METHODOLOGY parity
                cells = _point_straddle_cells(G._geom_points(batch, g),
                                              resolution, pad)
                ex = np.array([c[0] for c in cells])
                ny = np.array([c[1] for c in cells])
                out.append(sorted(bng_refs(ex, ny, resolution)))
                continue
            if marked and kind not in (W.KIND_POLYGON, W.KIND_MULTIPOLYGON):
                raise ValueError(
                    f"how = 'contains' not defined for geometry kind "
                    f"{kind}.")
            p0, p1 = batch.geom_part_off[g], batch.geom_part_off[g + 1]
            if marked:
                tuples = set()
                for p in range(p0, p1):
                    if batch.part_kind[p] != W.KIND_POLYGON:
                        continue
                    gx, gy = _one_part_candidates(batch, p)
                    rings = [r for r in _part_rings(batch, p) if len(r) >= 4]
                    if not rings or len(gx) == 0:
                        continue
                    keep, inside = _cells_vs_rings(gx, gy, res, rings)
                    for ref, ins in zip(bng_refs(gx[keep], gy[keep],
                                                 resolution), inside[keep]):
                        tuples.add((ref, bool(ins)))
                out.append(sorted(tuples))
                continue
            seen = set()
            axs, ays = [], []
            for p in range(p0, p1):
                gx, gy = _one_part_candidates(batch, p)
                for x, y in zip(gx, gy):
                    if (x, y) not in seen:
                        seen.add((x, y))
                        axs.append(x)
                        ays.append(y)
            gx = np.asarray(axs, np.float64)
            gy = np.asarray(ays, np.float64)
            if how == "intersects" and len(gx) > 1:
                boxes = W.parse_wkb(W.boxes_to_wkb(gx, gy, gx + res,
                                                   gy + res))
                keep = G.pairs_intersect(
                    boxes, batch, np.arange(len(gx)),
                    np.full(len(gx), g, np.int64))
                gx, gy = gx[keep], gy[keep]
            out.append(sorted(bng_refs(gx, gy, resolution)))
        return pd.Series(out)
    return _bng(column) if isinstance(column, (str, Column)) else _bng


def _cells_vs_rings(gx, gy, res, rings):
    """(keep, inside) for cell origins vs one polygon part's rings:
    keep = cell box intersects the part; inside = properly contained
    (all 4 corners strictly in, no part edge touching the box)."""
    n = len(gx)
    cx0, cy0, cx1, cy1 = gx, gy, gx + res, gy + res
    px = np.concatenate([cx0, cx1, cx0, cx1])
    py = np.concatenate([cy0, cy0, cy1, cy1])
    corners = G.points_in_rings(px, py, rings).reshape(4, n)
    edges = np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])
    crossed = C._boxes_cross_edges(cx0, cy0, cx1, cy1, edges)
    keep = corners.any(axis=0) | crossed
    inside = corners.all(axis=0) & ~crossed
    if not keep.all():
        # cell fully containing the part: part vertex inside the box
        vx, vy = edges[:, 0], edges[:, 1]
        contains_part = np.array([
            bool(np.any((vx >= cx0[i]) & (vx <= cx1[i])
                        & (vy >= cy0[i]) & (vy <= cy1[i])))
            for i in np.flatnonzero(~keep)])
        keep[np.flatnonzero(~keep)] |= contains_part
    return keep, inside


def wkt_from_bng(bng_reference: str) -> str:
    """BNG grid reference -> WKT polygon of its cell box — the inverse
    of :func:`bng_refs` (``cdap_geo/_indexing.py:449-483``)."""
    ln = len(bng_reference) - 2
    if ln < 0 or ln % 2 or ln // 2 not in {v: k for k, v in
                                           _NUMBERS_LENGTH.items()}:
        raise ValueError("Incorrect length bng_reference provided.")
    resolution = {v: k for k, v in _NUMBERS_LENGTH.items()}[ln // 2]
    i1 = _LETTERS.index(bng_reference[0])
    i2 = _LETTERS.index(bng_reference[1])
    nq = 19 - ((i1 // 5) * 5 + i2 // 5)
    eq = (i1 % 5) * 5 - 10 + (i2 % 5)
    x = eq * 100_000
    y = nq * 100_000
    d = ln // 2
    if d:
        x += int(bng_reference[2:2 + d]) * resolution
        y += int(bng_reference[2 + d:2 + 2 * d]) * resolution
    r = resolution
    return (f"POLYGON(({x} {y}, {x + r} {y}, {x + r} {y + r}, "
            f"{x} {y + r}, {x} {y}))")


# ---------------------------------------------------------------------------
# geohash (reference cdap_geo/index_geohash.py)
# ---------------------------------------------------------------------------

_GH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lat: float, lon: float, precision: int = 12) -> str:
    """Standard public geohash algorithm (base32 bit-interleave) —
    the reference imports geohash2 for this (``index_geohash.py:16``);
    unavailable here, so the (public, stable) algorithm is inlined."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for i in range(0, len(bits), 5):
        v = 0
        for bit in bits[i:i + 5]:
            v = v * 2 + bit
        out.append(_GH_BASE32[v])
    return "".join(out)


def encode_box(xmin, ymin, xmax, ymax, *, invert: bool = True,
               precision: int = 12) -> str:
    """Common-prefix geohash of a bbox (``index_geohash.py:15-22``):
    the longest geohash shared by the SW and NE corners. ``invert=True``
    treats inputs as shapely bounds (x=lon first) like the reference."""
    if invert:
        xmin, ymin, xmax, ymax = ymin, xmin, ymax, xmax
    a = geohash_encode(xmin, ymin, precision)
    b = geohash_encode(xmax, ymax, precision)
    n = 0
    for c0, c1 in zip(a, b):
        if c0 != c1:
            break
        n += 1
    return a[:n]


def geohash(column, precision: int = 12) -> Column:
    """Column form of ``gdf_geohash`` (``index_geohash.py:25-29``):
    bbox -> common-prefix geohash string. Geometry must already be in
    EPSG:4326 (chain :func:`crs` first — the reference's ``to_crs``)."""
    @pandas_udf(T.StringType())
    def _gh(s: pd.Series) -> pd.Series:
        batch = W.parse_wkb(s)
        b = batch.bounds()
        out = []
        for g in range(len(batch)):
            if not batch.valid[g] or np.isnan(b[g, 0]):
                out.append(None)
                continue
            out.append(encode_box(b[g, 0], b[g, 1], b[g, 2], b[g, 3],
                                  precision=precision))
        return pd.Series(out)
    return _gh(_c(column))


def bbox(column, resolutions=(100_000, 100_000),
         limits=(-500_000, -500_000, 1_500_000, 1_500_000)):
    """array<string> fixed-grid '{x}-{y}' cell ids — the reference's
    ``bbox_index`` reproduced bit-for-bit (``cdap_geo/index_bbox.py:15-30``
    via the compat grid cover)."""
    from cdap_geo_spark.operators.tiles import grid_cover_udf
    b = udfs.st_bounds()(F.col(column) if isinstance(column, str) else column)
    cov = grid_cover_udf(resolutions, limits)
    return cov(b["minx"], b["miny"], b["maxx"], b["maxy"])


# ---------------------------------------------------------------------------
# scalar functions (reference cdap_geo/functions.py)
# ---------------------------------------------------------------------------

def area(column) -> Column:
    """``cdap_geo.area`` (``functions.py:12-14``); DoubleType here."""
    return udfs.st_area()(_c(column))


def bounds(column) -> Column:
    """array<double>[4] (minx,miny,maxx,maxy) — positional like the
    reference (``functions.py:26-28``)."""
    b = udfs.st_bounds()(_c(column))
    return F.array(b["minx"], b["miny"], b["maxx"], b["maxy"])


def buffer(column, resolution: float, **kwargs) -> Column:
    """``functions.py:20-24``; true Minkowski dilation (boundary sweep
    + slab union, operators.geoops.st_buffer) — the disc is an n-gon,
    shapely's own quad-segment approximation."""
    from cdap_geo_spark.operators.geoops import st_buffer
    return st_buffer(resolution)(_c(column))


def crs(column, crs_from, crs_to=27700) -> Column:
    """``functions.py:30-35``: reproject geometry. Default target is
    EPSG:27700 exactly like the reference; 4326/3857/27700 pairs are
    closed-form (``core/proj.py``; no pyproj in this environment)."""
    from cdap_geo_spark.operators.geoops import st_transform
    return st_transform(_epsg(crs_from), _epsg(crs_to))(_c(column))


def intersects(left, right) -> Column:
    return udfs.st_intersects()(_c(left), _c(right))


def intersection_area(left, right) -> Column:
    return udfs.st_intersection_area()(_c(left), _c(right))


def intersection(left, right) -> Column:
    """Clipped geometry (``functions.py:80-86``). Both sides may be
    non-convex (Multi)Polygons WITHOUT holes: each side decomposes into
    convex cells (ear triangulation for concave rings), pairwise convex
    clips are emitted as a MultiPolygon. The region is exact; the piece
    boundaries may be subdivided along triangulation seams (documented
    deviation — the reference's shapely output is seam-free). Holes on
    either side -> None (use :func:`intersection_area` for exact AREA
    with holes)."""
    @pandas_udf(T.BinaryType())
    def _inter(l: pd.Series, r: pd.Series) -> pd.Series:
        lb, rb = W.parse_wkb(l), W.parse_wkb(r)
        out = []
        for i in range(len(lb)):
            out.append(_clip_geom_of(lb, rb, i))
        return pd.Series(out)
    return _inter(_c(left), _c(right))


def _clip_geom_of(lb, rb, i):
    """WKB of the clipped region of pair i, or None (empty / holes)."""
    if not (lb.valid[i] and rb.valid[i]):
        return None
    lcells = G._signed_convex_cover(lb, i)
    rcells = G._signed_convex_cover(rb, i)
    if not lcells or not rcells:
        return None
    if any(s < 0 for _, s, _ in lcells) or any(s < 0 for _, s, _ in rcells):
        return None  # holes: area path only (documented)
    pieces = []
    for ca, _, ba in lcells:
        for cb, _, bb2 in rcells:
            if (ba[0] > bb2[2] or ba[2] < bb2[0]
                    or ba[1] > bb2[3] or ba[3] < bb2[1]):
                continue
            clipped = G._clip_ring(np.vstack([ca, ca[:1]]),
                                   np.vstack([cb, cb[:1]]))
            if clipped is not None and len(clipped) >= 3:
                pieces.append(np.vstack([clipped, clipped[:1]]))
    if not pieces:
        return None
    if len(pieces) == 1:
        return W.polygon_to_wkb([pieces[0]])
    return W.multi_to_wkb(W.KIND_MULTIPOLYGON,
                          [W.polygon_to_wkb([p]) for p in pieces])


def st_valid(column) -> Column:
    """``sedona.py:34-36``: NULL stays NULL (the reference substitutes
    ``POINT EMPTY`` — no empty-point WKB notion here, a documented
    deviation), anything else passes through constructive MakeValid
    (even-odd structural repair via the slab kernel)."""
    from cdap_geo_spark.operators.geoops import make_valid_udf
    return make_valid_udf()(_c(column))


def unary_union(column) -> Column:
    from cdap_geo_spark.operators.geoops import unary_union_udf
    return unary_union_udf()(_c(column))


def pointify(column, resolution: float, as_struct: bool = True) -> Column:
    from cdap_geo_spark.operators.geoops import st_pointify
    return st_pointify(resolution, as_struct)(_c(column))


# ---------------------------------------------------------------------------
# joins (reference index_bbox.py / index_bng.py / sedona.py)
# ---------------------------------------------------------------------------

def join(left: DataFrame, right: DataFrame, lsuffix: str = "",
         rsuffix: str = "_right", **kwargs) -> DataFrame:
    """``cdap_geo.join`` = bbox_join (``index_bbox.py:32-71``):
    candidate pairs whose BOUNDING BOXES overlap, with full rows from
    both sides and colliding columns suffix-renamed. NOT exact —
    chain ``.filter(intersects(...))`` or use :func:`bbox_intersects`
    (the reference's contract)."""
    return _full_join(left, right, "bbox", lsuffix, rsuffix, **kwargs)


def bbox_intersects(left: DataFrame, right: DataFrame,
                    **kwargs) -> DataFrame:
    """``index_bbox.py:73-76``: bbox join + exact intersects filter."""
    return _full_join(left, right, "intersects", "", "_right", **kwargs)


def bng_join(left: DataFrame, right: DataFrame,
             resolution: int = 1000) -> DataFrame:
    """``index_bng.py:16-36`` row-parity: DISTINCT pairs sharing an
    intersecting BNG cell at ``resolution`` — cell co-occurrence only,
    NO bbox filter (two geometries co-located in one cell whose bboxes
    do not overlap still pair, unlike ``join``), full rows from both
    sides with the right geometry renamed ``geometry_right``. Uses the
    true BNG string cells (:func:`bng`, ``how='intersects'``), so the
    pair set matches the reference cell-for-cell."""
    l = left.withColumn("_cg_lid", F.monotonically_increasing_id())
    r = right.withColumnRenamed("geometry", "geometry_right") \
             .withColumn("_cg_rid", F.monotonically_increasing_id())
    # the reference caches to stabilize the ids (index_bbox.py:36-43)
    l, r = _persist_tracked(l), _persist_tracked(r)
    li = l.select("_cg_lid",
                  F.explode(bng("geometry", resolution)).alias("_cell"))
    ri = r.select("_cg_rid",
                  F.explode(bng("geometry_right", resolution)).alias("_cell"))
    pairs = li.join(ri, "_cell").drop("_cell") \
              .dropDuplicates(["_cg_lid", "_cg_rid"])
    return (pairs.join(l, "_cg_lid").join(r, "_cg_rid")
            .drop("_cg_lid", "_cg_rid"))


def st_join(df_left: DataFrame, df_right: DataFrame,
            distance: float | None = None, lsuffix: str = "_left",
            rsuffix: str = "_right", **kwargs) -> DataFrame:
    """``sedona.py:119-151``: exact intersects join, or distance<=d
    join — via the cell planner, never a nested loop."""
    pred = "distance" if distance else "intersects"
    return _full_join(df_left, df_right, pred, "", rsuffix,
                      distance=distance, **kwargs)


def st_intersects(df0: DataFrame, df1: DataFrame, **kwargs) -> DataFrame:
    """``sedona.py:105-108``: left rows with >=1 intersecting partner
    (kept once per match in the reference — duplicates preserved)."""
    return _full_join(df0, df1, "intersects", "", "_right", **kwargs) \
        .select(*[c for c in df0.columns])


def st_explode(df: DataFrame, col: str = "geometry",
               maxVerticies: int = 256) -> DataFrame:
    """``sedona.py:80-85`` parity (``ST_SubDivideExplode``): one row
    per subdivision piece of <= ``maxVerticies`` vertices, all other
    columns replicated. Sedona's generator expression becomes a
    DataFrame transform here (keyed by a tracked synthetic id, like
    the reference's own cached-id pattern); the subdivision itself is
    :func:`~cdap_geo_spark.operators.geoops.st_subdivide_explode`
    (recursive bbox-bisection clip, true vertex bound — NOT the
    cell-bounded approximation round 2 shipped)."""
    from cdap_geo_spark.operators.geoops import st_subdivide_explode
    tmp = df.withColumn("_cg_xid", F.monotonically_increasing_id())
    tmp = _persist_tracked(tmp)
    pieces = st_subdivide_explode(
        tmp.select("_cg_xid", F.col(col).alias("geometry")),
        max_vertices=maxVerticies, id_col="_cg_xid")
    pieces = pieces.withColumnRenamed("geometry", col) \
        if col != "geometry" else pieces
    return (tmp.drop(col).join(pieces, "_cg_xid")
            .drop("_cg_xid", "piece_idx"))


def st_intersection(df0: DataFrame, df1: DataFrame,
                    rsuffix: str = "_right", **kwargs) -> DataFrame:
    """``sedona.py:111-116``: intersecting pairs with a NEW geometry
    column = the clipped overlap (general non-convex clip via the
    signed-decomposition/slab kernels). The reference runs a Sedona
    cross join + ``ST_Intersection``; here candidates come from the
    cell planner and only true pairs reach the clip kernel."""
    joined = _full_join(df0, df1, "intersects", "", rsuffix, **kwargs)
    right_geom = ("geometry" + rsuffix
                  if "geometry" + rsuffix in joined.columns
                  else "geometry")
    return joined.withColumn(
        "geometry_intersection",
        intersection(F.col("geometry"), F.col(right_geom)))


#: persisted compat-join inputs, newest last. The persist pins
#: ``monotonically_increasing_id`` values across the exploded
#: cell-index branch and the final payload join — evicting an input
#: BEFORE its join materializes could recompute ids inconsistently
#: between branches (silently wrong rows), so registration never
#: evicts; callers release memory with :func:`unpersist_all` (or rely
#: on Spark's own LRU block eviction, which only drops MEMORY-tier
#: copies, never the id agreement — lineage recompute happens at most
#: once per branch within one job).
_PERSISTED: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def unpersist_all() -> None:
    """Release every relation the compat layer has cached.

    The registry grows for the life of the session by design (see
    ``_PERSISTED``), so long-lived sessions doing many compat joins
    MUST call this between batches of work — or wrap each batch in
    :func:`join_scope`, which releases automatically."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def join_scope():
    """Context manager bounding the compat layer's persist registry.

    Inputs persisted by compat joins inside the ``with`` block are
    unpersisted on exit (only the ones added inside the block —
    relations persisted before it are untouched). Materialize or
    write the join OUTPUT inside the block: after exit its inputs may
    be recomputed with fresh ``monotonically_increasing_id`` values.

        with compat.join_scope():
            out = compat.join(a, b)
            out.write.parquet(...)
    """
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        mark = len(_PERSISTED)
        try:
            yield
        finally:
            while len(_PERSISTED) > mark:
                _PERSISTED.pop().unpersist()
    return _scope()


def _full_join(left, right, predicate, lsuffix, rsuffix, level=None,
               distance=None, **kwargs):
    from cdap_geo_spark.operators.sjoin import sjoin
    l = left
    if "_cg_lid" not in l.columns:
        l = l.withColumn("_cg_lid", F.monotonically_increasing_id())
        # the reference caches to stabilize these ids
        # (index_bbox.py:36-43); we do the same, tracked + bounded
        l = _persist_tracked(l)
    r = right
    if "_cg_rid" not in r.columns:
        r = r.withColumn("_cg_rid", F.monotonically_increasing_id())
        r = _persist_tracked(r)
    out = sjoin(l, r, left_id="_cg_lid", right_id="_cg_rid",
                lsuffix=lsuffix, rsuffix=rsuffix,
                predicate=predicate,
                level=level if level is not None else 7,
                distance=distance, **kwargs)
    return out.drop("_cg_lid", "_cg_rid")


def _c(col):
    return F.col(col) if isinstance(col, str) else col


def _epsg(v) -> str:
    return v if isinstance(v, str) and v.startswith("EPSG") else f"EPSG:{v}"


# ---------------------------------------------------------------------------
# convert / io (reference convert.py, read.py, write.py)
# ---------------------------------------------------------------------------

def to_sdf(data, spark=None) -> DataFrame:
    """pandas frame (geometry = WKB bytes) or list of WKB -> Spark DF
    (``convert.py:52-63``; geopandas edges unavailable)."""
    from pyspark.sql import SparkSession
    spark = spark or SparkSession.active()
    if isinstance(data, pd.DataFrame):
        return spark.createDataFrame(data)
    if isinstance(data, (list, tuple)):
        return spark.createDataFrame(
            pd.DataFrame({"geometry": list(data)}))
    raise TypeError(type(data))


def to_gdf(df: DataFrame) -> pd.DataFrame:
    """Spark DF -> pandas with raw WKB bytes (``convert.py:66-70``)."""
    return df.toPandas()


def gdf_intersects(pdf: pd.DataFrame, other: bytes,
                   geometry_column: str = "geometry") -> pd.DataFrame:
    """Driver-local filter parity (``functions.py:43-44``): rows whose
    WKB geometry intersects the scalar ``other`` WKB — the reference's
    ``gdf[gdf.intersects(other)]`` over a pandas frame of WKB bytes
    (e.g. :func:`to_gdf` output) with the engine's exact kernel."""
    import numpy as np
    from cdap_geo_spark.core import geom as G, wkb as W
    lb = W.parse_wkb(pdf[geometry_column])
    rb = W.parse_wkb([other] * len(pdf))
    ids = np.arange(len(pdf))
    mask = G.pairs_intersect(lb, rb, ids, ids)
    return pdf[np.asarray(mask, bool)]


def gdf_intersection(pdf: pd.DataFrame, other: bytes,
                     geometry_column: str = "geometry") -> pd.DataFrame:
    """Driver-local clip parity (``functions.py:46-47``): intersecting
    rows with their geometry replaced by the clipped region (same
    constructive kernel as :func:`intersection`; rows whose clip is
    empty/None are kept with None geometry, mirroring the reference's
    ``clip`` keeping the frame's rows)."""
    from cdap_geo_spark.core import wkb as W
    sub = gdf_intersects(pdf, other, geometry_column)
    lb = W.parse_wkb(sub[geometry_column])
    rb = W.parse_wkb([other] * len(sub))
    out = sub.copy()
    out[geometry_column] = [_clip_geom_of(lb, rb, i)
                            for i in range(len(sub))]
    return out


def geoparquetify(path: str, geometry_column: str = "geometry",
                  crs=None, encoding: str = "WKB") -> dict:
    """``write.py:14-79``: patch the written dataset so GeoParquet
    readers see it — the reference's 'hack spark parquet' trick,
    re-done with the engine's own pieces: dataset bbox from a narrow
    read-back of the written files (one aggregate), then the ``geo``
    key is spliced into the FOOTER metadata of the part-00000 file via
    pyarrow (read_table -> replace_schema_metadata -> write_table),
    exactly the part the reference patches. Returns the metadata."""
    import json
    import os
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    spark = SparkSession.active()
    written = spark.read.parquet(path).select(geometry_column)
    b = udfs.st_bounds()(_c(geometry_column))
    row = written.select(b.alias("_b")).agg(
        F.min("_b.minx"), F.min("_b.miny"),
        F.max("_b.maxx"), F.max("_b.maxy")).collect()[0]
    geo_metadata = {
        "primary_column": geometry_column,
        "columns": {geometry_column: {
            "crs": crs, "encoding": encoding, "bbox": list(row)}},
        "schema_version": "0.1.0",
        "creator": {"library": "cdap_geo_spark"},
    }
    part0 = None
    for f in sorted(os.listdir(path)):
        if "part-00000" in f and f.endswith(".parquet"):
            part0 = os.path.join(path, f)
            break
    if part0 is None:
        raise FileNotFoundError(f"no part-00000 parquet under {path}")
    table = pq.read_table(part0)
    meta = dict(table.schema.metadata or {})
    meta[b"geo"] = json.dumps(geo_metadata).encode("utf-8")
    # patched footer goes to a NEW filename: the session's shared
    # FileStatusCache keeps the old part-0 length keyed by path, and an
    # in-place rewrite (the reference's approach) makes the very next
    # Spark read seek past a stale EOF. A fresh name misses the cache.
    patched = part0.replace(".parquet", "-geo.parquet")
    pq.write_table(table.replace_schema_metadata(meta), patched)
    os.remove(part0)
    spark.catalog.refreshByPath(path)
    return geo_metadata


def write_geoparquet(sdf: DataFrame, path: str, crs=27700, **kwargs) -> None:
    """``write.py:101-124``: parquet write + :func:`geoparquetify`
    footer patch + a sidecar JSON copy (the sidecar survives
    re-compactions that drop custom footer keys). The bbox is
    aggregated from the WRITTEN files (narrow read-back of the
    geometry column only — never a second job over the source plan,
    which could be expensive or non-deterministic), so the recorded
    metadata always matches the data on disk."""
    import json
    import os
    sdf.write.mode("overwrite").parquet(path)
    meta = geoparquetify(path, crs=crs)
    with open(os.path.join(path, "_geo_metadata.json"), "w") as f:
        json.dump(meta, f)


def ingest(spark, docs: DataFrame, path_out: str,
           bng_resolution: int = 1000, **kwargs) -> DataFrame:
    """``read.py:120-160``: index + spatially cluster + write."""
    from cdap_geo_spark.io import ingest as _ingest
    level = int(np.clip(round(np.log2(C.WORLD_SIZE / bng_resolution)), 0,
                        C.MAX_LEVEL))
    return _ingest(spark, docs, path_out, level=level, **kwargs)


# ---------------------------------------------------------------------------
# driver utilities (cdap_geo/utils.py:35-53,93-111 parity names)
# ---------------------------------------------------------------------------

def get_tree_size(path: str) -> int:
    """Sum of file sizes under a directory tree in bytes
    (``cdap_geo/utils.py:35-42``, the PEP 471 scandir recipe)."""
    import os
    total = 0
    for entry in os.scandir(path):
        if entry.is_dir(follow_symlinks=False):
            total += get_tree_size(entry.path)
        else:
            total += entry.stat(follow_symlinks=False).st_size
    return total


def get_size(path: str) -> int:
    """File or tree size in bytes (``cdap_geo/utils.py:45-53``). The
    reference's Databricks ``dbfs:/`` rewrite is out of scope (no
    proprietary filesystems here); plain paths only."""
    import os
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return get_tree_size(path)
    raise FileNotFoundError(path)


def nowarn(fn):
    """Decorator: suppress warnings for one call
    (``cdap_geo/utils.py:93-100``). Scoped with ``catch_warnings``
    instead of the reference's global simplefilter flip, so it cannot
    clobber a caller's warning configuration."""
    import functools
    import warnings

    @functools.wraps(fn)
    def wrap(*args, **kwargs):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return fn(*args, **kwargs)
    return wrap


def tictoc(fn):
    """Decorator: print the call's wall seconds
    (``cdap_geo/utils.py:103-111``)."""
    import functools
    import time as _time

    @functools.wraps(fn)
    def wrap(*args, **kwargs):
        start = _time.time()
        result = fn(*args, **kwargs)
        print(f"{fn.__name__}:  {_time.time() - start:f}s")
        return result
    return wrap
