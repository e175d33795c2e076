"""NumPy WKB codec: bytes <-> flat CSR geometry batches.

The reference keeps geometry as WKB bytes in a Spark ``BinaryType``
column and decodes per row with shapely (``cdap_geo/utils.py:27-31``).
shapely is unavailable here, and per-row decode is banned by the
engine contract, so this module parses a whole Arrow batch of WKB
blobs into one flat columnar structure (:class:`GeomBatch`) that the
geometry kernels (:mod:`cdap_geo_spark.core.geom`) consume with
vectorized NumPy.

Supported: Point, LineString, Polygon, MultiPoint, MultiLineString,
MultiPolygon, GeometryCollection (flattened); 2D output. Z/M
coordinates are parsed and dropped (the reference normalizes to 2D,
``cdap_geo/sedona.py:44-45``). Both byte orders; both ISO
(type+1000*k) and EWKB (flag bits) Z/M/SRID encodings.

NULL or malformed blobs never raise: they decode as kind
``KIND_NULL`` with zero coordinates and are flagged in
``GeomBatch.valid`` — the reference's null-guard semantics
(``cdap_geo/sedona.py:15-36``: NULL geometry yields an empty result,
not an error).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# Geometry kinds (base WKB type codes).
KIND_NULL = 0
KIND_POINT = 1
KIND_LINESTRING = 2
KIND_POLYGON = 3
KIND_MULTIPOINT = 4
KIND_MULTILINESTRING = 5
KIND_MULTIPOLYGON = 6
KIND_COLLECTION = 7

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000

_POINT_WKB_LEN = 21  # 1 endian + 4 type + 16 coords


@dataclass
class GeomBatch:
    """Columnar batch of n geometries.

    Hierarchy: geometry -> parts -> rings -> coords.

    * a Point is 1 part with 1 ring of 1 coord;
    * a LineString is 1 part with 1 ring (open path);
    * a Polygon is 1 part whose ring 0 is the exterior and rings 1..k
      are holes (WKB ordering);
    * Multi*/collections flatten their members into parts.
    """

    kinds: np.ndarray        # (n,)  uint8 base type of the whole geometry
    valid: np.ndarray        # (n,)  bool: parsed successfully and non-empty
    geom_part_off: np.ndarray  # (n+1,) int64 -> part index
    part_kind: np.ndarray    # (p,)  uint8 base type of each part (1/2/3)
    part_ring_off: np.ndarray  # (p+1,) int64 -> ring index
    ring_coord_off: np.ndarray  # (r+1,) int64 -> coord index
    coords: np.ndarray       # (m,2) float64

    def __len__(self) -> int:
        return len(self.kinds)

    def bounds(self) -> np.ndarray:
        """(n,4) [minx,miny,maxx,maxy]; NaN rows for null/empty."""
        n = len(self)
        out = np.full((n, 4), np.nan)
        first = self.ring_coord_off[self.part_ring_off[self.geom_part_off[:-1]]]
        last = self.ring_coord_off[self.part_ring_off[self.geom_part_off[1:]]]
        has = last > first
        if not has.any():
            return out
        idx = np.flatnonzero(has)
        starts = first[idx]
        # np.minimum.reduceat needs contiguous segments; coords of one
        # geometry are contiguous by construction.
        out[idx, 0] = np.minimum.reduceat(self.coords[:, 0], starts)
        out[idx, 1] = np.minimum.reduceat(self.coords[:, 1], starts)
        out[idx, 2] = np.maximum.reduceat(self.coords[:, 0], starts)
        out[idx, 3] = np.maximum.reduceat(self.coords[:, 1], starts)
        # reduceat(x, [s0, s1, ...]) reduces [s0:s1), [s1:s2) ... [sk:] —
        # segments between our geometries (gaps) never exist because
        # geometries tile the coord array, but empty geometries create
        # zero-length segments where reduceat returns x[s]; mask them.
        out[~has] = np.nan
        return out

    def geometry(self, i: int) -> "GeomBatch":
        """Single-geometry slice (for tests/debug)."""
        return slice_batch(self, np.array([i]))


def _empty_batch(n: int) -> GeomBatch:
    return GeomBatch(
        kinds=np.zeros(n, np.uint8),
        valid=np.zeros(n, bool),
        geom_part_off=np.zeros(n + 1, np.int64),
        part_kind=np.zeros(0, np.uint8),
        part_ring_off=np.zeros(1, np.int64),
        ring_coord_off=np.zeros(1, np.int64),
        coords=np.zeros((0, 2)),
    )


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def u32(self, little: bool) -> int:
        v = int.from_bytes(self.buf[self.pos:self.pos + 4],
                           "little" if little else "big")
        self.pos += 4
        return v

    def doubles(self, count: int, little: bool) -> np.ndarray:
        nbytes = count * 8
        arr = np.frombuffer(self.buf, dtype="<f8" if little else ">f8",
                            count=count, offset=self.pos)
        self.pos += nbytes
        return arr.astype(np.float64, copy=False)


def _parse_one(r: _Reader, parts_kind: list, rings_len: list,
               coords_chunks: list, parts_rings: list) -> int:
    """Parse one geometry (recursing into multis), appending flat parts.

    Returns the base kind of this geometry. Raises on malformed input.
    """
    little = r.u8() == 1
    raw_type = r.u32(little)
    if raw_type & _EWKB_SRID:
        r.u32(little)  # skip SRID
    zflag = bool(raw_type & _EWKB_Z)
    mflag = bool(raw_type & _EWKB_M)
    base = raw_type & 0x0FFFFFFF
    iso_dims = base // 1000  # 1=Z, 2=M, 3=ZM (ISO encoding)
    base = base % 1000
    ndims = 2 + int(zflag) + int(mflag)
    if iso_dims == 1 or iso_dims == 2:
        ndims += 1
    elif iso_dims == 3:
        ndims += 2
    if base == KIND_POINT:
        c = r.doubles(ndims, little)[:2]
        if np.isnan(c).any():
            # POINT EMPTY is encoded as NaN coords: an empty part.
            parts_kind.append(KIND_POINT)
            parts_rings.append(0)
        else:
            parts_kind.append(KIND_POINT)
            parts_rings.append(1)
            rings_len.append(1)
            coords_chunks.append(c.reshape(1, 2))
    elif base == KIND_LINESTRING:
        npts = r.u32(little)
        c = r.doubles(npts * ndims, little).reshape(npts, ndims)[:, :2]
        parts_kind.append(KIND_LINESTRING)
        parts_rings.append(1 if npts else 0)
        if npts:
            rings_len.append(npts)
            coords_chunks.append(np.ascontiguousarray(c))
    elif base == KIND_POLYGON:
        nrings = r.u32(little)
        parts_kind.append(KIND_POLYGON)
        parts_rings.append(nrings)
        for _ in range(nrings):
            npts = r.u32(little)
            c = r.doubles(npts * ndims, little).reshape(npts, ndims)[:, :2]
            rings_len.append(npts)
            coords_chunks.append(np.ascontiguousarray(c))
    elif base in (KIND_MULTIPOINT, KIND_MULTILINESTRING,
                  KIND_MULTIPOLYGON, KIND_COLLECTION):
        nparts = r.u32(little)
        for _ in range(nparts):
            _parse_one(r, parts_kind, rings_len, coords_chunks, parts_rings)
    else:
        raise ValueError(f"unsupported WKB type {raw_type}")
    return base


def parse_wkb(blobs) -> GeomBatch:
    """Parse a column of WKB blobs into a GeomBatch.

    ``blobs`` is a pyarrow ``binary`` or ``large_binary`` array (a
    ``ChunkedArray`` is combined first), or any sequence of bytes-like
    values and None, converted once with ``pa.array(blobs,
    pa.binary())``. Rows are classified with NumPy over the array's
    validity bitmap, offsets and the first 13 bytes of each blob:
    2D little-endian Points (the dominant case for document
    geo-spans) and single-ring LE Polygons (boxes, tiles, regions —
    the dominant right side of every join) take their coordinates
    straight from the data buffer, with no per-row Python. Only the
    remaining rows go through the general recursive parser; mixed
    batches are stitched back into row order.
    """
    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    arr = (blobs if isinstance(blobs, pa.Array)
           else pa.array(blobs, pa.binary()))
    n = len(arr)
    if n == 0:
        return _empty_batch(0)
    validity, offsets, data = arr.buffers()
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(offsets, otype, count=n + 1,
                        offset=arr.offset * np.dtype(otype).itemsize)
    start = off[:-1].astype(np.int64)
    length = np.diff(off).astype(np.int64)
    if validity is not None:
        bits = np.unpackbits(np.frombuffer(validity, np.uint8),
                             bitorder="little")
        length[~bits[arr.offset:arr.offset + n].astype(bool)] = 0
    data = np.frombuffer(data or b"", np.uint8)

    # the first 13 bytes: endian, u32 type, u32 ring count, u32 points
    rows = np.flatnonzero(length >= 13)
    hdr = data[start[rows, None] + np.arange(13)]
    body = length[rows] - 13
    le2d = (hdr[:, 0] == 1) & ~hdr[:, 2:5].any(axis=1)
    npts = hdr[:, 9:13].copy().view("<u4")[:, 0].astype(np.int64)
    pt_mask = np.zeros(n, bool)
    pt_mask[rows] = le2d & (hdr[:, 1] == 1) & (body == _POINT_WKB_LEN - 13)
    sr_mask = np.zeros(n, bool)
    sr_mask[rows] = (le2d & (hdr[:, 1] == 3) & (hdr[:, 5] == 1)
                     & ~hdr[:, 6:9].any(axis=1) & (body >= 4 * 16)
                     & (body % 16 == 0) & (npts == body // 16))

    pieces: list = []   # (row indices, parsed batch)
    if pt_mask.any():
        idx = np.flatnonzero(pt_mask)
        pieces.append((idx, _single_rings(
            KIND_POINT, _coords(data, start[idx] + 5,
                                start[idx] + _POINT_WKB_LEN),
            np.ones(len(idx), np.int64))))
    if sr_mask.any():
        idx = np.flatnonzero(sr_mask)
        pieces.append((idx, _single_rings(
            KIND_POLYGON,
            _coords(data, start[idx] + 13, start[idx] + length[idx]),
            (length[idx] - 13) // 16)))
    gen_idx = np.flatnonzero(~pt_mask & ~sr_mask)
    if len(gen_idx):
        buf = data.tobytes()   # a null row is b"": invalid, as None
        pieces.append((gen_idx, _parse_general([
            buf[i:i + k] for i, k in zip(start[gen_idx].tolist(),
                                         length[gen_idx].tolist())])))
    if len(pieces) == 1:
        return pieces[0][1]
    combined = pieces[0][1]
    for _, b in pieces[1:]:
        combined = concat_batches(combined, b)
    perm = np.empty(n, np.int64)
    base = 0
    for idx, b in pieces:
        perm[idx] = base + np.arange(len(idx))
        base += len(b.kinds)
    return slice_batch(combined, perm)


def _coords(data: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """(m,2) float64 of the LE doubles in the byte ranges ``[lo, hi)``
    of ``data``, range after range, gathered per double (not per byte)
    from one shifted view of ``data`` per 8-byte alignment."""
    dst = np.zeros(len(lo) + 1, np.int64)
    np.cumsum((hi - lo) // 8, out=dst[1:])
    out = np.empty(dst[-1])
    shift = lo % 8
    for s in np.unique(shift):
        rows = np.flatnonzero(shift == s)
        view = np.frombuffer(data, "<f8", (len(data) - s) // 8, s)
        out[_expand_ranges(dst[rows], dst[rows + 1])] = view[_expand_ranges(
            (lo[rows] - s) // 8, (hi[rows] - s) // 8)]
    return out.reshape(-1, 2)


def _single_rings(kind: int, coords: np.ndarray, npts) -> GeomBatch:
    """One part of one ring per row, ring ``i`` the next ``npts[i]``
    coords; a NaN point is invalid."""
    n = len(npts)
    ring_coord_off = np.zeros(n + 1, np.int64)
    np.cumsum(npts, out=ring_coord_off[1:])
    return GeomBatch(
        kinds=np.full(n, kind, np.uint8),
        valid=(~np.isnan(coords).any(axis=1) if kind == KIND_POINT
               else np.ones(n, bool)),
        geom_part_off=np.arange(n + 1, dtype=np.int64),
        part_kind=np.full(n, kind, np.uint8),
        part_ring_off=np.arange(n + 1, dtype=np.int64),
        ring_coord_off=ring_coord_off,
        coords=coords,
    )


def _parse_general(blobs) -> GeomBatch:
    n = len(blobs)
    kinds = np.zeros(n, np.uint8)
    valid = np.zeros(n, bool)
    geom_nparts = np.zeros(n, np.int64)
    parts_kind: list = []
    parts_rings: list = []
    rings_len: list = []
    coords_chunks: list = []
    for i, blob in enumerate(blobs):
        if blob is None or len(blob) < 5:
            continue
        if isinstance(blob, (bytearray, memoryview)):
            blob = bytes(blob)
        p0, r0, c0 = len(parts_kind), len(rings_len), len(coords_chunks)
        try:
            base = _parse_one(_Reader(blob), parts_kind, rings_len,
                              coords_chunks, parts_rings)
        except Exception:
            # malformed blob: roll back partial appends, leave row invalid
            del parts_kind[p0:]
            del parts_rings[p0:]
            del rings_len[r0:]
            del coords_chunks[c0:]
            continue
        kinds[i] = base
        geom_nparts[i] = len(parts_kind) - p0
        valid[i] = any(parts_rings[p0:])
    part_kind = np.asarray(parts_kind, np.uint8) if parts_kind else np.zeros(0, np.uint8)
    part_ring_off = np.zeros(len(parts_kind) + 1, np.int64)
    if parts_rings:
        np.cumsum(parts_rings, out=part_ring_off[1:])
    ring_coord_off = np.zeros(len(rings_len) + 1, np.int64)
    if rings_len:
        np.cumsum(rings_len, out=ring_coord_off[1:])
    coords = (np.concatenate(coords_chunks) if coords_chunks
              else np.zeros((0, 2)))
    geom_part_off = np.zeros(n + 1, np.int64)
    np.cumsum(geom_nparts, out=geom_part_off[1:])
    return GeomBatch(kinds, valid, geom_part_off, part_kind,
                     part_ring_off, ring_coord_off, coords)


def concat_batches(a: GeomBatch, b: GeomBatch) -> GeomBatch:
    """Stack two batches (a's geometries first)."""
    return GeomBatch(
        kinds=np.concatenate([a.kinds, b.kinds]),
        valid=np.concatenate([a.valid, b.valid]),
        geom_part_off=np.concatenate(
            [a.geom_part_off, a.geom_part_off[-1] + b.geom_part_off[1:]]),
        part_kind=np.concatenate([a.part_kind, b.part_kind]),
        part_ring_off=np.concatenate(
            [a.part_ring_off, a.part_ring_off[-1] + b.part_ring_off[1:]]),
        ring_coord_off=np.concatenate(
            [a.ring_coord_off, a.ring_coord_off[-1] + b.ring_coord_off[1:]]),
        coords=np.concatenate([a.coords, b.coords]),
    )


def slice_batch(batch: GeomBatch, idx: np.ndarray) -> GeomBatch:
    """Gather geometries ``idx`` into a new compact batch."""
    idx = np.asarray(idx, np.int64)
    nparts = batch.geom_part_off[idx + 1] - batch.geom_part_off[idx]
    geom_part_off = np.zeros(len(idx) + 1, np.int64)
    np.cumsum(nparts, out=geom_part_off[1:])
    part_idx = _expand_ranges(batch.geom_part_off[idx],
                              batch.geom_part_off[idx + 1])
    nrings = batch.part_ring_off[part_idx + 1] - batch.part_ring_off[part_idx]
    part_ring_off = np.zeros(len(part_idx) + 1, np.int64)
    np.cumsum(nrings, out=part_ring_off[1:])
    ring_idx = _expand_ranges(batch.part_ring_off[part_idx],
                              batch.part_ring_off[part_idx + 1])
    ncoords = batch.ring_coord_off[ring_idx + 1] - batch.ring_coord_off[ring_idx]
    ring_coord_off = np.zeros(len(ring_idx) + 1, np.int64)
    np.cumsum(ncoords, out=ring_coord_off[1:])
    coord_idx = _expand_ranges(batch.ring_coord_off[ring_idx],
                               batch.ring_coord_off[ring_idx + 1])
    return GeomBatch(
        kinds=batch.kinds[idx],
        valid=batch.valid[idx],
        geom_part_off=geom_part_off,
        part_kind=batch.part_kind[part_idx],
        part_ring_off=part_ring_off,
        ring_coord_off=ring_coord_off,
        coords=batch.coords[coord_idx],
    )


def _expand_ranges(starts: np.ndarray, stops: np.ndarray) -> np.ndarray:
    """Vectorized concatenation of arange(start, stop) per element.

    Difference trick: build a delta array that is +1 everywhere except
    at each segment start, where it jumps from the previous segment's
    last value to this segment's start; cumsum yields the result.
    """
    starts = np.asarray(starts, np.int64)
    lens = np.asarray(stops, np.int64) - starts
    keep = lens > 0
    s, l = starts[keep], lens[keep]
    total = int(l.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    delta = np.ones(total, np.int64)
    pos = np.concatenate(([0], np.cumsum(l)[:-1]))
    prev_last = np.concatenate(([0], (s + l - 1)[:-1]))
    delta[pos] = s - prev_last
    delta[0] = s[0]
    return np.cumsum(delta)


# ---------------------------------------------------------------------------
# Emitters
# ---------------------------------------------------------------------------

def points_to_wkb(x: np.ndarray, y: np.ndarray) -> list:
    """Vectorized (n,) -> list of 21-byte little-endian WKB Points."""
    n = len(x)
    out = np.zeros((n, _POINT_WKB_LEN), np.uint8)
    out[:, 0] = 1
    out[:, 1] = 1
    cc = np.empty((n, 2), "<f8")
    cc[:, 0] = x
    cc[:, 1] = y
    out[:, 5:] = cc.view(np.uint8).reshape(n, 16)
    flat = out.tobytes()
    return [flat[i * _POINT_WKB_LEN:(i + 1) * _POINT_WKB_LEN] for i in range(n)]


def boxes_to_wkb(minx, miny, maxx, maxy) -> list:
    """Vectorized axis-aligned boxes -> closed CCW 5-point WKB Polygons."""
    n = len(minx)
    # header: endian(1) type(3) nrings(1) npts(5) = 1+4+4+4 = 13 bytes, then 5*16
    out = np.zeros((n, 93), np.uint8)
    out[:, 0] = 1
    out[:, 1] = 3
    out[:, 5] = 1
    out[:, 9] = 5
    ring = np.empty((n, 10), "<f8")
    ring[:, 0], ring[:, 1] = minx, miny
    ring[:, 2], ring[:, 3] = maxx, miny
    ring[:, 4], ring[:, 5] = maxx, maxy
    ring[:, 6], ring[:, 7] = minx, maxy
    ring[:, 8], ring[:, 9] = minx, miny
    out[:, 13:] = ring.view(np.uint8).reshape(n, 80)
    flat = out.tobytes()
    return [flat[i * 93:(i + 1) * 93] for i in range(n)]


def boxes_batch(minx, miny, maxx, maxy) -> GeomBatch:
    """Axis-aligned boxes straight to a :class:`GeomBatch` — the batch
    ``parse_wkb(boxes_to_wkb(...))`` returns, without the bytes."""
    n = len(minx)
    ring = np.empty((n, 5, 2))
    ring[:, [0, 3, 4], 0] = np.asarray(minx, np.float64)[:, None]
    ring[:, [1, 2], 0] = np.asarray(maxx, np.float64)[:, None]
    ring[:, [0, 1, 4], 1] = np.asarray(miny, np.float64)[:, None]
    ring[:, [2, 3], 1] = np.asarray(maxy, np.float64)[:, None]
    return _single_rings(KIND_POLYGON, ring.reshape(n * 5, 2),
                         np.full(n, 5, np.int64))


def polygon_to_wkb(rings) -> bytes:
    """One polygon from [exterior, hole, ...] coordinate arrays."""
    buf = bytearray()
    buf += struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        ring = np.asarray(ring, np.float64)
        buf += struct.pack("<I", len(ring))
        buf += np.ascontiguousarray(ring, "<f8").tobytes()
    return bytes(buf)


def linestring_to_wkb(coordseq) -> bytes:
    coordseq = np.asarray(coordseq, np.float64)
    return struct.pack("<BII", 1, 2, len(coordseq)) + \
        np.ascontiguousarray(coordseq, "<f8").tobytes()


def multi_to_wkb(kind: int, member_blobs) -> bytes:
    return struct.pack("<BII", 1, kind, len(member_blobs)) + b"".join(member_blobs)


def point_to_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)
